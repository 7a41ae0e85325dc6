package graft.text

import java.text.Normalizer
import java.util.regex.Pattern

/** String/scalar text functions mirroring the reference semantics
  * (utils.py:243-297, filters.py:117-128). These run in the per-row kernel
  * hot path — no Spark types here. */
object TextUtils {

  /** Python str whitespace (str.split / str.strip / str.isspace): the Unicode
    * White_Space property plus separators. Java's Character.isWhitespace
    * deliberately excludes the non-breaking spaces (U+00A0, U+2007, U+202F)
    * and U+0085, which Python includes. */
  def isPyWhitespace(c: Char): Boolean =
    // ASCII answered inline (\t..\r, \u001c..\u001f, ' '): this runs per char
    if (c <= ' ') c == ' ' || (c >= '\t' && c <= '\r') || c >= '\u001c'
    else c >= 0x80 &&
      (Character.isWhitespace(c) || c == '\u00a0' || c == '\u0085' || c == '\u2007' || c == '\u202f')

  def isAllWhitespace(s: String): Boolean = {
    if (s == null || s.isEmpty) return false // Python ''.isspace() is False
    var i = 0
    while (i < s.length) { if (!isPyWhitespace(s.charAt(i))) return false; i += 1 }
    true
  }

  /** `trim` (utils.py:282-291): `' '.join(s.split()).strip()` — collapse every
    * whitespace run to a single space and strip ends. Returns null for null. */
  def trim(s: String): String = {
    if (s == null) return null
    // fast path: already collapsed (no leading/trailing/double space, no
    // non-space py-whitespace) — returns the input without allocating;
    // trim runs per text node/handler call, so this is hot (allocation profile)
    val n0 = s.length
    var fast = true
    var prevSpace = true // position -1 counts as space => leading space fails
    var j = 0
    while (fast && j < n0) {
      val c = s.charAt(j)
      if (c == ' ') { if (prevSpace) fast = false; prevSpace = true }
      else if (isPyWhitespace(c)) fast = false
      else prevSpace = false
      j += 1
    }
    if (fast && !prevSpace) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var pendingSpace = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (isPyWhitespace(c)) { if (sb.length() > 0) pendingSpace = true }
      else { if (pendingSpace) { sb.append(' '); pendingSpace = false }; sb.append(c) }
      i += 1
    }
    sb.toString
  }

  /** Python str.isprintable(): true unless category is Cc/Cf/Cs/Co/Cn/Zl/Zp/Zs
    * (with U+0020 printable). */
  def isPyPrintable(c: Char): Boolean = {
    if (c == ' ') return true
    Character.getType(c) match {
      case Character.CONTROL | Character.FORMAT | Character.SURROGATE |
          Character.PRIVATE_USE | Character.UNASSIGNED | Character.LINE_SEPARATOR |
          Character.PARAGRAPH_SEPARATOR | Character.SPACE_SEPARATOR => false
      case _ => true
    }
  }

  /** Python str.isprintable() over a full code point — Python iterates code
    * points, so astral chars (emoji, category So) are printable; a per-Char
    * walk would misclassify their surrogate halves as non-printable. */
  def isPyPrintableCp(cp: Int): Boolean = {
    if (cp == ' ') return true
    Character.getType(cp) match {
      case Character.CONTROL | Character.FORMAT | Character.SURROGATE |
          Character.PRIVATE_USE | Character.UNASSIGNED | Character.LINE_SEPARATOR |
          Character.PARAGRAPH_SEPARATOR | Character.SPACE_SEPARATOR => false
      case _ => true
    }
  }

  /** `remove_control_characters` (utils.py:243-251): keep printable or space. */
  def removeControlCharacters(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val n = Character.charCount(cp)
      if (isPyPrintableCp(cp) || (n == 1 && isPyWhitespace(s.charAt(i)))) sb.appendCodePoint(cp)
      i += n
    }
    sb.toString
  }

  /** LINES_TRIMMING (utils.py:46): stdlib-`re` quirk — the class is the
    * literal characters p { P } >, not \p{P}. Replace any \n not preceded by
    * one of them with a space. */
  private val LinesTrimming = Pattern.compile("(?<![p{P}>])\\n")

  /** `line_processing` (utils.py:259-271). Returns null for lines that are
    * empty after cleaning. */
  def lineProcessing(lineIn: String): String = {
    var line = lineIn
      .replace("&#13;", "\r").replace("&#10;", "\n").replace("&nbsp;", " ")
    line = trim(removeControlCharacters(Re.m(LinesTrimming, line).replaceAll(" ")))
    if (line.isEmpty || line.forall(isPyWhitespace)) null else line
  }

  /** `sanitize` (utils.py:274-279). */
  def sanitize(text: String): String = {
    if (text == null) return null
    splitLines(text).iterator.map(lineProcessing).filter(_ != null).mkString("\n")
  }

  /** Python str.splitlines() boundaries. */
  def splitLines(s: String): List[String] = {
    // fast path: no line-break characters (the common case for element
    // text) — one cons cell instead of builder + copies
    var fi = 0
    var hasBreak = false
    while (!hasBreak && fi < s.length) {
      val c = s.charAt(fi)
      if (c == '\n' || c == '\r' || c == '\u000b' || c == '\u000c' ||
        c == '\u001c' || c == '\u001d' || c == '\u001e' || c == '\u0085' ||
        c == '\u2028' || c == '\u2029') hasBreak = true
      fi += 1
    }
    if (!hasBreak) return s :: Nil
    val out = scala.collection.mutable.ListBuffer.empty[String]
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val isBreak = c == '\n' || c == '\r' || c == '\u000b' || c == '\u000c' ||
        c == '\u001c' || c == '\u001d' || c == '\u001e' || c == '\u0085' ||
        c == '\u2028' || c == '\u2029'
      if (isBreak) {
        out += sb.toString; sb.setLength(0)
        if (c == '\r' && i + 1 < s.length && s.charAt(i + 1) == '\n') i += 1
      } else sb.append(c)
      i += 1
    }
    if (sb.length() > 0) out += sb.toString
    out.toList
  }

  /** `normalize_unicode` (utils.py:254-256): NFC. */
  def normalizeUnicode(s: String): String = Normalizer.normalize(s, Normalizer.Form.NFC)

  /** `text_chars_test` (filters.py:124-128). */
  def textCharsTest(s: String): Boolean = s != null && s.nonEmpty && !isAllWhitespace(s)

  /** RE_FILTER (filters.py:27-30), applied with re.match per line. */
  private val ReFilter = Pattern.compile(
    "\\W*(Drucken|E-?Mail|Facebook|Flipboard|Google|Instagram|" +
      "Linkedin|Mail|PDF|Pinterest|Pocket|Print|QQ|Reddit|Twitter|" +
      "WeChat|WeiBo|Whatsapp|Xing|Mehr zum Thema:?|More on this.{0,8}$)$",
    Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CHARACTER_CLASS)

  /** `textfilter` over a raw string (filters.py:117-121 applies it to the
    * element's text-or-tail). Python re.match anchors at the start only; the
    * pattern's trailing $ anchors the end, so lookingAt() reproduces it. */
  def textFilterString(testtext: String): Boolean = {
    if (!textCharsTest(testtext)) return true
    splitLines(testtext).exists(l => Re.m(ReFilter, l).lookingAt())
  }

  /** IMAGE_EXTENSION (utils.py:51). */
  private val ImageExtension = Pattern.compile("[^\\s]+\\.(avif|bmp|gif|hei[cf]|jpe?g|png|webp)(\\b|$)")
  def isImageFile(src: String): Boolean = src != null && Re.m(ImageExtension, src).find()

  /** `uniquify_list` (utils.py:353-360). */
  def uniquify[T](l: Seq[T]): List[T] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[T]
    l.foreach(seen += _)
    seen.toList
  }

  /** DOCTYPE repair (utils.py:160-171). */
  private val DoctypeTag = Pattern.compile("(?i)^< ?! ?DOCTYPE.+?/ ?>")
  def stripFaultyDoctypes(htmlstring: String, beginning: String): String = {
    if (beginning.contains("doctype")) {
      val nl = htmlstring.indexOf('\n')
      val (firstline, rest) =
        if (nl >= 0) (htmlstring.substring(0, nl), htmlstring.substring(nl + 1))
        else (htmlstring, "")
      DoctypeTag.matcher(firstline).replaceFirst("") + "\n" + rest
    } else htmlstring
  }

  def isDubiousHtml(beginning: String): Boolean = !beginning.contains("html")

  /** difflib SequenceMatcher.ratio(): 2*M/T over recursive longest matching
    * blocks (no junk heuristic — inputs are short domain strings). */
  def sequenceMatcherRatio(a: String, b: String): Double = {
    def longestMatch(alo: Int, ahi: Int, blo: Int, bhi: Int): (Int, Int, Int) = {
      var best = (alo, blo, 0)
      var j2len = Map.empty[Int, Int]
      var i = alo
      while (i < ahi) {
        var newJ2len = Map.empty[Int, Int]
        var j = blo
        while (j < bhi) {
          if (a.charAt(i) == b.charAt(j)) {
            val k = j2len.getOrElse(j - 1, 0) + 1
            newJ2len += (j -> k)
            if (k > best._3) best = (i - k + 1, j - k + 1, k)
          }
          j += 1
        }
        j2len = newJ2len
        i += 1
      }
      best
    }
    def matches(alo: Int, ahi: Int, blo: Int, bhi: Int): Int = {
      val (i, j, k) = longestMatch(alo, ahi, blo, bhi)
      if (k == 0) 0
      else k + matches(alo, i, blo, j) + matches(i + k, ahi, j + k, bhi)
    }
    val total = a.length + b.length
    if (total == 0) 1.0
    else 2.0 * matches(0, a.length, 0, b.length) / total
  }

  private val StripExtension = Pattern.compile("\\.[^/?#]{2,63}$")

  /** is_similar_domain (utils.py:363-371). */
  def isSimilarDomain(reference: String, newString: String, threshold: Double = 0.5): Boolean = {
    if (newString != reference) {
      val r = StripExtension.matcher(reference).replaceFirst("")
      val n = StripExtension.matcher(newString).replaceFirst("")
      if (sequenceMatcherRatio(r, n) < threshold) return false
    }
    true
  }
}

/** Thread-local reusable regex matchers: `Pattern.matcher` allocates a
  * Matcher + groups int[] per call, which JFR showed as the single largest
  * allocation site in the metadata/text paths (the kernel is memory-
  * bandwidth-bound at wide parallelism, so per-doc allocation is the scaling
  * currency). `Matcher.reset(input)` reuses the arrays; tasks are
  * single-threaded, and every use here completes before the pattern's next
  * use, so one matcher per (thread, pattern) is safe. */
object Re {
  /** CALL-SITE INVARIANT: the returned Matcher is the thread's ONE shared
    * matcher for `p` — it must not be held across another `Re.m(p, _)` on
    * the same pattern (e.g. calling a helper that also matches `p` from
    * inside a `while (m.find())` loop): the nested reset would silently
    * corrupt the outer iteration. All current call sites complete each
    * matcher before the pattern's next use. To audit a new call site, run
    * with `-Dgraft.re.fresh=true` (every call gets a fresh Matcher — any
    * behavior difference vs the default pinpoints a violated invariant). */
  private val fresh = java.lang.Boolean.getBoolean("graft.re.fresh")
  private val tl: ThreadLocal[java.util.IdentityHashMap[Pattern, java.util.regex.Matcher]] =
    ThreadLocal.withInitial(() => new java.util.IdentityHashMap[Pattern, java.util.regex.Matcher]())
  def m(p: Pattern, s: CharSequence): java.util.regex.Matcher = {
    if (fresh) return p.matcher(s)
    val map = tl.get()
    var mm = map.get(p)
    if (mm == null) { mm = p.matcher(""); map.put(p, mm) }
    mm.reset(s)
  }
}
