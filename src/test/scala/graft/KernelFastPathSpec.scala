package graft

import graft.dom.{Dom, Node}
import graft.extract.{AsciiWords, Extraction, ExtractorOptions, Readability, TextRun}
import graft.meta.JsonLd
import graft.parse.HtmlParser
import graft.select.Selectors
import graft.text.TextUtils
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.util.regex.{Matcher, Pattern}

/** Differential tests for the kernel's hand-written fast paths: each must
  * agree with the general form it replaced (a regex, an allocating
  * translate, a per-char close-tag scan, a linear attribute scan) on inputs
  * chosen to hit the corner cases: upper case, '-', and the Unicode letters
  * that case-fold onto ASCII (U+212A KELVIN SIGN, U+017F LONG S, U+0130 and
  * U+0131, the dotted and dotless I). */
class KernelFastPathSpec extends AnyFunSuite {

  private val Tricky = Seq('\u212a', '\u017f', '\u0130', '\u0131', '-', ' ', '_')

  /** Seeded class/id-like strings: fragments of the given words in random
    * case, with tricky letters swapped in and random glue around them. */
  private def corpus(words: Seq[String], seed: Long, n: Int): Seq[String] = {
    val rnd = new java.util.Random(seed)
    def mangle(w: String): String = w.map { c =>
      rnd.nextInt(10) match {
        case 0 => c.toUpper
        case 1 if c == 'k' => '\u212a'
        case 1 if c == 's' => '\u017f'
        case 1 if c == 'i' => if (rnd.nextBoolean()) '\u0130' else '\u0131'
        case 2 => Tricky(rnd.nextInt(Tricky.length))
        case _ => c
      }
    }
    Seq.fill(n) {
      val sb = new StringBuilder
      (0 until 1 + rnd.nextInt(3)).foreach { _ =>
        val w = words(rnd.nextInt(words.length))
        val from = rnd.nextInt(3).min(w.length - 1)
        sb ++= mangle(w.substring(from, w.length - rnd.nextInt(2)))
        sb += Tricky(rnd.nextInt(Tricky.length))
        if (rnd.nextInt(4) == 0) sb ++= "Xy9"
      }
      sb.toString
    }
  }

  // the readability fork's regexes, as the kernel compiled them before
  private val Regexes = Seq(
    Readability.UnlikelyCandidates -> "combx|comment|community|disqus|extra|foot|header|menu|remark|rss|shoutbox|sidebar|sponsor|ad-break|agegate|pagination|pager|popup|tweet|twitter",
    Readability.OkMaybeCandidate -> "and|article|body|column|main|shadow",
    Readability.PositiveWords -> "article|body|content|entry|hentry|main|page|pagination|post|text|blog|story",
    Readability.NegativeWords -> "combx|comment|com-|contact|foot|footer|footnote|masthead|media|meta|outbrain|promo|related|scroll|shoutbox|sidebar|sponsor|shopping|tags|tool|widget")

  test("readability word lists find exactly what their (?i) regexes find") {
    Regexes.zipWithIndex.foreach { case ((words, alternation), k) =>
      val regex = Pattern.compile("(?i)" + alternation)
      val inputs = corpus(alternation.split('|').toSeq, 100 + k, 4000) ++
        Seq("", "K", "\u212aOMBX", "comment", "COMMENT", "Co\u017fmment", "\u017fidebar", "SIDEBAR",
          "ma\u0130n", "ma\u0131n", "MAIN", "com-", "COM-", "ad-Break", "Disqus_thread")
      var hits = 0
      inputs.foreach { s =>
        val want = regex.matcher(s).find()
        assert(words.in(AsciiWords.lower(s)) == want, s"'$s' against $alternation")
        if (want) hits += 1
      }
      // the corpus exercises both outcomes
      assert(hits > inputs.length / 10 && hits < inputs.length * 9 / 10, s"$hits of ${inputs.length}")
    }
  }

  test("translate-and-contains equals building the translated string") {
    val rnd = new java.util.Random(5)
    val alphabet = "abBcCfFmMnNrRtT-_ \u212a\u0130"
    def str(n: Int) = Seq.fill(n)(alphabet.charAt(rnd.nextInt(alphabet.length))).mkString
    // (from, to) pairs used by the rules, plus a deleting one
    val maps = Seq(("B", "b"), ("CM", "cm"), ("FULTEX", "fultex"), ("N", "n"), ("AB", "a"))
    (0 until 5000).foreach { _ =>
      val (from, to) = maps(rnd.nextInt(maps.length))
      val v = str(rnd.nextInt(12))
      val s = str(rnd.nextInt(4))
      val n = Dom.elem("div")
      n.set("class", v)
      val t = Selectors.translate(v, from, to)
      assert(Selectors.acT(n, "class", from, to, s) == t.contains(s), s"contains '$v' '$s' $from->$to")
      assert(Selectors.aswT(n, "class", from, to, s) == t.startsWith(s), s"startsWith '$v' '$s' $from->$to")
    }
    assert(!Selectors.acT(Dom.elem("div"), "class", "B", "b", ""))
  }

  /** The raw-text close-tag scan the parser used before: lower-case every
    * char from `from` on and compare with "</name". */
  private def oldIndexOfCloseTag(s: String, from: Int, name: String): Int = {
    val target = "</" + name
    var i = from
    while (i + target.length <= s.length) {
      if (target.indices.forall(k => Character.toLowerCase(s.charAt(i + k)) == target.charAt(k))) {
        val after = i + target.length
        if (after >= s.length || s.charAt(after) == '>' || TextUtils.isPyWhitespace(s.charAt(after)))
          return i
      }
      i += 1
    }
    s.length
  }

  private def scriptText(html: String): String = {
    val script = HtmlParser.parseDocument(html).iterList(Set("script")).head
    script.text
  }

  test("script bodies end at the same close tag as a per-char scan") {
    assert(scriptText("<script>a</SCRIPT >b") == "a")
    assert(scriptText("<script>a</ScRiPt\n>b") == "a")
    assert(scriptText("<script>x</scriptx>y</script>") == "x</scriptx>y")
    assert(scriptText("<script>if (a<b) { c }") == "if (a<b) { c }")
    assert(scriptText("<script>a</scr\u0130pt>b") == "a") // U+0130 lower-cases to 'i'
    val rnd = new java.util.Random(9)
    val pieces = Seq("<", "</", "</s", "</script", "</SCRIPT", "</scr\u0130pt", "</scriptx", " ", ">", "\n",
      "x", "<<", "\u212a", "</script>", "</style>")
    (0 until 3000).foreach { _ =>
      val body = Seq.fill(rnd.nextInt(8))(pieces(rnd.nextInt(pieces.length))).mkString
      val prefix = "<html><body><script>"
      val html = prefix + body
      val start = prefix.length
      val end = oldIndexOfCloseTag(html, start, "script")
      val want = html.substring(start, end)
      assert(scriptText(html) == (if (want.isEmpty) null else want), s"body '$body'")
    }
  }

  test("tag and attribute names: ASCII folds to lower case, other letters stay distinct") {
    val root = HtmlParser.parseDocument(
      "<html><body><D\u0130V ID=a>1</D\u0130V><d\u0131v Class=b>2</d\u0131v><DIV data-X=c>3</DIV><Figcaption>4</FIGCAPTION></body></html>")
    val tags = root.iterList(null).map(_.tag)
    assert(tags == List("html", "body", "di\u0307v", "d\u0131v", "div", "figcaption"))
    val body = root.children.last
    assert(body.children.map(_.text) == Seq("1", "2", "3", "4"))
    assert(body.children(0).get("id") == "a" && body.children(1).get("class") == "b")
    assert(body.children(2).attrs.keysList == List("data-x"))
    // an attribute name with non-ASCII letters keeps them
    val n = HtmlParser.parseDocument("<html><body><p t\u0130tle=x t\u0131tle=y TITLE=z>q</p></body></html>")
      .iterList(Set("p")).head
    assert(n.attrs.keysList == List("ti\u0307tle", "t\u0131tle", "title"))
    // every common name, in any case, parses to its lower-case form
    val rnd = new java.util.Random(3)
    Seq("a", "br", "div", "span", "script", "blockquote", "figcaption", "datetime", "itemprop", "tbody",
      "section", "xyzzy", "data-foo", "h6").foreach { name =>
      val mixed = name.map(c => if (rnd.nextBoolean()) c.toUpper else c)
      val t = HtmlParser.parseDocument(s"<html><body><$mixed $mixed=1>t</$mixed></body></html>")
        .children.last.children.head
      assert(t.tag == name && t.attrs.keysList == List(name), mixed)
    }
  }

  test("class and id lookups follow set, remove and deepCopy") {
    val n = Dom.elem("div")
    assert(n.get("class") == null && n.get("id") == null)
    n.set("title", "t")
    n.set("class", "a")
    n.set("id", "x")
    assert(n.get("class") == "a" && n.get("id") == "x")
    n.set("class", "b")
    assert(n.get("class") == "b" && n.attrs.keysList == List("title", "class", "id"))
    n.setIfAbsent("class", "c")
    n.setIfAbsent("rel", "r")
    assert(n.get("class") == "b" && n.get("rel") == "r")
    val copy = n.deepCopy
    n.attrs.remove("class")
    assert(n.get("class") == null && !n.has("class") && n.get("id") == "x")
    assert(copy.get("class") == "b" && copy.get("id") == "x")
    copy.set("id", "y")
    assert(n.get("id") == "x" && copy.get("id") == "y")
    copy.attrs.remove("id")
    assert(copy.get("id") == null && copy.get("class") == "b")
    // a key equal to "class" but not the same String instance
    val key = new String("class".toCharArray)
    copy.set(key, "k")
    assert(copy.get("class") == "k" && copy.get(key) == "k" && copy.attrs.keysList == List("title", "class", "rel"))
    n.clearAttrs()
    assert(n.get("id") == null && n.get("title") == null)
  }

  test("isPyWhitespace answers ASCII inline exactly as the general test does") {
    (0 to 0xffff).foreach { i =>
      val c = i.toChar
      val general = Character.isWhitespace(c) || c == '\u00a0' || c == '\u0085' || c == '\u2007' || c == '\u202f'
      assert(TextUtils.isPyWhitespace(c) == general, f"U+$i%04X")
    }
  }

  test("text runs give trim's length and comma count, piece by piece and over trees") {
    val rnd = new java.util.Random(21)
    val pieces = Seq("", " ", "  ", "\t", "\n", "\u00a0", "\u2007", "a", "bc", ",", "d,e", " f ", ", ,")
    def str() = Seq.fill(rnd.nextInt(5))(pieces(rnd.nextInt(pieces.length))).mkString
    (0 until 3000).foreach { _ =>
      val parts = Seq.fill(1 + rnd.nextInt(5))(str())
      val whole = parts.mkString
      val trimmed = TextUtils.trim(whole)
      val run = parts.map(TextRun.of).reduce(_ ++ _)
      assert(run == TextRun.of(whole), parts)
      assert(run.length == trimmed.length && run.commas == trimmed.count(_ == ','), parts)
    }
    (0 until 500).foreach { _ =>
      val root = Dom.elem("div")
      val nodes = scala.collection.mutable.ArrayBuffer(root)
      root.text = str()
      (0 until rnd.nextInt(12)).foreach { _ =>
        val c = Dom.subElement(nodes(rnd.nextInt(nodes.length)), "span")
        c.text = str(); c.tail = str()
        nodes += c
      }
      def runOf(n: Node): TextRun =
        n.children.foldLeft(TextRun.of(n.text))((r, c) => r ++ runOf(c) ++ TextRun.of(c.tail))
      assert(runOf(root).length == root.trimmedTextLength)
      assert(runOf(root).commas == root.textContent.count(_ == ','))
    }
  }

  // JSON_MINIFY as the regex the scanner replaced
  private val MinifyRegex = Pattern.compile("(\"(?:\\\\\"|[^\"])*\")|\\s")
  private def regexMinify(text: String): String = {
    val m = MinifyRegex.matcher(text)
    val sb = new StringBuffer
    while (m.find())
      m.appendReplacement(sb, if (m.group(1) != null) Matcher.quoteReplacement(m.group(1)) else "")
    m.appendTail(sb)
    sb.toString
  }

  test("JSON minify scanner makes exactly the regex's matches") {
    val rnd = new java.util.Random(31)
    // every \s kind, escaped and double-escaped quotes, and non-\s spaces
    val pieces = Seq("\"", "\\\"", "\\\\\"", "\\", " ", "\t", "\n", "\u000b", "\f", "\r",
      "\u00a0", "\u2028", "a", "{", "}", ":", ",", "\"k\"", "\u00e9", "\ud83d\ude00")
    val fixed = Seq("", "\"", "\"\"", "\" a", "\"a\\\" b", "\"a\\\" b\\\" c d", "\"a\\\\\" b",
      "{ \"k\" : \"v w\" }", "x \"y\\\"\" z", "\"\\\"", "\\\"\" a \"")
    val random = Seq.fill(20000)(Seq.fill(rnd.nextInt(24))(pieces(rnd.nextInt(pieces.length))).mkString)
    (fixed ++ random).foreach(t => assert(JsonLd.minify(t) == regexMinify(t), t))
  }

  test("a page with a 200 000-char JSON-LD string keeps its metadata") {
    val in = getClass.getResourceAsStream("/graft/brotli/page2_q1.raw")
    val page = try new String(in.readAllBytes(), UTF_8) finally in.close()
    val anchor = "\"@type\":\"NewsArticle\","
    assert(page.contains(anchor))
    val body = ("Tanz in der Lokremise, \\\"gewaschen\\\" und getrocknet. " * 4000).take(200000)
    assert(!body.endsWith("\\"))
    val big = page.replaceFirst(Pattern.quote(anchor),
      Matcher.quoteReplacement(anchor + "\"articleBody\":\"" + body + "\","))
    val opts = ExtractorOptions(images = true)
    val ref = Extraction.bareExtraction(page, options = opts)
    val got = Extraction.bareExtraction(big, options = opts)
    assert(ref != null && ref.meta.title != null && ref.meta.date != null)
    assert(got != null, "the document was dropped")
    assert(got.meta == ref.meta && got.text == ref.text)
  }
}
