package graft.parse

import graft.dom.{Dom, Node}
import graft.text.TextUtils

/** Streaming HTML tokenizer + tree builder. From-scratch design that mirrors
  * the libxml2/lxml parser behaviors the reference relies on
  * (utils.py:184-224 `load_html`): comments and processing instructions are
  * dropped at parse time, entities are decoded, names are lower-cased,
  * `<p>`/`li`/table cells auto-close, missing html/head/body are implied, and
  * script/style bodies are raw text. Scope = the reference's golden cases,
  * not full WHATWG conformance. */
object HtmlParser {

  private val VoidElems = Set(
    "area", "base", "basefont", "br", "col", "embed", "frame", "hr", "img",
    "input", "isindex", "keygen", "link", "meta", "param", "source", "track", "wbr")

  private val RawTextElems = Set("script", "style")

  /** Opening one of these closes an open <p> (libxml2 auto-close). */
  private val ClosesP = Set(
    "address", "article", "aside", "blockquote", "center", "details", "dialog",
    "dir", "div", "dl", "fieldset", "figcaption", "figure", "footer", "form",
    "frameset", "h1", "h2", "h3", "h4", "h5", "h6", "header", "hgroup", "hr",
    "li", "main", "menu", "nav", "ol", "p", "pre", "section", "summary",
    "table", "ul", "xmp")

  private val HeadOnlyElems = Set("title", "base", "link", "meta", "style")

  private val TableSections = Set("thead", "tbody", "tfoot", "tr", "td", "th")

  // ------------------------------------------------------------------ public

  /** lxml.html.fromstring equivalent: full documents return the <html> root;
    * fragments return the single body child, or the <body> element. Returns
    * null on unparseable/empty input. */
  def fromstring(html: String): Node = {
    if (html == null) return null
    val stripped = html.dropWhile(c => TextUtils.isPyWhitespace(c))
    if (stripped.isEmpty) return null
    val root = parseDocument(html)
    if (root == null) return null
    val start = stripped.take(50).toLowerCase
    if (start.startsWith("<html") || start.startsWith("<!doctype")) return root
    val body = root.children.find(_.tag == "body").orNull
    if (body == null) return root
    if (body.children.length == 1 &&
      (body.text == null || body.text.forall(TextUtils.isPyWhitespace)) &&
      (body.children.last.tail == null || body.children.last.tail.forall(TextUtils.isPyWhitespace)))
      return body.children.head
    // multi-element / text-leading fragment: lxml's fromstring returns the
    // BODY retagged div (block content) or span, still attached to the
    // document root — metadata's absolute xpaths escape to the root via
    // parent links (Metadata ascends), exactly like lxml getroottree().
    body.tag = if (body.iterDescendantsLazy(BlockLevelTags).hasNext) "div" else "span"
    body
  }

  /** lxml.html.defs block-level subset used by fromstring's fragment wrap. */
  private val BlockLevelTags = Set(
    "address", "article", "aside", "blockquote", "center", "del", "dir", "div",
    "dl", "fieldset", "figure", "footer", "form", "h1", "h2", "h3", "h4", "h5",
    "h6", "header", "hr", "ins", "isindex", "main", "menu", "nav", "noscript",
    "ol", "p", "pre", "section", "table", "ul")

  /** `load_html` (utils.py:184-224): decode/repair, parse, reject non-HTML. */
  def loadHtml(htmlInput: String): Node = {
    if (htmlInput == null) return null
    var htmlobject = htmlInput
    val beginning = htmlobject.take(50).toLowerCase
    val checkFlag = TextUtils.isDubiousHtml(beginning)
    htmlobject = TextUtils.stripFaultyDoctypes(htmlobject, beginning)
    val tree = fromstring(htmlobject)
    if (tree != null && checkFlag && tree.children.length < 2) return null
    tree
  }

  /** GZip front-end (utils.py:78-96) + UTF-8-or-replace decode (utils.py:138-157
    * without the chardet cascade: UTF-8 validity test, then Latin-1 fallback). */
  def decodeFile(bytes: Array[Byte]): String = {
    val content =
      if (bytes.length > 2 && bytes(0) == 0x1f.toByte && bytes(1) == 0x8b.toByte) {
        try {
          val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
          val out = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          var n = in.read(buf)
          while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
          out.toByteArray
        } catch { case _: java.io.IOException => bytes }
      } else {
        // no gzip magic: try brotli like the reference (utils.py:78-96 —
        // `br` payloads carry no magic bytes; malformed input throws fast
        // and falls through to the raw bytes). A non-empty input decoding
        // to an empty stream is a short-input coincidence, not a page.
        // Size gate: 64 MB (3x the reference's 20 MB MAX_FILE_SIZE) — the
        // decoder sizes working buffers from input.length, so a pathological
        // half-GB payload must stay on the raw path rather than risk a
        // non-BrotliException allocation failure. NonFatal keeps "not
        // brotli" the failure mode for any other unchecked decoder escape
        // (OutOfMemoryError stays fatal by design — it is not a per-row
        // condition a kernel should swallow).
        if (bytes.length > (1 << 26)) bytes
        else
          try {
            val d = Brotli.decompress(bytes)
            if (d.isEmpty && bytes.nonEmpty) bytes else d
          } catch { case scala.util.control.NonFatal(_) => bytes }
      }
    strictDecode(content, java.nio.charset.StandardCharsets.UTF_8).getOrElse {
      // detect_encoding analogue (utils.py:99-157, cchardet cascade over the
      // first 15 kB): (1) every meta-declared charset in document order —
      // first that decodes the WHOLE payload cleanly wins, which skips bogus
      // injected declarations (an archive.org wrapper script saying utf-8
      // ahead of the page's real gb2312 meta); (2) chardet-lite byte-
      // frequency scoring of common legacy codecs; (3) lossy Latin-1.
      val head = new String(content, 0, math.min(content.length, 15000),
        java.nio.charset.StandardCharsets.ISO_8859_1).toLowerCase
      val m = java.util.regex.Pattern
        .compile("charset\\s*=\\s*[\"']?([a-z0-9_\\-]+)").matcher(head)
      val declared = scala.collection.mutable.LinkedHashSet[java.nio.charset.Charset]()
      while (m.find()) {
        try declared += java.nio.charset.Charset.forName(m.group(1))
        catch { case _: Exception => () }
      }
      declared.iterator
        .filter(_ != java.nio.charset.StandardCharsets.UTF_8)
        .flatMap(cs => strictDecode(content, cs))
        .nextOption()
        .orElse(detectByFrequency(content).map(cs => lossyDecode(content, cs)))
        .getOrElse(new String(content, java.nio.charset.StandardCharsets.ISO_8859_1))
    }
  }

  private def strictDecode(content: Array[Byte],
      cs: java.nio.charset.Charset): Option[String] = {
    val dec = cs.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    try Some(dec.decode(java.nio.ByteBuffer.wrap(content)).toString)
    catch { case _: java.nio.charset.CharacterCodingException => None }
  }

  private def lossyDecode(content: Array[Byte], cs: java.nio.charset.Charset): String = {
    val dec = cs.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
    dec.decode(java.nio.ByteBuffer.wrap(content)).toString
  }

  /** chardet-lite: score candidate legacy codecs by how much of the
    * high-byte payload decodes into that codec's coherent letter ranges
    * (CJK/kana for the East-Asian multi-byte codecs, Cyrillic for cp1251,
    * Latin letters/punctuation for cp1252), penalizing malformed sequences
    * 3x. GB18030 decodes almost any byte pair, so it carries a 0.85 prior:
    * it wins only when the alternatives are penalized by genuinely invalid
    * sequences (as a wrong codec on true GB bytes is), and kana give
    * Shift_JIS the edge on real Japanese that GB would otherwise absorb.
    * Single-byte codecs are weighted by high-byte density: Cyrillic text is
    * mostly high bytes, accented Latin text mostly ASCII. */
  private[parse] def detectByFrequency(content: Array[Byte]): Option[java.nio.charset.Charset] = {
    val sample = if (content.length > 15000) java.util.Arrays.copyOf(content, 15000) else content
    var nHigh = 0
    var nPrint = 0
    sample.foreach { b =>
      if ((b & 0x80) != 0) nHigh += 1
      if ((b & 0xff) > 0x20) nPrint += 1
    }
    if (nHigh == 0) return None
    val highRatio = nHigh.toDouble / math.max(1, nPrint)
    def inCjk(c: Char): Boolean =
      (c >= 0x4e00 && c <= 0x9fff) || (c >= 0x3040 && c <= 0x30ff) ||
        (c >= 0xac00 && c <= 0xd7af) || (c >= 0x3000 && c <= 0x303f) ||
        (c >= 0xff00 && c <= 0xffef)
    def score(name: String, ok: Char => Boolean, bonus: Char => Boolean,
        weight: Double): (String, Double) = {
      val cs = java.nio.charset.Charset.forName(name)
      val s = lossyDecode(sample, cs)
      var good = 0.0
      var bad = 0.0
      s.foreach { c =>
        if (c == '\ufffd') bad += 3
        else if (c >= 0x80) { if (ok(c)) good += (if (bonus(c)) 2.0 else 1.0) else bad += 1 }
      }
      (name, if (good + bad == 0) 0.0 else weight * good / (good + bad))
    }
    val none = (_: Char) => false
    val scored = Seq(
      score("Shift_JIS", inCjk, c => c >= 0x3040 && c <= 0x30ff, 1.0),
      score("EUC-KR", inCjk, none, 1.0),
      score("GB18030", inCjk, none, 0.85),
      score("windows-1251", c => c >= 0x400 && c <= 0x4ff, none,
        if (highRatio >= 0.25) 1.0 else 0.5),
      score("windows-1252",
        c => Character.isLetter(c) || c == 0xa0 || (c >= 0x2010 && c <= 0x2030), none,
        if (highRatio < 0.25) 1.0 else 0.5))
    val (bestName, bestScore) = scored.maxBy(_._2)
    if (bestScore >= 0.7) Some(java.nio.charset.Charset.forName(bestName)) else None
  }


  // ----------------------------------------------------------------- builder

  /** Parse into a full document tree rooted at <html>. */
  def parseDocument(html: String): Node = {
    val b = new Builder
    tokenize(html, b)
    b.finish()
  }

  /** XML-ish lenient parse: no implied html/head/body, no auto-close — for
    * XML-shaped fixtures (lxml etree.fromstring analogue). Returns the first
    * top-level element. */
  def parseXmlLike(content: String): Node = {
    val root = new Node("#fragment")
    val stack = scala.collection.mutable.ArrayBuffer[Node](root)
    val b = new TokenSink {
      def startTag(name: String, attrs: scala.collection.Seq[(String, String)], selfClosing: Boolean): Unit = {
        val n = new Node(name)
        setAttrs(n, attrs)
        stack.last.append(n)
        if (!selfClosing && !VoidElems.contains(name)) stack += n
      }
      def endTag(name: String): Unit = {
        val i = stack.lastIndexWhere(_.tag == name)
        if (i > 0) stack.remove(i, stack.length - i)
      }
      def text(t: String): Unit = {
        val parent = stack.last
        if (parent.children.isEmpty)
          parent.text = if (parent.text == null) t else parent.text + t
        else {
          val lastChild = parent.children.last
          lastChild.tail = if (lastChild.tail == null) t else lastChild.tail + t
        }
      }
    }
    tokenizeTo(content, b)
    root.children.find(_ => true).orNull
  }

  /** Tokenizer event sink. */
  trait TokenSink {
    def startTag(name: String, attrs: scala.collection.Seq[(String, String)], selfClosing: Boolean): Unit
    def endTag(name: String): Unit
    def text(t: String): Unit
  }

  /** Cooperative node budget per document (SIGALRM-timeout analogue,
    * core.py:1010-1012): pathological inputs stop growing the tree instead
    * of stalling an executor task. */
  val MaxNodes: Int = 2000000

  /** Closure-free attr copy (a capturing lambda per start tag was
    * measurable allocation — allocation profile/JFR). */
  private def setAttrs(n: Node, attrs: scala.collection.Seq[(String, String)]): Unit = {
    if (attrs.nonEmpty) {
      val it = attrs.iterator
      while (it.hasNext) { val kv = it.next(); n.setIfAbsent(kv._1, kv._2) }
    }
  }

  private final class Builder extends TokenSink {
    val root = new Node("html")
    private var nodeCount = 0
    private var head: Node = null
    private var body: Node = null
    private val stack = scala.collection.mutable.ArrayBuffer[Node](root)
    private var sawExplicitHtml = false
    private var headClosed = false

    private def cur: Node = stack.last

    // head is only ever pushed onto a root-level stack, so when open it sits
    // at index 1 (this replaces a linear stack.contains(head) per start tag)
    private def headOpen: Boolean = head != null && stack.length > 1 && (stack(1) eq head)

    /** Index of the topmost open element tagged `tag`, or -1. */
    private def lastOpen(tag: String): Int = {
      var i = stack.length - 1
      while (i >= 0 && stack(i).tag != tag) i -= 1
      i
    }

    /** True if an element above stack index `i` is tagged t1, t2 or t3. */
    private def openAbove(i: Int, t1: String, t2: String, t3: String): Boolean = {
      var j = i + 1
      while (j < stack.length) {
        val t = stack(j).tag
        if (t == t1 || t == t2 || t == t3) return true
        j += 1
      }
      false
    }

    private def ensureBody(): Unit = {
      if (body == null) {
        body = new Node("body"); root.append(body)
        headClosed = true
        if (stack.length == 1) stack += body
      } else if (stack.length == 1) stack += body
    }

    private def ensureHead(): Unit = {
      if (head == null && !headClosed) { head = new Node("head"); root.append(head) }
    }

    def startTag(name: String, attrs: scala.collection.Seq[(String, String)], selfClosing: Boolean): Unit = {
      name match {
        case "html" =>
          sawExplicitHtml = true
          setAttrs(root, attrs)
          return
        case "head" =>
          ensureHead()
          if (head != null && !headOpen) { popToRootLevel(); stack += head }
          if (head != null) setAttrs(head, attrs)
          return
        case "body" =>
          closeHead()
          if (body == null) { body = new Node("body"); root.append(body) }
          popToRootLevel()
          stack += body
          setAttrs(body, attrs)
          return
        case _ =>
      }
      // implicit placement
      if (stack.length == 1) {
        if (HeadOnlyElems.contains(name) && body == null && !headClosed) {
          ensureHead(); stack += head
          openIn(name, attrs, selfClosing)
          if (stack.last eq head) {} else {} // element may remain open inside head
          // keep head on the stack until a body-only tag arrives
          return
        } else {
          ensureBody()
        }
      } else if (headOpen && !HeadOnlyElems.contains(name) &&
        !RawTextElems.contains(name) && name != "noscript") {
        // non-head content while head open -> close head, open body
        closeHead()
        popToRootLevel()
        ensureBody()
      }
      autoClose(name)
      openIn(name, attrs, selfClosing)
    }

    private def closeHead(): Unit = {
      headClosed = true
      if (head != null) {
        val i = stack.indexOf(head)
        if (i >= 0) stack.remove(i, stack.length - i)
      }
    }

    private def popToRootLevel(): Unit = stack.remove(1, stack.length - 1)

    private def autoClose(name: String): Unit = {
      // p closed by block elements
      if (ClosesP.contains(name)) {
        val i = lastOpen("p")
        if (i > 0 && !openAbove(i, "table", "td", "th"))
          stack.remove(i, stack.length - i)
      }
      name match {
        case "li" =>
          val i = lastOpen("li")
          if (i > 0 && !openAbove(i, "ol", "ul", null))
            stack.remove(i, stack.length - i)
        case "dt" | "dd" =>
          val i = stack.lastIndexWhere(n => n.tag == "dt" || n.tag == "dd")
          if (i > 0) stack.remove(i, stack.length - i)
        case "tr" =>
          val i = stack.lastIndexWhere(n => n.tag == "tr" || n.tag == "td" || n.tag == "th")
          if (i > 0) {
            val anchor = stack.lastIndexWhere(n => n.tag == "table" || n.tag == "thead" || n.tag == "tbody" || n.tag == "tfoot")
            if (anchor < i) stack.remove(i, stack.length - i)
          }
        case "td" | "th" =>
          val i = stack.lastIndexWhere(n => n.tag == "td" || n.tag == "th")
          if (i > 0) {
            val anchor = stack.lastIndexWhere(n => n.tag == "tr" || n.tag == "table")
            if (anchor < i) stack.remove(i, stack.length - i)
          }
        case "thead" | "tbody" | "tfoot" =>
          val i = stack.lastIndexWhere(n => TableSections.contains(n.tag))
          if (i > 0) stack.remove(i, stack.length - i)
        case "option" =>
          val i = lastOpen("option")
          if (i > 0) stack.remove(i, stack.length - i)
        case _ =>
      }
    }

    private def openIn(name: String, attrs: scala.collection.Seq[(String, String)], selfClosing: Boolean): Unit = {
      nodeCount += 1
      if (nodeCount > MaxNodes) return // budget exhausted: drop further elements
      val n = new Node(name)
      setAttrs(n, attrs)
      cur.append(n)
      if (!selfClosing && !VoidElems.contains(name)) stack += n
    }

    def endTag(name: String): Unit = {
      name match {
        case "html" => return
        case "head" => closeHead(); return
        case "body" => popToRootLevel(); return
        case _ =>
      }
      val i = lastOpen(name)
      if (i > 0) stack.remove(i, stack.length - i)
      // unmatched end tag: ignored (libxml2 recovery)
    }

    def text(t: String): Unit = {
      if (t.isEmpty) return
      if (stack.length == 1) {
        // top-level text: whitespace before content is dropped; real text opens body
        if (t.forall(TextUtils.isPyWhitespace) && body == null && head == null) return
        ensureBody()
      }
      val parent = cur
      if (parent.children.isEmpty) {
        parent.text = if (parent.text == null) t else parent.text + t
      } else {
        val lastChild = parent.children.last
        lastChild.tail = if (lastChild.tail == null) t else lastChild.tail + t
      }
    }

    def finish(): Node = {
      if (body == null && head == null) {
        // nothing structural ever arrived
        if (root.children.isEmpty && root.text == null) return root
      }
      if (body == null) { body = new Node("body"); root.append(body) }
      root
    }
  }

  // --------------------------------------------------------------- tokenizer

  private def tokenize(s: String, b: Builder): Unit = tokenizeTo(s, b)


  /** Canonical lowercase strings for common tag/attr names in an
    * open-addressing table keyed by the ASCII-lower-cased name: an ASCII name
    * costs one hash and one compare and returns the shared instance, skipping
    * the substring + toLowerCase per tag (allocation profile). Non-ASCII / uncommon
    * names fall through to the allocating path. */
  private val InternNames: Array[String] = {
    val names = Array(
      "a", "b", "i", "p", "q", "u", "s",
      "br", "dd", "dl", "dt", "em", "h1", "h2", "h3", "h4", "h5", "h6", "hr",
      "id", "li", "ol", "rel", "td", "th", "tr", "ul",
      "alt", "col", "del", "div", "img", "nav", "pre", "src", "sub", "sup", "var",
      "wbr", "abbr", "area", "body", "cite", "code", "data", "figure",
      "font", "form", "head", "href", "html", "link", "list", "main", "mark",
      "menu", "meta", "name", "ruby", "samp", "slot", "span", "time", "type",
      "aside", "audio", "class", "embed", "input", "label", "param", "small",
      "style", "table", "tbody", "tfoot", "thead", "title", "track", "video",
      "button", "canvas", "center", "dialog", "figcap", "footer", "header",
      "hgroup", "iframe", "legend", "object", "option", "output", "script",
      "select", "source", "strike", "strong", "article", "caption", "content",
      "datalist", "details", "noscript", "picture", "property", "section",
      "summary", "template", "textarea", "blockquote", "fieldset", "figcaption",
      "datetime", "itemprop", "optgroup", "progress")
    val table = new Array[String](512)
    names.foreach { nm =>
      var slot = internSlot(nm.hashCode)
      while (table(slot) != null) slot = (slot + 1) & (table.length - 1)
      table(slot) = nm
    }
    table
  }

  @inline private def asciiLower(c: Char): Char = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  /** Slot in [[InternNames]] of a lower-case name with String hash `h`. */
  private def internSlot(h: Int): Int = (h ^ (h >>> 9)) & 511

  private def internToken(s: String, from: Int, to: Int): String = {
    // ASCII-only fast path: a case-insensitive match against the table would
    // also fold Unicode lookalikes (U+0131 dotless i, U+0130 dotted I) onto
    // ASCII names that String.toLowerCase keeps distinct, so any non-ASCII
    // char takes the slow path
    var ascii = true
    var h = 0
    var j = from
    while (ascii && j < to) {
      val ch = s.charAt(j)
      if (ch >= 0x80) ascii = false else h = 31 * h + asciiLower(ch)
      j += 1
    }
    if (ascii && to > from) {
      val len = to - from
      var slot = internSlot(h)
      var c = InternNames(slot)
      while (c != null) {
        if (c.length == len) {
          var k = 0
          while (k < len && asciiLower(s.charAt(from + k)) == c.charAt(k)) k += 1
          if (k == len) return c
        }
        slot = (slot + 1) & (InternNames.length - 1)
        c = InternNames(slot)
      }
    }
    s.substring(from, to).toLowerCase
  }

  private def tokenizeTo(s: String, b: TokenSink): Unit = {
    val n = s.length
    var i = 0
    val text = new java.lang.StringBuilder(256)
    def flushText(): Unit = {
      if (text.length() > 0) { b.text(text.toString); text.setLength(0) }
    }
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<' && i + 1 < n) {
        val c1 = s.charAt(i + 1)
        if (c1 == '!') {
          flushText()
          if (s.startsWith("<!--", i)) {
            val end = s.indexOf("-->", i + 4)
            i = if (end < 0) n else end + 3
          } else {
            // doctype / CDATA / bogus: skip to '>'
            val end = s.indexOf('>', i + 2)
            i = if (end < 0) n else end + 1
          }
        } else if (c1 == '?') {
          flushText()
          val end = s.indexOf('>', i + 2)
          i = if (end < 0) n else end + 1
        } else if (c1 == '/') {
          val j = i + 2
          if (j < n && Character.isLetter(s.charAt(j))) {
            flushText()
            val gt = s.indexOf('>', j)
            val k = if (gt < 0) n else gt
            // trim + first-whitespace-run cut via indices (was 3 copies)
            var a0 = j
            while (a0 < k && Character.isWhitespace(s.charAt(a0))) a0 += 1
            var b0 = a0
            while (b0 < k && !TextUtils.isPyWhitespace(s.charAt(b0))) b0 += 1
            val name = internToken(s, a0, b0)
            if (name.nonEmpty) b.endTag(name)
            i = if (k < n) k + 1 else n
          } else { text.append(c); i += 1 }
        } else if (Character.isLetter(c1)) {
          flushText()
          val (name, attrs, selfClosing, next) = parseTag(s, i + 1)
          b.startTag(name, attrs, selfClosing)
          i = next
          if (RawTextElems.contains(name) && !selfClosing) {
            // raw text until matching close tag
            val closeIdx = indexOfCloseTag(s, i, name)
            val raw = s.substring(i, math.min(closeIdx, n))
            if (raw.nonEmpty) b.text(raw)
            b.endTag(name)
            i = skipPastCloseTag(s, closeIdx, name)
          }
        } else { text.append(c); i += 1 }
      } else if (c == '&') {
        val dec = Entities.decodeRef(s, i)
        if (dec != null) { text.append(dec._1); i = dec._2 }
        else { text.append(c); i += 1 }
      } else {
        // a run of plain text up to the next markup or reference
        var j = i + 1
        while (j < n && s.charAt(j) != '<' && s.charAt(j) != '&') j += 1
        text.append(s, i, j)
        i = j
      }
    }
    flushText()
  }

  private def indexOfCloseTag(s: String, from: Int, name: String): Int = {
    val n = s.length
    val target = "</" + name
    val tLen = target.length
    // only '<' lower-cases to '<', so a match can start only at a '<'
    var i = s.indexOf('<', from)
    while (i >= 0 && i + tLen <= n) {
      var k = 1
      while (k < tLen && Character.toLowerCase(s.charAt(i + k)) == target.charAt(k)) k += 1
      if (k == tLen) {
        val after = i + tLen
        if (after >= n || s.charAt(after) == '>' || TextUtils.isPyWhitespace(s.charAt(after)))
          return i
      }
      i = s.indexOf('<', i + 1)
    }
    n
  }

  private def skipPastCloseTag(s: String, closeIdx: Int, name: String): Int = {
    if (closeIdx >= s.length) return s.length
    val gt = s.indexOf('>', closeIdx)
    if (gt < 0) s.length else gt + 1
  }

  private def isTagNameChar(c: Char): Boolean =
    if (c < 0x80) (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '-' || c == ':'
    else Character.isLetterOrDigit(c)

  /** Parse a start tag beginning after '<'. Returns (name, attrs, selfClosing, nextIndex). */
  private def parseTag(s: String, from: Int): (String, scala.collection.Seq[(String, String)], Boolean, Int) = {
    val n = s.length
    var i = from
    val nameStart = i
    while (i < n && isTagNameChar(s.charAt(i))) i += 1
    val name = internToken(s, nameStart, i)
    // lazy: most tags carry no attributes — don't allocate the buffer for them
    var attrs: scala.collection.mutable.ArrayBuffer[(String, String)] = null
    var selfClosing = false
    var done = false
    while (!done && i < n) {
      // skip ws
      while (i < n && TextUtils.isPyWhitespace(s.charAt(i))) i += 1
      if (i >= n) done = true
      else s.charAt(i) match {
        case '>' => i += 1; done = true
        case '/' =>
          if (i + 1 < n && s.charAt(i + 1) == '>') { selfClosing = true; i += 2; done = true }
          else i += 1
        case _ =>
          val aStart = i
          while (i < n && !TextUtils.isPyWhitespace(s.charAt(i)) && s.charAt(i) != '=' &&
            s.charAt(i) != '>' && s.charAt(i) != '/') i += 1
          val aName = internToken(s, aStart, i)
          var aValue = ""
          // skip ws
          var j = i
          while (j < n && TextUtils.isPyWhitespace(s.charAt(j))) j += 1
          if (j < n && s.charAt(j) == '=') {
            j += 1
            while (j < n && TextUtils.isPyWhitespace(s.charAt(j))) j += 1
            if (j < n && (s.charAt(j) == '"' || s.charAt(j) == '\'')) {
              val q = s.charAt(j)
              val vStart = j + 1
              val close = s.indexOf(q, vStart)
              val k = if (close < 0) n else close
              aValue = Entities.unescape(s.substring(vStart, math.min(k, n)))
              i = if (k < n) k + 1 else n
            } else {
              val vStart = j
              var k = j
              while (k < n && !TextUtils.isPyWhitespace(s.charAt(k)) && s.charAt(k) != '>') k += 1
              aValue = Entities.unescape(s.substring(vStart, k))
              i = k
            }
          } else i = i
          if (aName.nonEmpty) {
            if (attrs == null) attrs = new scala.collection.mutable.ArrayBuffer[(String, String)](4)
            attrs += (aName -> aValue)
          }
      }
    }
    (name, if (attrs == null) Nil else attrs, selfClosing, i)
  }
}
