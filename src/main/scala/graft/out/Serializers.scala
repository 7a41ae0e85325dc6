package graft.out

import graft.dom.{Dom, Node}
import graft.parse.Entities
import graft.text.TextUtils

/** Output-side value projection (xml.py:203-283): the document-order walk
  * that defines span text and ordering, plus the txt/markdown rendering. */
object Serializers {
  private val HeadCodeP = Set("code", "head", "p")

  /** Ordered extraction result span — the engine's primary output unit
    * (BASELINE.json input_hint / FIXTURES.md §2). */
  final case class Span(kind: String, text: String, media_ref: String, offset: Int)

  val NewlineElems: Map[String, String] = Map(
    "cell" -> "|", "item" -> "\n- ",
    "code" -> "\n", "graphic" -> "\n", "head" -> "\n", "lb" -> "\n",
    "list" -> "\n", "p" -> "\n", "quote" -> "\n", "row" -> "\n", "table" -> "\n")
  val SpecialFormatting = Set("del", "head", "hi")
  val HiFormatting: Map[String, String] = Map("#b" -> "**", "#i" -> "*", "#u" -> "__", "#t" -> "`")
  val NestingWhitelist = Set("cell", "figure", "item", "note", "quote")

  /** replace_element_text (xml.py:203-232). NOTE: mutates element.text like
    * the reference (callers walk each element once). */
  def replaceElementText(element: Node, includeFormatting: Boolean): String = {
    if (includeFormatting && element.text != null) {
      element.tag match {
        case "head" =>
          val rend = element.get("rend")
          val number =
            if (rend != null && rend.length > 1 && rend.charAt(1).isDigit) rend.charAt(1) - '0'
            else 2
          element.text = ("#" * number) + " " + element.text
        case "del" => element.text = "~~" + element.text + "~~"
        case "hi" =>
          val rend = element.get("rend")
          if (rend != null && HiFormatting.contains(rend))
            element.text = HiFormatting(rend) + element.text + HiFormatting(rend)
        case _ =>
      }
    }
    if (element.tag == "ref") {
      if (element.text != null) {
        val linkText = "[" + element.text + "]"
        element.text =
          if (element.get("target") != null) linkText + "(" + element.get("target") + ")"
          else linkText
      }
    }
    (if (element.text != null) element.text else "") + (if (element.tail != null) element.tail else "")
  }

  /** xmltotxt (xml.py:257-283). */
  def xmlToTxt(xmloutput: Node, includeFormatting: Boolean): String = {
    val returnlist = scala.collection.mutable.ListBuffer.empty[String]
    xmloutput.iterLazy(null).foreach { element =>
      if (element.text == null && element.tail == null) {
        if (element.tag == "graphic") {
          val text = (element.get("title", "") + " " + element.get("alt", "")).trim
          returnlist ++= List("![", text, "]", "(", element.get("src", ""), ")")
        }
        if (element.tag == "graphic" || element.tag == "row" || element.tag == "table")
          returnlist += "\n"
      } else {
        val textelement = replaceElementText(element, includeFormatting)
        if (NewlineElems.contains(element.tag))
          returnlist ++= List(NewlineElems(element.tag), textelement, "\n")
        else if (element.tag == "comments") returnlist += "\n\n"
        else returnlist ++= List(textelement, " ")
      }
    }
    Entities.unescape(Option(TextUtils.sanitize(returnlist.mkString)).getOrElse(""))
  }

  /** remove_empty_elements (xml.py:80-88). */
  def removeEmptyElements(tree: Node): Node = {
    tree.iterList(null).foreach { element =>
      if (element.children.isEmpty && !TextUtils.textCharsTest(element.text) &&
        !TextUtils.textCharsTest(element.tail)) {
        val parent = element.getparent
        if (parent != null && element.tag != "graphic") parent.remove(element)
      }
    }
    tree
  }

  /** strip_double_tags (xml.py:91-99). */
  def stripDoubleTags(tree: Node): Node = {
    val targets = tree.descendants(HeadCodeP).reverse
    targets.foreach { elem =>
      elem.iterDescendantsLazy(HeadCodeP).toList.foreach { subelem =>
        if (subelem.getparent != null && !NestingWhitelist.contains(subelem.getparent.tag) &&
          subelem.tag == elem.tag)
          mergeWithParent(subelem)
      }
    }
    tree
  }

  /** merge_with_parent (xml.py:235-254). */
  def mergeWithParent(element: Node, includeFormatting: Boolean = false): Unit = {
    val parent = element.getparent
    if (parent == null) return
    val fullText = replaceElementText(element, includeFormatting)
    val previous = element.getprevious
    if (previous != null) {
      previous.tail = if (previous.tail != null) previous.tail + " " + fullText else fullText
    } else if (parent.text != null) {
      parent.text = parent.text + " " + fullText
    } else parent.text = fullText
    // the reference's parent.remove(element) drops the subtree (xml.py:254)
    parent.remove(element)
  }

  /** txttocsv (utils.py:227-240): TSV row; null fields print as "None"
    * (Python f-string semantics, asserted in unit_tests.py:144-154). */
  def txtToCsv(textIn: String, commentsIn: String, meta: graft.meta.DocMeta,
      id: String = null): String = {
    def pyStr(s: String): String = if (s == null) "None" else s
    def flat(s: String): String =
      if (s == null) null
      else Option(TextUtils.trim(TextUtils.splitLines(s).mkString(" "))).getOrElse("")
    val text = Option(flat(textIn)).getOrElse("")
    val comments = flat(commentsIn)
    val row = s"${pyStr(meta.url)}\t${pyStr(meta.fingerprint)}\t${pyStr(meta.hostname)}\t" +
      s"${pyStr(meta.title)}\t${pyStr(meta.image)}\t${pyStr(meta.date)}\t" +
      s"$text\t${pyStr(comments)}\t${pyStr(meta.license)}\t${pyStr(meta.pagetype)}\n"
    if (id != null) id + "\t" + row else row
  }

  /** build_json_output (xml.py:53-69): renamed keys, joined lists. */
  def jsonOutput(meta: graft.meta.DocMeta, text: String, comments: String): String = {
    def esc(s: String): String = {
      if (s == null) return "null"
      val sb = new java.lang.StringBuilder("\"")
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append("\"").toString
    }
    val fields = List(
      "title" -> esc(meta.title), "author" -> esc(meta.author),
      "hostname" -> esc(meta.hostname), "date" -> esc(meta.date),
      "fingerprint" -> esc(meta.fingerprint), "id" -> esc(meta.id),
      "license" -> esc(meta.license), "language" -> esc(meta.language),
      "image" -> esc(meta.image), "pagetype" -> esc(meta.pagetype),
      "source" -> esc(meta.url), "source-hostname" -> esc(meta.sitename),
      "excerpt" -> esc(meta.description),
      "categories" -> esc(meta.categories.mkString(";")),
      "tags" -> esc(meta.tags.mkString(";")),
      "text" -> esc(text)) ++
      (if (comments != null) List("comments" -> esc(comments)) else Nil)
    fields.map { case (k, v) => s"\"$k\": $v" }.mkString("{", ", ", "}")
  }

  /** The last cleaning before the xml and TEI renderings (core.py:801-808):
    * drops empty non-graphic leaves, then strip_double_tags and
    * remove_empty_elements. Rewrites `body` in place and returns it. */
  def finalCleanup(body: Node): Node = {
    body.iterList(null).foreach { element =>
      if (element.tag != "graphic" && element.children.isEmpty &&
        (element.text == null || element.text.isEmpty) &&
        (element.tail == null || element.tail.isEmpty)) {
        val parent = element.getparent
        if (parent != null) parent.remove(element)
      }
    }
    stripDoubleTags(body)
    removeEmptyElements(body)
  }

  /** XML output projection (determine_returnstring 'xml' path, core.py:799-814
    * + build_xml_output xml.py:102-114), without pretty-printing. Renders
    * copies of the trees, which it leaves unchanged. */
  def xmlOutput(body: Node, commentsBody: Node, metaAttrs: List[(String, String)]): String = {
    val doc = graft.dom.Dom.elem("doc")
    metaAttrs.foreach { case (k, v) => if (v != null) doc.set(k, v) }
    val main = finalCleanup(body.deepCopy)
    main.tag = "main"
    doc.append(main)
    if (commentsBody != null) {
      val comments = commentsBody.deepCopy
      comments.tag = "comments"
      doc.append(comments)
    }
    Option(TextUtils.sanitize(graft.dom.Dom.toXml(doc))).getOrElse("")
  }

  /** Span emission: one span per element of the result body in document order
    * (the xmltotxt walk order, xml.py:257-283). kind = pseudo-TEI tag; text =
    * element text + tail; media_ref = graphic src. Comment spans appended
    * with kind="comment" (FIXTURES.md §2). */
  private val SpanVocab = Set("p", "head", "item", "list", "cell", "row", "table",
    "quote", "code", "lb", "hi", "del", "ref", "graphic")

  def toSpans(body: Node, commentsBody: Node): List[Span] = {
    // the handlers can leak rare non-catalog child tags (e.g. summary inside
    // a quote, core.py:233-250); the span contract is the closed pseudo-TEI
    // vocabulary (FIXTURES.md §2), so stray tags merge into their parent
    if (body != null) {
      val stray = body.descendants(null).map(_.tag).distinct.filterNot(SpanVocab.contains)
      if (stray.nonEmpty) graft.dom.Dom.stripTags(body, stray: _*)
    }
    val out = scala.collection.mutable.ListBuffer.empty[Span]
    var offset = 0
    def emit(kind: String, text: String, mediaRef: String): Unit = {
      out += Span(kind, text, mediaRef, offset)
      offset += 1
    }
    if (body != null) {
      val it = body.iterLazy(null)
      if (it.hasNext) it.next() // skip body root
      it.foreach { element =>
        val text = (if (element.text != null) element.text else "") +
          (if (element.tail != null) element.tail else "")
        if (element.tag == "graphic") {
          val alt = (element.get("title", "") + " " + element.get("alt", "")).trim
          emit("graphic", alt, element.get("src"))
        } else emit(element.tag, text, null)
      }
    }
    if (commentsBody != null) {
      val it = commentsBody.iterLazy(null)
      if (it.hasNext) it.next()
      it.foreach { element =>
        val text = (if (element.text != null) element.text else "") +
          (if (element.tail != null) element.tail else "")
        emit("comment", text, null)
      }
    }
    out.toList
  }
}
