package graft.out

import graft.dom.{Dom, Node}
import graft.meta.DocMeta

/** TEI-XML assembly + conformity scrub (xml.py:138-200, 286-496). */
object Tei {

  val TeiValidTags: Set[String] = Set("ab", "body", "cell", "code", "del", "div",
    "graphic", "head", "hi", "item", "lb", "list", "p", "quote", "ref", "row", "table")
  val TeiValidAttrs: Set[String] = Set("rend", "rendition", "role", "target", "type")
  private val TeiRemoveTail = Set("ab", "p")

  /** clean_attributes (xml.py:72-77). */
  def cleanAttributes(tree: Node): Node = {
    val withAttrs = Set("cell", "del", "graphic", "head", "hi", "item", "list", "ref")
    tree.iterList(null).foreach { elem =>
      if (!withAttrs.contains(elem.tag)) elem.clearAttrs()
    }
    tree
  }

  /** write_teitree + write_fullheader (xml.py:286-400). */
  def writeTeiTree(meta: DocMeta, body: Node, commentsBody: Node): Node = {
    val teidoc = Dom.elem("TEI")
    teidoc.set("xmlns", "http://www.tei-c.org/ns/1.0")
    writeFullHeader(teidoc, meta)
    val textElem = Dom.subElement(teidoc, "text")
    val textBody = Dom.subElement(textElem, "body")
    val postbody = cleanAttributes(body)
    postbody.tag = "div"
    postbody.set("type", "entry")
    textBody.append(postbody)
    if (commentsBody != null) {
      val cb = cleanAttributes(commentsBody)
      cb.tag = "div"
      cb.set("type", "comments")
      textBody.append(cb)
    }
    teidoc
  }

  private def publisherString(meta: DocMeta): String = {
    if (meta.hostname != null && meta.sitename != null) s"${meta.sitename.trim} (${meta.hostname})"
    else if (meta.hostname != null) meta.hostname
    else if (meta.sitename != null) meta.sitename
    else "N/A"
  }

  /** write_fullheader (xml.py:320-400). */
  def writeFullHeader(teidoc: Node, meta: DocMeta): Node = {
    val header = Dom.subElement(teidoc, "teiHeader")
    val filedesc = Dom.subElement(header, "fileDesc")
    val titleStmt = Dom.subElement(filedesc, "titleStmt")
    val titleMain = Dom.subElement(titleStmt, "title")
    titleMain.set("type", "main")
    titleMain.text = meta.title
    if (meta.author != null) Dom.subElement(titleStmt, "author").text = meta.author
    val pubStmtA = Dom.subElement(filedesc, "publicationStmt")
    val pubString = publisherString(meta)
    if (meta.license != null) {
      Dom.subElement(pubStmtA, "publisher").text = pubString
      val availability = Dom.subElement(pubStmtA, "availability")
      Dom.subElement(availability, "p").text = meta.license
    } else Dom.subElement(pubStmtA, "p")
    val notesStmt = Dom.subElement(filedesc, "notesStmt")
    if (meta.id != null) {
      val idno = Dom.subElement(notesStmt, "note")
      idno.set("type", "id")
      idno.text = meta.id
    }
    val fp = Dom.subElement(notesStmt, "note")
    fp.set("type", "fingerprint")
    fp.text = meta.fingerprint
    val sourceDesc = Dom.subElement(filedesc, "sourceDesc")
    val bibl = Dom.subElement(sourceDesc, "bibl")
    val sigle =
      if (meta.sitename != null && meta.date != null) meta.sitename + ", " + meta.date
      else if (meta.sitename == null && meta.date != null) meta.date
      else if (meta.sitename != null) meta.sitename
      else ""
    bibl.text = (if (meta.title != null) meta.title + ". " else ". ") + sigle
    val sourceSigle = Dom.subElement(sourceDesc, "bibl")
    sourceSigle.set("type", "sigle")
    sourceSigle.text = sigle
    val biblFull = Dom.subElement(sourceDesc, "biblFull")
    val ts2 = Dom.subElement(biblFull, "titleStmt")
    val tm2 = Dom.subElement(ts2, "title")
    tm2.set("type", "main")
    tm2.text = meta.title
    if (meta.author != null) Dom.subElement(ts2, "author").text = meta.author
    val pubStmt = Dom.subElement(biblFull, "publicationStmt")
    Dom.subElement(pubStmt, "publisher").text = pubString
    if (meta.url != null) {
      val ptr = Dom.subElement(pubStmt, "ptr")
      ptr.set("type", "URL")
      ptr.set("target", meta.url)
    }
    Dom.subElement(pubStmt, "date").text = meta.date
    val profileDesc = Dom.subElement(header, "profileDesc")
    val abstractEl = Dom.subElement(profileDesc, "abstract")
    Dom.subElement(abstractEl, "p").text = meta.description
    if (meta.categories.nonEmpty || meta.tags.nonEmpty) {
      val textclass = Dom.subElement(profileDesc, "textClass")
      val keywords = Dom.subElement(textclass, "keywords")
      if (meta.categories.nonEmpty) {
        val t = Dom.subElement(keywords, "term")
        t.set("type", "categories")
        t.text = meta.categories.mkString(",")
      }
      if (meta.tags.nonEmpty) {
        val t = Dom.subElement(keywords, "term")
        t.set("type", "tags")
        t.text = meta.tags.mkString(",")
      }
    }
    val encodingDesc = Dom.subElement(header, "encodingDesc")
    val appinfo = Dom.subElement(encodingDesc, "appInfo")
    val application = Dom.subElement(appinfo, "application")
    application.set("version", "0.1.0")
    application.set("ident", "trafilaturaspark")
    Dom.subElement(application, "label").text = "trafilaturaspark"
    val p = Dom.subElement(application, "ptr")
    p.set("target", "https://example.invalid/trafilaturaspark")
    header
  }

  // --------------------------------------------------- check_tei helpers

  private def handleTextContentOfDivNodes(element: Node): Unit = {
    if (element.text != null && element.text.trim.nonEmpty) {
      if (element.children.nonEmpty && element.children.head.tag == "p") {
        val pText = Option(element.children.head.text).getOrElse("")
        element.children.head.text = (element.text + " " + pText).trim
      } else {
        val newChild = Dom.elem("p")
        newChild.text = element.text
        element.insert(0, newChild)
      }
      element.text = null
    }
    if (element.tail != null && element.tail.trim.nonEmpty) {
      if (element.children.nonEmpty && element.children.last.tag == "p") {
        val pText = Option(element.children.last.text).getOrElse("")
        element.children.last.text = (pText + " " + element.tail).trim
      } else {
        val newChild = Dom.elem("p")
        newChild.text = element.tail
        element.append(newChild)
      }
      element.tail = null
    }
  }

  private def handleUnwantedTails(element: Node): Unit = {
    if (element.tag == "p") {
      if (element.text != null && element.text.nonEmpty)
        element.text = element.text + " " + element.tail.trim
      else element.text = element.tail
    } else {
      val newSibling = Dom.elem("p")
      newSibling.text = element.tail.trim
      val parent = element.getparent
      if (parent != null) parent.insert(element.idx + 1, newSibling)
    }
    element.tail = null
  }

  private def teiHandleComplexHead(element: Node): Node = {
    val newElement = Dom.elem("ab")
    element.attrs.foreachKV { (k, v) => newElement.set(k, v) }
    newElement.text = if (element.text != null) element.text.trim else null
    element.children.toList.foreach { child =>
      if (child.tag == "p") {
        if (newElement.children.nonEmpty || (newElement.text != null && newElement.text.nonEmpty)) {
          if (newElement.children.isEmpty ||
            (newElement.children.last.tail != null && newElement.children.last.tail.nonEmpty))
            Dom.subElement(newElement, "lb")
          newElement.children.last.tail = child.text
        } else newElement.text = child.text
      } else newElement.append(child)
    }
    if (element.tail != null && element.tail.trim.nonEmpty)
      newElement.tail = element.tail.trim
    newElement
  }

  private def wrapUnwantedSiblingsOfDiv(divElement: Node): Unit = {
    val parent = divElement.getparent
    if (parent == null) return
    var newSibling = Dom.elem("div")
    var newSiblingIndex = -1
    var sib = divElement.getnext
    var break = false
    while (sib != null && !break) {
      val next = sib.getnext
      if (sib.tag == "div") break = true
      else if (Set("p", "list", "table", "quote", "ab").contains(sib.tag)) {
        if (newSiblingIndex < 0) newSiblingIndex = sib.idx
        newSibling.append(sib)
      } else {
        if (newSiblingIndex >= 0 && newSibling.children.nonEmpty) {
          parent.insert(newSiblingIndex, newSibling)
          newSibling = Dom.elem("div")
          newSiblingIndex = -1
        }
      }
      sib = next
    }
    if (newSiblingIndex >= 0 && newSibling.children.nonEmpty)
      parent.insert(newSiblingIndex, newSibling)
  }

  private def moveElementOneLevelUp(element: Node): Unit = {
    val parent = element.getparent
    if (parent == null || parent.getparent == null) return
    val grand = parent.getparent
    val newElem = Dom.elem("p")
    // move all following siblings of element into newElem
    var sib = element.getnext
    while (sib != null) {
      val next = sib.getnext
      newElem.append(sib)
      sib = next
    }
    // move element right after its parent
    grand.insert(parent.idx + 1, element)
    if (element.tail != null && element.tail.trim.nonEmpty) {
      newElem.text = element.tail.trim
      element.tail = null
    }
    if (newElem.children.nonEmpty || (newElem.text != null && newElem.text.nonEmpty))
      grand.insert(element.idx + 1, newElem)
    if (parent.children.isEmpty && parent.text == null) grand.remove(parent)
  }

  /** check_tei (xml.py:148-186). */
  def checkTei(xmldoc: Node): Node = {
    // convert head tags
    xmldoc.iterList(Set("head")).foreach { elemIn =>
      var elem = elemIn
      elem.tag = "ab"
      elem.set("type", "header")
      val parent = elem.getparent
      if (parent != null) {
        if (elem.children.nonEmpty) {
          val newElem = teiHandleComplexHead(elem)
          parent.insert(elem.idx, newElem)
          parent.remove(elem)
          elem = newElem
        }
        if (elem.getparent != null && elem.getparent.tag == "p")
          moveElementOneLevelUp(elem)
      }
    }
    // lb child of div under text/body -> p
    textBodyOf(xmldoc).foreach { body =>
      body.iterList(Set("div")).foreach { div =>
        div.children.toList.foreach { child =>
          if (child.tag == "lb" && child.tail != null && child.tail.trim.nonEmpty) {
            child.tag = "p"
            child.text = child.tail
            child.tail = null
          }
        }
      }
    }
    // scrub invalid elements/attributes
    textBodyOf(xmldoc).foreach { body =>
      body.descendants(null).foreach { element =>
        if (TeiRemoveTail.contains(element.tag) &&
          element.tail != null && element.tail.trim.nonEmpty)
          handleUnwantedTails(element)
        if (!TeiValidTags.contains(element.tag)) {
          Serializers.mergeWithParent(element)
        } else {
          if (element.tag == "div") {
            handleTextContentOfDivNodes(element)
            wrapUnwantedSiblingsOfDiv(element)
          }
          if (element.hasAttrs)
            element.attrs.keysList.foreach { a =>
              if (!TeiValidAttrs.contains(a)) element.attrs.remove(a)
            }
        }
      }
    }
    xmldoc
  }

  private def textBodyOf(xmldoc: Node): Option[Node] =
    xmldoc.children.find(_.tag == "text").flatMap(_.children.find(_.tag == "body"))

  /** build_tei_output (xml.py:138-145). */
  def buildTeiOutput(meta: DocMeta, body: Node, commentsBody: Node): Node =
    checkTei(writeTeiTree(meta, body, commentsBody))
}
