package graft.extract

import graft.dom.{Dom, Node}
import graft.parse.HtmlParser
import graft.text.TextUtils

import java.util.regex.Pattern

/** Safety-net extractors (core.py:717-793). */
object Baseline {
  // hoisted tag sets: per-call Set literals were measurable GC churn (allocation profile)
  private val BaselineTags = Set("blockquote", "code", "p", "pre", "q", "quote")

  /** JSON_SEARCH (core.py:50). */
  private val JsonSearch = Pattern.compile("(?i)\"articlebody\": *\"(.+?)(?<!\\\\)\"")

  /** baseline(filecontent) (core.py:717-777) over an already-parsed tree. */
  def baseline(tree: Node): (Node, String, Int) = {
    val postbody = Dom.elem("body")
    if (tree == null) return (postbody, "", 0)
    // scrape from json text
    tree.iterList(Set("script")).foreach { elem =>
      if (elem.get("type") == "application/ld+json" && elem.text != null &&
        elem.text.contains("\"article") && postbody.children.isEmpty) {
        val m = JsonSearch.matcher(elem.text)
        if (m.find()) {
          val p = Dom.subElement(postbody, "p")
          p.text = TextUtils.trim(m.group(1).replace("\\\"", "\""))
          return (postbody, p.text, p.text.length)
        }
      }
    }
    // basic tree cleaning
    tree.iterList(Set("aside", "footer", "script", "style")).foreach { e =>
      if (e.parent != null && e.attachedTo(tree)) e.parent.remove(e)
    }
    // scrape from article tag
    val articleElem = tree.findDescendant("article")
    if (articleElem != null) {
      val tempText = TextUtils.trim(articleElem.textContent)
      if (tempText != null && tempText.length > 100) {
        val p = Dom.subElement(postbody, "p")
        p.text = tempText
        return (postbody, tempText, tempText.length)
      }
    }
    // scrape from text paragraphs
    val results = scala.collection.mutable.HashSet.empty[String]
    tree.iterLazy(BaselineTags).foreach { element =>
      val entry = element.textContent
      if (!results.contains(entry)) {
        val p = Dom.subElement(postbody, "p")
        p.text = entry
        results += entry
      }
    }
    val tempText = TextUtils.trim(postbody.itertext.mkString("\n"))
    if (tempText != null && tempText.length > 100) return (postbody, tempText, tempText.length)
    // default strategy: clean the tree and take everything
    val postbody2 = Dom.elem("body")
    val bodyElem = tree.findDescendant("body")
    if (bodyElem != null) {
      val text = bodyElem.itertext.map(TextUtils.trim).filter(_ != null).mkString("\n")
      if (text.length > 100) {
        val p = Dom.subElement(postbody2, "p")
        p.text = text
        return (postbody2, text, text.length)
      }
    }
    // new fallback
    val text = html2txtTree(tree)
    val p = Dom.subElement(postbody2, "p")
    p.text = text
    (postbody2, text, text.length)
  }

  /** baseline over raw HTML (matches the reference signature). */
  def baseline(filecontent: String): (Node, String, Int) =
    baseline(HtmlParser.loadHtml(filecontent))

  /** html2txt (core.py:780-793). */
  def html2txt(content: String): String = html2txtTree(HtmlParser.loadHtml(content))

  def html2txtTree(tree: Node): String = {
    if (tree == null) return ""
    val t = TextUtils.trim(tree.textContent)
    if (t == null) "" else t
  }
}
