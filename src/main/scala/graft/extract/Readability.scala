package graft.extract

import graft.dom.{Dom, Node}

import java.util.regex.Pattern
import scala.collection.mutable

/** Port of the reference's minimalistic readability fork
  * (readability_lxml.py:105-454): candidate scoring over p/pre/td parents,
  * link-density scaling, sibling collection, and the ruthless/retry loop.
  * Quirks preserved: clean_attributes is a no-op in the fork (the BAD_ATTRS
  * regex is never interpolated, readability_lxml.py:36-44), and the
  * div-to-p test matches tag *prefixes* (readability_lxml.py:82-84). */
final class Readability(var doc: Node, minTextLength: Int = 25, retryLength: Int = 250) {

  import Readability.{NegativeWords, OkMaybeCandidate, PositiveWords, UnlikelyCandidates}

  private val VideoRe = Pattern.compile("(?i)https?://(www\\.)?(youtube|vimeo)\\.com")
  private val DotSpace = Pattern.compile("\\.( |$)")

  private val DivScores = Set("div", "article")
  private val BlockScores = Set("pre", "td", "blockquote")
  private val BadElemScores = Set("address", "ol", "ul", "dl", "dd", "dt", "li", "form", "aside")
  private val StructureScores = Set("h1", "h2", "h3", "h4", "h5", "h6", "th", "header", "footer", "nav")
  private val FrameTags = Set("body", "html")
  private val ListTags = Set("ol", "ul")
  // the regex '<(a|blockquote|dl|div|img|ol|p|pre|table|ul)' matches prefixes
  private val DivToPPrefix = List("a", "blockquote", "dl", "div", "img", "ol", "p", "table", "ul")

  private final class Candidate(var score: Double, val elem: Node)

  private def textLength(elem: Node): Int = {
    elem.trimmedTextLength
  }

  /** The descendants tagged tagNames(0) in document order, then those tagged
    * tagNames(1), and so on: lxml's per-tag `iter` calls, in one walk. */
  private def tags(node: Node, tagNames: String*): List[Node] = {
    val names = tagNames.toArray
    val found = Array.fill(names.length)(List.newBuilder[Node])
    node.foreachNode { n =>
      if (n ne node) {
        var i = 0
        while (i < names.length && names(i) != n.tag) i += 1
        if (i < names.length) found(i) += n
      }
    }
    found.iterator.flatMap(_.result()).toList
  }

  private def classWeight(elem: Node): Double =
    attributeWeight(elem.get("class")) + attributeWeight(elem.get("id"))

  private def attributeWeight(attribute: String): Double =
    if (attribute == null || attribute.isEmpty) 0.0
    else {
      val lower = AsciiWords.lower(attribute)
      (if (NegativeWords.in(lower)) -25.0 else 0.0) + (if (PositiveWords.in(lower)) 25.0 else 0.0)
    }

  private def scoreNode(elem: Node): Candidate = {
    var score = classWeight(elem)
    val name = elem.tag.toLowerCase
    if (DivScores.contains(name)) score += 5
    else if (BlockScores.contains(name)) score += 3
    else if (BadElemScores.contains(name)) score -= 3
    else if (StructureScores.contains(name)) score -= 5
    new Candidate(score, elem)
  }

  private def getLinkDensity(elem: Node): Double = new TextStats().linkDensity(elem)

  /** [[TextRun]]s and `<a>` text lengths of nodes, each computed once from
    * its children's: only valid while the tree does not change. */
  private final class TextStats {
    private val runs = new java.util.IdentityHashMap[Node, TextRun]()
    private val links = new java.util.IdentityHashMap[Node, Integer]()

    /** The run of `n.textContent`; its length is `textLength(n)`. */
    def run(n: Node): TextRun = {
      var r = runs.get(n)
      if (r == null) {
        r = TextRun.of(n.text)
        val cs = n.children
        var i = 0
        while (i < cs.length) { val c = cs(i); r = r ++ run(c) ++ TextRun.of(c.tail); i += 1 }
        runs.put(n, r)
      }
      r
    }

    /** Sum of textLength over the strict `<a>` descendants of `n`. */
    private def linkLength(n: Node): Int = {
      val m = links.get(n)
      if (m != null) return m
      var sum = 0
      val cs = n.children
      var i = 0
      while (i < cs.length) {
        val c = cs(i)
        if (c.tag == "a") sum += run(c).length
        sum += linkLength(c)
        i += 1
      }
      links.put(n, sum)
      sum
    }

    /** `<a>` text length over text length (the fork's get_link_density). */
    def linkDensity(elem: Node): Double = linkLength(elem).toDouble / math.max(run(elem).length, 1)
  }

  private def removeUnlikelyCandidates(): Unit = {
    doc.descendants(null).foreach { elem =>
      // the reference tests "class id" joined by a space (its length, then
      // the regexes); no word contains a space, so each part is matched alone
      val cls = elem.get("class")
      val id = elem.get("id")
      val cLen = if (cls == null) 0 else cls.length
      val iLen = if (id == null) 0 else id.length
      if (cLen + iLen + (if (cLen > 0 && iLen > 0) 1 else 0) >= 2 && !FrameTags.contains(elem.tag)) {
        val c = if (cLen > 0) AsciiWords.lower(cls) else ""
        val i = if (iLen > 0) AsciiWords.lower(id) else ""
        if ((UnlikelyCandidates.in(c) || UnlikelyCandidates.in(i)) &&
          !OkMaybeCandidate.in(c) && !OkMaybeCandidate.in(i) &&
          elem.parent != null && elem.attachedTo(doc))
          Dom.dropTree(elem)
      }
    }
  }

  private def transformMisusedDivs(): Unit = {
    tags(doc, "div").foreach { elem =>
      // prefix-matching serialization regex (readability_lxml.py:322-325):
      // search over the children's serialized subtrees
      val hasBlock = elem.children.exists(child =>
        child.iterList(null).exists(d => DivToPPrefix.exists(p => d.tag.startsWith(p))))
      if (!hasBlock) elem.tag = "p"
    }
    tags(doc, "div").foreach { elem =>
      if (elem.text != null && elem.text.trim.nonEmpty) {
        val pElem = Dom.elem("p")
        pElem.text = elem.text
        elem.text = null
        elem.insert(0, pElem)
      }
      // reversed enumerate
      elem.children.zipWithIndex.toList.reverse.foreach { case (child, pos) =>
        if (child.tail != null && child.tail.trim.nonEmpty) {
          val pElem = Dom.elem("p")
          pElem.text = child.tail
          child.tail = null
          elem.insert(pos + 1, pElem)
        }
        if (child.tag == "br") Dom.dropTree(child)
      }
    }
  }

  private def scoreParagraphs(): (java.util.IdentityHashMap[Node, Candidate], List[Node]) = {
    val candidates = new java.util.IdentityHashMap[Node, Candidate]()
    val ordered = mutable.ListBuffer.empty[Node]
    // nothing mutates the tree while the pass scores it
    val texts = new TextStats
    tags(doc, "p", "pre", "td").foreach { elem =>
      val parentNode = elem.getparent
      if (parentNode != null) {
        val grandParent = parentNode.getparent
        // length and commas of trim(text_content()), which only touches whitespace
        val elemText = texts.run(elem)
        val elemTextLen = elemText.length
        if (elemTextLen >= minTextLength) {
          if (!candidates.containsKey(parentNode)) {
            candidates.put(parentNode, scoreNode(parentNode))
            ordered += parentNode
          }
          if (grandParent != null && !candidates.containsKey(grandParent)) {
            candidates.put(grandParent, scoreNode(grandParent))
            ordered += grandParent
          }
          // split(",").length == commas + 1
          val score = 1 + (elemText.commas + 1) + math.min(elemTextLen / 100.0, 3.0)
          candidates.get(parentNode).score += score
          if (grandParent != null) candidates.get(grandParent).score += score / 2
        }
      }
    }
    ordered.foreach { elem =>
      val c = candidates.get(elem)
      c.score *= (1 - texts.linkDensity(elem))
    }
    (candidates, ordered.toList)
  }

  private def selectBestCandidate(candidates: List[Candidate]): Candidate = {
    if (candidates.isEmpty) return null
    candidates.sortBy(c => -c.score).head
  }

  private def getArticle(candidates: java.util.IdentityHashMap[Node, Candidate],
      best: Candidate): Node = {
    val siblingScoreThreshold = math.max(10.0, best.score * 0.2)
    val output = Dom.elem("div")
    val parent = best.elem.getparent
    val siblings = if (parent != null) parent.children.toList else List(best.elem)
    siblings.foreach { sibling =>
      var append = false
      if (sibling eq best.elem) append = true
      else if (candidates.containsKey(sibling) &&
        candidates.get(sibling).score >= siblingScoreThreshold) append = true
      else if (sibling.tag == "p") {
        val linkDensity = getLinkDensity(sibling)
        val nodeContent = if (sibling.text != null) sibling.text else ""
        val nodeLength = nodeContent.length
        if (nodeLength > 80 && linkDensity < 0.25) append = true
        else if (nodeLength <= 80 && linkDensity == 0 && DotSpace.matcher(nodeContent).find())
          append = true
      }
      if (append) output.append(sibling)
    }
    output
  }

  /** summary() (readability_lxml.py:133-173): returns the cleaned article
    * tree (the reference serializes + reparses; clean_attributes is a no-op). */
  def summary(): Node = {
    var ruthless = true
    while (true) {
      tags(doc, "script", "style").foreach(i => if (i.parent != null) Dom.dropTree(i))
      tags(doc, "body").foreach(_.set("id", "readabilityBody"))
      if (doc.tag == "body") doc.set("id", "readabilityBody")
      if (ruthless) removeUnlikelyCandidates()
      transformMisusedDivs()
      val (candidates, ordered) = scoreParagraphs()
      val best = selectBestCandidate(ordered.map(candidates.get))
      var article: Node = null
      if (best != null) article = getArticle(candidates, best)
      else {
        if (ruthless) {
          ruthless = false
        } else {
          article = doc.findDescendant("body")
          if (article == null) article = doc
        }
      }
      if (article != null) {
        val cleaned = sanitize(article, candidates)
        val articleLength = textLength(cleaned)
        if (ruthless && articleLength < retryLength) {
          ruthless = false
        } else return cleaned
      }
    }
    null // unreachable
  }

  private def sanitize(node: Node,
      candidates: java.util.IdentityHashMap[Node, Candidate]): Node = {
    tags(node, "h1", "h2", "h3", "h4", "h5", "h6").foreach { header =>
      if (header.parent != null &&
        (classWeight(header) < 0 || getLinkDensity(header) > 0.33)) Dom.dropTree(header)
    }
    tags(node, "form", "textarea").foreach(e => if (e.parent != null) Dom.dropTree(e))
    tags(node, "iframe").foreach { e =>
      if (e.get("src") != null && VideoRe.matcher(e.get("src")).find()) e.text = "VIDEO"
      else if (e.parent != null) Dom.dropTree(e)
    }
    val allowed = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[Node, java.lang.Boolean]())
    List("table", "ul", "div", "aside", "header", "footer", "section").foreach { tagName =>
      node.descendants(Set(tagName)).reverse.foreach { elem =>
        if (!allowed.contains(elem) && (elem.attachedTo(node))) {
          val weight = classWeight(elem)
          var score = if (candidates.containsKey(elem)) candidates.get(elem).score else 0.0
          // fresh per element: the judgement before may have dropped nodes
          val texts = new TextStats
          if (weight + score < 0) {
            Dom.dropTree(elem)
          } else if (texts.run(elem).commas < 10) {
            var toRemove = false
            var (p, img, li, input, embed) = (0, 0, 0, 0, 0)
            elem.foreachNode { d =>
              if (d ne elem) d.tag match {
                case "p" => p += 1
                case "img" => img += 1
                case "li" => li += 1
                case "embed" => embed += 1
                case "input" => if (d.get("type") != "hidden") input += 1
                case _ =>
              }
            }
            li -= 100
            val contentLength = texts.run(elem).length
            val linkDensity = texts.linkDensity(elem)
            val parentNode = elem.getparent
            if (parentNode != null)
              score = if (candidates.containsKey(parentNode)) candidates.get(parentNode).score else 0.0
            if (p > 0 && img > 1 + p * 1.3) toRemove = true
            else if (li > p && !ListTags.contains(elem.tag)) toRemove = true
            else if (input > p / 3.0) toRemove = true
            else if (contentLength < minTextLength && img == 0) toRemove = true
            else if (contentLength < minTextLength && img > 2) toRemove = true
            else if (weight < 25 && linkDensity > 0.2) toRemove = true
            else if (weight >= 25 && linkDensity > 0.5) toRemove = true
            else if ((embed == 1 && contentLength < 75) || embed > 1) toRemove = true
            else if (contentLength == 0) {
              toRemove = true
              // sibling rescue (readability_lxml.py:423-441)
              val sibLengths = mutable.ListBuffer.empty[Int]
              var sib = elem.getnext
              var foundNext = false
              while (sib != null && !foundNext) {
                val l = textLength(sib)
                if (l > 0) { sibLengths += l; foundNext = true }
                sib = sib.getnext
              }
              val limit = sibLengths.length + 1
              sib = elem.getprevious
              var done = false
              while (sib != null && !done) {
                val l = textLength(sib)
                if (l > 0) {
                  sibLengths += l
                  if (sibLengths.length >= limit) done = true
                }
                sib = sib.getprevious
              }
              if (sibLengths.nonEmpty && sibLengths.sum > 1000) {
                toRemove = false
                tags(elem, "table", "ul", "div", "section").foreach(allowed.add)
              }
            }
            if (toRemove && elem.parent != null) Dom.dropTree(elem)
          }
        }
      }
    }
    doc = node
    node
  }
}

/** What `trim` (collapse whitespace runs to one space, strip the ends) leaves
  * of a string, as counts: `length` is `trim(s).length` and `commas` counts
  * ','. Runs concatenate (`++`), so a node's run is built from its
  * children's, and `length` over a node's text content equals
  * `Node.trimmedTextLength`. */
private[graft] final case class TextRun(nonWs: Int, gaps: Int, lead: Boolean, trail: Boolean,
    commas: Int) {
  // nonWs: non-whitespace chars; gaps: whitespace runs with text on both
  // sides; lead/trail: whitespace before the first / after the last
  // non-whitespace char (for an all-whitespace string: whether it has any)
  def length: Int = nonWs + gaps

  def ++(b: TextRun): TextRun =
    if (nonWs == 0) TextRun(b.nonWs, b.gaps, lead || b.lead, if (b.nonWs == 0) trail || b.trail else b.trail,
      commas + b.commas)
    else if (b.nonWs == 0) TextRun(nonWs, gaps, lead, trail || b.trail, commas + b.commas)
    else TextRun(nonWs + b.nonWs, gaps + b.gaps + (if (trail || b.lead) 1 else 0), lead, b.trail,
      commas + b.commas)
}

private[graft] object TextRun {
  val Empty: TextRun = TextRun(0, 0, lead = false, trail = false, 0)

  def of(s: String): TextRun = {
    if (s == null || s.isEmpty) return Empty
    var nonWs = 0
    var gaps = 0
    var lead = false
    var pending = false
    var commas = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (graft.text.TextUtils.isPyWhitespace(c)) {
        if (nonWs == 0) lead = true
        pending = true
      } else {
        if (pending && nonWs > 0) gaps += 1
        pending = false
        nonWs += 1
        if (c == ',') commas += 1
      }
      i += 1
    }
    TextRun(nonWs, gaps, lead, pending, commas)
  }
}

/** A `(?i)w1|w2|…` find() over literal lower-case ASCII words. Without
  * UNICODE_CASE, Java's `(?i)` folds only US-ASCII letters, so the pattern
  * matches exactly where the ASCII-lower-cased input contains one of the
  * words: U+212A, U+017F, U+0130 and U+0131 stay distinct from k, s and i. */
private[graft] final class AsciiWords(words: String*) {
  private val ws = words.toArray
  /** True iff `lower` (already [[AsciiWords.lower]]-ed) contains a word. */
  def in(lower: String): Boolean = {
    var i = 0
    while (i < ws.length) { if (lower.indexOf(ws(i)) >= 0) return true; i += 1 }
    false
  }
}

private[graft] object AsciiWords {
  /** `s` with A-Z mapped to a-z and every other char kept; `s` itself when
    * it has no upper-case ASCII letter. */
  def lower(s: String): String = {
    var i = 0
    while (i < s.length && !(s.charAt(i) >= 'A' && s.charAt(i) <= 'Z')) i += 1
    if (i == s.length) s
    else {
      val cs = s.toCharArray
      while (i < cs.length) { if (cs(i) >= 'A' && cs(i) <= 'Z') cs(i) = (cs(i) + 32).toChar; i += 1 }
      new String(cs)
    }
  }
}

object Readability {
  // the REGEXES table of the reference's readability fork
  private[graft] val UnlikelyCandidates = new AsciiWords("combx", "comment", "community",
    "disqus", "extra", "foot", "header", "menu", "remark", "rss", "shoutbox", "sidebar",
    "sponsor", "ad-break", "agegate", "pagination", "pager", "popup", "tweet", "twitter")
  private[graft] val OkMaybeCandidate = new AsciiWords("and", "article", "body", "column",
    "main", "shadow")
  private[graft] val PositiveWords = new AsciiWords("article", "body", "content", "entry",
    "hentry", "main", "page", "pagination", "post", "text", "blog", "story")
  private[graft] val NegativeWords = new AsciiWords("combx", "comment", "com-", "contact",
    "foot", "footer", "footnote", "masthead", "media", "meta", "outbrain", "promo", "related",
    "scroll", "shoutbox", "sidebar", "sponsor", "shopping", "tags", "tool", "widget")

  /** try_readability (external.py:37-46). */
  def tryReadability(htmlTree: Node): Node = {
    try {
      new Readability(htmlTree, minTextLength = 25, retryLength = 250).summary()
    } catch {
      case _: StackOverflowError => Dom.elem("div")
      case scala.util.control.NonFatal(_) => Dom.elem("div")
    }
  }
}
