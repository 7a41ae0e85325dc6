package graft.clean

import graft.dom.{Dom, Node}
import graft.extract.{ExtractorOptions, Kernel}
import graft.select.Selectors
import graft.select.Selectors.Rule
import graft.text.TextUtils

import scala.collection.mutable

/** Tree cleaning + tag-vocabulary conversion (htmlprocessing.py:61-307). */
object Cleaner {
  private val TagFigure = Set("figure")
  private val TagTable = Set("table")
  private val TagRef = Set("ref")
  private val ContainersT = Set("div", "ul", "table")
  private val Containers = Set("div", "ul")
  private val TagARef = Set("a", "ref")
  private val TagListItems = Set("dd", "dt", "li")
  private val TagSummary = Set("summary")
  private val TagImg = Set("img")
  private val TagA = Set("a")

  /** MANUALLY_CLEANED (settings.py:54-65) — order preserved (deterministic). */
  val ManuallyCleared: List[String] = List(
    "aside", "embed", "footer", "form", "head", "iframe", "menu", "object", "script",
    "applet", "audio", "canvas", "figure", "map", "picture", "svg", "video",
    "area", "blink", "button", "datalist", "dialog",
    "frame", "frameset", "fieldset", "link", "input", "ins", "label", "legend",
    "marquee", "math", "menuitem", "nav", "noscript", "optgroup", "option",
    "output", "param", "progress", "rp", "rt", "rtc", "select", "source",
    "style", "track", "textarea", "time", "use")

  /** MANUALLY_STRIPPED (settings.py:68-72). */
  val ManuallyStripped: List[String] = List(
    "abbr", "acronym", "address", "bdi", "bdo", "big", "cite", "data", "dfn",
    "font", "hgroup", "img", "ins", "mark", "meta", "ruby", "small", "tbody",
    "template", "tfoot", "thead")

  /** CUT_EMPTY_ELEMS (settings.py:46-48). */
  val CutEmptyElems: Set[String] = Set(
    "article", "b", "blockquote", "dd", "div", "dt", "em",
    "h1", "h2", "h3", "h4", "h5", "h6", "i", "li", "main",
    "p", "pre", "q", "section", "span", "strong")

  /** REND_TAG_MAPPING (htmlprocessing.py:46-58) — ordered like the dict. */
  val RendTagMapping: List[(String, String)] = List(
    "em" -> "#i", "i" -> "#i", "b" -> "#b", "strong" -> "#b", "u" -> "#u",
    "kbd" -> "#t", "samp" -> "#t", "tt" -> "#t", "var" -> "#t",
    "sub" -> "#sub", "sup" -> "#sup")
  val RendTags: Set[String] = RendTagMapping.map(_._1).toSet
  private val RendMap: Map[String, String] = RendTagMapping.toMap

  /** Cleaning configuration derived from (tables, images) — only 4 variants,
    * precomputed once per JVM: rebuilding the ~53-entry lists and their Set
    * per document (×2 killPass calls) was measurable GC traffic (allocation profile). */
  private final case class CleanCfg(cleaningList: List[String], cleanSet: Set[String],
      stripSet: Set[String])
  private val cleanCfgs: Map[(Boolean, Boolean), CleanCfg] = {
    (for (tables <- Seq(true, false); images <- Seq(true, false)) yield {
      var cleaningList = ManuallyCleared
      var strippingList = ManuallyStripped
      if (!tables) cleaningList = cleaningList ++ List("table", "td", "th", "tr")
      if (images) {
        cleaningList = cleaningList.filterNot(e => e == "figure" || e == "picture" || e == "source")
        strippingList = strippingList.filterNot(_ == "img")
      }
      (tables, images) -> CleanCfg(cleaningList, cleaningList.toSet, strippingList.toSet)
    }).toMap
  }

  /** tree_cleaning (htmlprocessing.py:61-86). */
  def treeCleaning(tree: Node, options: ExtractorOptions): Node = {
    val cfg = cleanCfgs((options.tables, options.images))
    if (options.tables) {
      // figure containing a table -> div (issue #301)
      tree.descendants(TagFigure).foreach { f =>
        if (f.iterDescendantsLazy(TagTable).hasNext) f.tag = "div"
      }
    }
    // delete targeted elements (tail-preserving drop_tree) — one walk
    // bucketing nodes per tag, processed in MANUALLY_CLEANED order
    // (equivalent to one walk per tag, without the ~50 full-tree scans)
    def killPass(root: graft.dom.Node): Unit = {
      var byTag: mutable.HashMap[String, mutable.ListBuffer[graft.dom.Node]] = null
      root.foreachNode { n =>
        if ((n ne root) && cfg.cleanSet.contains(n.tag)) {
          if (byTag == null) byTag = mutable.HashMap.empty
          byTag.getOrElseUpdate(n.tag, mutable.ListBuffer.empty) += n
        }
      }
      if (byTag != null) cfg.cleaningList.foreach { t =>
        byTag.get(t).foreach(_.foreach { el =>
          if (el.attachedTo(root)) Dom.dropTree(el)
        })
      }
    }
    killPass(tree)
    // HTML_CLEANER equivalent: kill cleaning_list (again), strip stripping_list
    val pruned = pruneHtml(tree)
    killPass(pruned)
    Dom.stripTagsSet(pruned, cfg.stripSet)
    pruned
  }

  /** prune_html (htmlprocessing.py:89-97): delete selected empty elements. */
  def pruneHtml(tree: Node): Node = {
    // descendant-with-no-child-nodes test: no child elements and no text,
    // collected in one zero-alloc walk (collect-then-mutate)
    var empties: mutable.ListBuffer[Node] = null
    tree.foreachNode { n =>
      if ((n ne tree) && n.children.isEmpty && (n.text == null || n.text.isEmpty) &&
        CutEmptyElems.contains(n.tag)) {
        if (empties == null) empties = mutable.ListBuffer.empty
        empties += n
      }
    }
    if (empties != null) empties.foreach { el =>
      if (el.parent != null) Dom.dropTree(el)
    }
    tree
  }

  /** prune_unwanted_nodes (htmlprocessing.py:100-127): per-rule deletion with
    * tail re-attachment; optional rollback if > 6/7 of text is lost. */
  def pruneUnwantedNodes(treeIn: Node, rules: Seq[Rule], withBackup: Boolean = false): Node = {
    val tree = treeIn
    val (oldLen, backup) =
      if (withBackup) (tree.textContentLength, tree.deepCopy) else (0, null)
    rules.foreach { rule =>
      Selectors.findAll(tree, rule).foreach { subtree =>
        if (subtree.tail != null) {
          var previous = subtree.getprevious
          if (previous == null) previous = subtree.getparent
          if (previous != null) {
            if (previous.tail != null) previous.tail = previous.tail + " " + subtree.tail
            else previous.tail = subtree.tail
          }
        }
        if (subtree.parent != null) subtree.parent.remove(subtree)
      }
    }
    if (!withBackup) return tree
    val newLen = tree.textContentLength
    graft.extract.KTrace.log(s"pruneUnwanted rollback check: old=$oldLen new=$newLen rollback=${newLen <= oldLen / 7.0}")
    if (newLen > oldLen / 7.0) tree else backup
  }

  /** collect_link_info (htmlprocessing.py:130-144). */
  def collectLinkInfo(links: Seq[Node], favorPrecision: Boolean = false): (Int, Int, Int, List[String]) = {
    var shortelems = 0
    val mylist = mutable.ListBuffer.empty[String]
    val threshold = if (!favorPrecision) 10 else 50
    links.foreach { subelem =>
      val t = TextUtils.trim(subelem.textContent)
      if (t != null && t.nonEmpty) {
        mylist += t
        if (t.length < threshold) shortelems += 1
      }
    }
    (mylist.map(_.length).sum, mylist.length, shortelems, mylist.toList)
  }

  /** link_density_test (htmlprocessing.py:147-179). The element text enters
    * only via its length, so callers pass trimmedTextLength (zero alloc)
    * instead of building the trimmed string. */
  def linkDensityTest(element: Node, elemlen: Int, favorPrecision: Boolean): (Boolean, List[String]) = {
    val links = element.descendants(TagRef)
    if (links.nonEmpty) {
      val (limitlen, threshold) =
        if (element.tag == "p") {
          if (!favorPrecision) { if (element.getnext == null) (60, 0.8) else (30, 0.8) }
          else (200, 0.8)
        } else {
          if (element.getnext == null) (300, 0.8) else (100, 0.8)
        }
      if (elemlen < limitlen) {
        val (linklen, elemnum, shortelems, mylist) = collectLinkInfo(links, favorPrecision)
        if (elemnum == 0) return (true, mylist)
        if (linklen > threshold * elemlen || (elemnum > 1 && shortelems.toDouble / elemnum > 0.8))
          return (true, mylist)
        return (false, mylist)
      }
    }
    (false, Nil)
  }

  /** link_density_test_tables (htmlprocessing.py:182-199). */
  def linkDensityTestTables(element: Node): Boolean = {
    val links = element.descendants(TagRef)
    if (links.nonEmpty) {
      val elemlen = element.trimmedTextLength
      if (elemlen > 250) {
        val (linklen, elemnum, _, _) = collectLinkInfo(links)
        if (elemnum == 0) return true
        if ((elemlen < 1000 && linklen > 0.8 * elemlen) || (elemlen > 1000 && linklen > 0.5 * elemlen))
          return true
      }
    }
    false
  }

  /** delete_by_link_density (htmlprocessing.py:202-230). */
  def deleteByLinkDensity(subtree: Node, tagname: String, backtracking: Boolean,
      favorPrecision: Boolean, options: ExtractorOptions): Node = {
    val myelems = mutable.LinkedHashMap.empty[String, mutable.ListBuffer[Node]]
    val deletions = mutable.ListBuffer.empty[Node]
    subtree.iterLazy(Set(tagname)).foreach { elem =>
      val elemLen = elem.trimmedTextLength
      val (result, templist) = linkDensityTest(elem, elemLen, favorPrecision)
      if (result) deletions += elem
      else if (backtracking && templist.nonEmpty) {
        // the string itself is only needed as the backtracking bucket key
        val elemtext = Option(TextUtils.trim(elem.textContent)).getOrElse("")
        myelems.getOrElseUpdate(elemtext, mutable.ListBuffer.empty) += elem
      }
    }
    if (backtracking) {
      val threshold = if (!favorPrecision) 100 else 200
      myelems.foreach { case (text, elems) =>
        if (text.nonEmpty && text.length < threshold && elems.length >= 3)
          deletions ++= elems
      }
    }
    TextUtils.uniquify(deletions.toSeq).foreach { elem =>
      if (elem.parent != null) elem.parent.remove(elem)
    }
    subtree
  }

  /** convert_tags (htmlprocessing.py:233-307). */
  def convertTags(tree: Node, options: ExtractorOptions, url: String = null): Node = {
    if (!options.links) {
      // a under div/ul(/table) -> ref for link-density detection, strip the
      // rest. One walk with an inside-container flag ('a' is never itself a
      // container, so flag==true ⇔ some strict ancestor is a container) —
      // the per-container descendants() form re-walked nested containers.
      val containers = if (options.tables) ContainersT else Containers
      val keep = mutable.ListBuffer.empty[Node]
      def walk(n: Node, inside: Boolean): Unit = {
        if (inside && n.tag == "a") keep += n
        val in2 = inside || containers.contains(n.tag)
        val cs = n.children
        var i = 0
        while (i < cs.length) { walk(cs(i), in2); i += 1 }
      }
      walk(tree, containers.contains(tree.tag))
      keep.foreach(_.tag = "ref")
      Dom.stripTagsSet(tree, TagA)
    } else {
      val baseUrl = if (url != null) getBaseUrl(url) else null
      tree.iterLazy(TagARef).foreach { elem =>
        elem.tag = "ref"
        var target = elem.get("href")
        elem.clearAttrs()
        if (target != null) {
          if (baseUrl != null) target = fixRelativeUrls(baseUrl, target)
          elem.set("target", target)
        }
      }
    }
    if (!options.formatting) {
      Dom.stripTagsSet(tree, RendTags)
    } else {
      tree.iterLazy(RendTags).foreach { elem =>
        val attribute = RendMap(elem.tag)
        elem.tag = "hi"
        elem.set("rend", attribute)
      }
    }
    val targets = Set("blockquote", "br", "del", "details", "dl", "h1", "h2", "h3",
      "h4", "h5", "h6", "hr", "ol", "pre", "q", "s", "strike", "ul")
    tree.iterLazy(targets).foreach { elem =>
      elem.tag match {
        case "dl" | "ol" | "ul" =>
          elem.set("rend", elem.tag)
          elem.tag = "list"
          var i = 1
          elem.iterLazy(TagListItems).foreach { subelem =>
            if (subelem.tag == "dd" || subelem.tag == "dt") {
              subelem.set("rend", s"${subelem.tag}-$i")
              if (subelem.tag == "dd") i += 1
            }
            subelem.tag = "item"
          }
        case "h1" | "h2" | "h3" | "h4" | "h5" | "h6" =>
          val rend = elem.tag
          elem.clearAttrs()
          elem.set("rend", rend)
          elem.tag = "head"
        case "br" | "hr" => elem.tag = "lb"
        case "blockquote" | "pre" | "q" => elem.tag = "quote"
        case "del" | "s" | "strike" =>
          elem.tag = "del"
          elem.set("rend", "overstrike")
        case "details" =>
          elem.tag = "div"
          elem.iterLazy(TagSummary).foreach(_.tag = "head")
        case _ =>
      }
    }
    if (options.images) tree.iterLazy(TagImg).foreach(_.tag = "graphic")
    tree
  }

  /** courlan get_base_url equivalent: scheme://host. */
  def getBaseUrl(url: String): String = {
    try {
      val u = new java.net.URI(url)
      if (u.getScheme != null && u.getHost != null) u.getScheme + "://" + u.getHost else null
    } catch { case _: Exception => null }
  }

  /** courlan fix_relative_urls equivalent. */
  def fixRelativeUrls(baseUrl: String, target: String): String = {
    if (target == null || target.isEmpty) target
    else if (target.startsWith("http://") || target.startsWith("https://") ||
      target.startsWith("{") || target.startsWith("mailto:") || target.startsWith("#")) target
    else if (target.startsWith("//")) {
      if (baseUrl.startsWith("https")) "https:" + target else "http:" + target
    }
    else if (target.startsWith("/")) baseUrl + target
    else if (target.startsWith("./")) baseUrl + "/" + target.substring(2)
    else baseUrl + "/" + target
  }
}
