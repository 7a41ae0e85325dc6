package graft.extract

import graft.clean.Cleaner
import graft.dom.{Dom, Node}
import graft.hash.SimHash
import graft.meta.{DocMeta, Metadata}
import graft.out.Serializers
import graft.out.Serializers.Span
import graft.parse.HtmlParser
import graft.select.Selectors
import graft.text.TextUtils

/** Full extraction result for one document row. */
final case class ExtractedDoc(
    spans: List[Span],
    text: String,
    comments: String,
    meta: DocMeta,
    rawTextLen: Int)

/** Top-level per-document extraction (core.py:836-1106 `bare_extraction` /
  * `extract`), the kernel run per row inside the Spark `mapPartitions`
  * transform. Pure Scala — no Spark types. */
object Extraction {
  // hoisted tag sets (per-call Set literals were GC churn — allocation profile)
  private val TagTable = Set("table")
  private val TagP = Set("p")
  private val TagHead = Set("head")
  private val TagH234 = Set("h2", "h3", "h4")
  private val TagRef = Set("ref")

  /** Debug switch: propagate kernel exceptions instead of the reference's
    * silent ValueError channel (core.py:994-996). */
  val rethrow: Boolean = sys.env.contains("GRAFT_KERNEL_RETHROW")

  /** Cooperative work budget per document (replaces the reference's SIGALRM
    * timeout, core.py:1010-1012): max processed nodes per phase. */
  val MaxNodesPerDoc = 2000000

  /** compare_extraction (core.py:656-714): arbitrate between our extraction,
    * the readability-fork candidate, and the jusText rescue. */
  def compareExtraction(tree: Node, backupTree: Node, body: Node, text: String,
      lenTextIn: Int, options: ExtractorOptions): (Node, String, Int) = {
    var (rBody, rText, lenText) = (body, text, lenTextIn)
    val minTargetLength = options.config.minExtractedSize
    if (options.recall && lenText > minTargetLength * 10) return (rBody, rText, lenText)
    // prior cleaning on the backup, then the readability candidate
    var bt = Cleaner.pruneUnwantedNodes(backupTree, Selectors.paywallDiscardRules)
    if (options.precision) bt = Cleaner.pruneUnwantedNodes(bt, Selectors.overallDiscardRules)
    val tempPostAlgo = Fallbacks.tryReadability(bt)
    val algoText = Option(TextUtils.trim(tempPostAlgo.textContent)).getOrElse("")
    val lenAlgo = algoText.length
    var algoFlag = false
    if (lenAlgo == 0 || lenAlgo == lenText) algoFlag = false
    else if (lenText == 0 && lenAlgo > 0) algoFlag = true
    else if (lenText > 2 * lenAlgo) algoFlag = false
    else if (lenAlgo > 2 * lenText) algoFlag = true
    else if (!rBody.iterList(TagP).exists(_.hasAnyTextPiece) && lenAlgo > minTargetLength * 2) algoFlag = true
    else if (rBody.countDescendants(TagTable) > rBody.countDescendants(TagP) &&
      lenAlgo > minTargetLength * 2) algoFlag = true
    else if (options.recall && rBody.descendants(TagHead).isEmpty &&
      tempPostAlgo.descendants(TagH234).nonEmpty && lenAlgo > lenText) algoFlag = true
    else algoFlag = false
    KTrace.log(s"compare: lenText=$lenText lenAlgo=$lenAlgo algoFlag=$algoFlag")
    if (algoFlag) { rBody = tempPostAlgo; rText = algoText; lenText = lenAlgo }
    // justext rescue (external.py:93-107)
    var jtResult = false
    val dirty = rBody.descendants(Selectors.sanitizedTags).nonEmpty
    if (dirty || lenText < minTargetLength) {
      // the reference passes len_text=0 here (core.py:707): justext wins
      // with ANY non-empty output, gated only by the 4x-shorter check below
      val (b2, t2, l2, ok) = Fallbacks.justextRescue(tree, options, 0)
      KTrace.log(s"justext: dirty=$dirty lenText=$lenText jtLen=$l2 ok=$ok take=${ok && !(lenText > 4 * l2)}")
      if (ok && !(lenText > 4 * l2)) { rBody = b2; rText = t2; lenText = l2; jtResult = true }
    }
    if (algoFlag && !jtResult) {
      val (sb, st, sl) = Fallbacks.sanitizeTree(rBody, options)
      rBody = sb; rText = st; lenText = sl
    }
    (rBody, rText, lenText)
  }

  /** Full result incl. the body trees (tests / XML projection). */
  final case class BareResult(doc: ExtractedDoc, body: Node, commentsBody: Node)

  /** bare_extraction (core.py:836-1007). Returns null when the document is
    * discarded (the reference's ValueError channel). */
  def bareExtraction(filecontent: String, url: String = null,
      options: ExtractorOptions = ExtractorOptions(),
      withMetadata: Boolean = true): ExtractedDoc = {
    val r = bareFull(filecontent, url, options, withMetadata)
    if (r == null) null else r.doc
  }

  def bareFull(filecontent: String, url: String = null,
      options: ExtractorOptions = ExtractorOptions(),
      withMetadata: Boolean = true): BareResult = {
    try {
      val tree = HtmlParser.loadHtml(filecontent)
      if (tree == null) return null
      bareExtractionTree(tree, url, options, withMetadata)
    } catch {
      case _: StackOverflowError => null
      case scala.util.control.NonFatal(_) => null
    }
  }

  /** extract with output_format='xml' (tests use this surface). */
  def extractXml(filecontent: String, url: String = null,
      options: ExtractorOptions = ExtractorOptions()): String = {
    val r = bareFull(filecontent, url, options)
    if (r == null) return null
    val m = r.doc.meta
    val metaAttrs = List("sitename" -> m.sitename, "title" -> m.title, "author" -> m.author,
      "date" -> m.date, "url" -> m.url, "hostname" -> m.hostname,
      "description" -> m.description,
      "categories" -> (if (m.categories.nonEmpty) m.categories.mkString(";") else null),
      "tags" -> (if (m.tags.nonEmpty) m.tags.mkString(";") else null),
      "license" -> m.license, "fingerprint" -> m.fingerprint)
    TextUtils.normalizeUnicode(
      Serializers.xmlOutput(r.body, if (options.comments) r.commentsBody else null, metaAttrs))
  }

  def bareExtractionTree(treeIn: Node, url: String, options: ExtractorOptions,
      withMetadata: Boolean): BareResult = {
    KernelBudget.start(options.config.extractionTimeoutSec)
    try {
      val tree = treeIn
      // quick and dirty HTML lang check (core.py:905-908; LANGID_FLAG=False
      // path — our classifier is a heuristic, so the meta check always runs)
      if (options.lang != null && !Filters.checkHtmlLang(tree, options.lang)) return null
      // metadata first (metadata.py works on the uncleaned tree)
      var meta = if (withMetadata) Metadata.extractMetadata(tree, url) else DocMeta()
      // cut short if extracted URL blacklisted (core.py:913-916)
      if (meta.url != null && options.urlBlacklist.contains(meta.url)) return null

      // backups (core.py:934-935); backup2 only feeds the baseline fallback,
      // which zero-config runs can never trigger (len_text < 0 is false)
      val treeBackup1 = if (!options.fast) tree.deepCopy else null
      val treeBackup2 = if (options.config.minExtractedSize > 0) tree.deepCopy else null

      var cleanedTree = Cleaner.treeCleaning(tree, options)
      // the cleaned backup only feeds compare_extraction (skipped in fast mode)
      val cleanedTreeBackup = if (!options.fast) cleanedTree.deepCopy else null
      cleanedTree = Cleaner.convertTags(cleanedTree, options, if (url != null) url else meta.url)

      // comments first, then remove (core.py:944-950)
      val (commentsBody, tempComments, lenComments) =
        if (options.comments) ContentExtractor.extractComments(cleanedTree, options)
        else (null, "", 0)
      if (options.precision)
        cleanedTree = Cleaner.pruneUnwantedNodes(cleanedTree, Selectors.removeCommentsRules)

      var (postbody, tempText, lenText) = ContentExtractor.extractContent(cleanedTree, options)

      if (!options.fast) {
        val r = compareExtraction(cleanedTreeBackup, treeBackup1, postbody, tempText, lenText, options)
        postbody = r._1; tempText = r._2; lenText = r._3
      }
      if (lenText < options.config.minExtractedSize) {
        KTrace.log(s"baseline trigger: lenText=$lenText")
        val r = Baseline.baseline(treeBackup2)
        postbody = r._1; tempText = r._2; lenText = r._3
      }

      // tree size sanity check (core.py:964-973)
      if (options.maxTreeSize > 0) {
        if (postbody.children.length > options.maxTreeSize)
          Dom.stripTags(postbody, "hi")
        if (postbody.children.length > options.maxTreeSize) return null
      }

      // size checks (core.py:975-980)
      if (lenText < options.config.minOutputSize && lenComments < options.config.minOutputCommSize)
        return null

      // body-level dedup (core.py:983-985)
      if (options.dedupOn && Kernel.duplicateTest(postbody, options)) return null

      // language sanity check (core.py:988-992)
      if (options.lang != null) {
        val (wrongLang, detected) = Filters.languageFilter(tempText, tempComments, options.lang)
        if (detected != null) meta = meta.copy(language = detected)
        if (wrongLang) return null
      }

      // spans come from the unmutated body; the txt renderer mutates element
      // text only for markdown formatting and ref links — copy only then
      val spans = Serializers.toSpans(postbody, commentsBody)
      def renderCopy(n: Node): Node =
        if (options.formatting || n.iterLazy(TagRef).hasNext) n.deepCopy else n
      val text = Serializers.xmlToTxt(renderCopy(postbody), options.formatting)
      val commentsTxt =
        if (options.comments && commentsBody != null)
          Serializers.xmlToTxt(renderCopy(commentsBody), options.formatting)
        else null
      BareResult(ExtractedDoc(spans, text, commentsTxt, meta, lenText), postbody, commentsBody)
    } catch {
      case e: StackOverflowError => if (Extraction.rethrow) throw e else null
      case scala.util.control.NonFatal(e) => if (Extraction.rethrow) throw e else null
    } finally KernelBudget.clear()
  }

  /** extract (core.py:1015-1106) with txt output; returns null if discarded. */
  def extract(filecontent: String, url: String = null,
      options: ExtractorOptions = ExtractorOptions()): String = {
    val doc = bareExtraction(filecontent, url, options)
    if (doc == null) return null
    val out =
      if (doc.comments != null && doc.comments.nonEmpty) doc.text + "\n" + doc.comments
      else doc.text
    TextUtils.normalizeUnicode(stripStr(out))
  }

  /** extract with output_format='csv' (determine_returnstring core.py:816-822). */
  def extractCsv(filecontent: String, url: String = null, recordId: String = null,
      options: ExtractorOptions = ExtractorOptions()): String = {
    val doc = extractDoc(filecontent, url, recordId, options)
    if (doc == null) return null
    TextUtils.normalizeUnicode(Serializers.txtToCsv(doc.text,
      if (options.comments) doc.comments else null, doc.meta, recordId))
  }

  /** extract with output_format='json' (core.py:824-825). */
  def extractJson(filecontent: String, url: String = null, recordId: String = null,
      options: ExtractorOptions = ExtractorOptions()): String = {
    val doc = extractDoc(filecontent, url, recordId, options)
    if (doc == null) return null
    TextUtils.normalizeUnicode(Serializers.jsonOutput(doc.meta, doc.text,
      if (options.comments) doc.comments else null))
  }

  /** extract with output_format='xmltei' (core.py:811-812). */
  def extractTei(filecontent: String, url: String = null, recordId: String = null,
      options: ExtractorOptions = ExtractorOptions()): String = {
    val tei = extractTeiTree(filecontent, url, recordId, options)
    if (tei == null) return null
    TextUtils.normalizeUnicode(
      Option(TextUtils.sanitize(Dom.toXml(tei))).getOrElse(""))
  }

  /** The TEI document TREE — extractTei is this plus serialization (so the
    * RelaxNG validation path can never diverge from the shipped output). */
  def extractTeiTree(filecontent: String, url: String = null, recordId: String = null,
      options: ExtractorOptions = ExtractorOptions()): Node = {
    val r = bareFull(filecontent, url, options)
    if (r == null) return null
    val fingerprint = SimHash.contentFingerprint(String.valueOf(r.doc.meta.title) + " " + r.doc.text)
    val meta = r.doc.meta.copy(id = recordId, fingerprint = fingerprint)
    // final empty-element cleanup as in the xml path (core.py:801-808)
    r.body.iterList(null).foreach { element =>
      if (element.tag != "graphic" && element.children.isEmpty &&
        (element.text == null || element.text.isEmpty) &&
        (element.tail == null || element.tail.isEmpty)) {
        val p = element.getparent
        if (p != null) p.remove(element)
      }
    }
    Serializers.stripDoubleTags(r.body)
    Serializers.removeEmptyElements(r.body)
    graft.out.Tei.buildTeiOutput(meta, r.body,
      if (options.comments) r.commentsBody else null, url)
  }

  /** Full result with fingerprint (core.py:1099-1103). */
  def extractDoc(filecontent: String, url: String = null, recordId: String = null,
      options: ExtractorOptions = ExtractorOptions()): ExtractedDoc = {
    val doc = bareExtraction(filecontent, url, options)
    if (doc == null) return null
    val rawText = doc.text
    val fingerprint = SimHash.contentFingerprint(String.valueOf(doc.meta.title) + " " + rawText)
    doc.copy(meta = doc.meta.copy(id = recordId, fingerprint = fingerprint))
  }

  private def stripStr(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && TextUtils.isPyWhitespace(s.charAt(a))) a += 1
    while (b > a && TextUtils.isPyWhitespace(s.charAt(b - 1))) b -= 1
    s.substring(a, b)
  }
}

/** Fallback arbiters (external.py): readability fork + jusText classifier +
  * sanitize_tree post-processing. */
object Fallbacks {
  private val TagCells = Set("td", "th", "tr")
  private val TeiValidTags = Set("ab", "body", "cell", "code", "del", "div", "graphic", "head",
    "hi", "item", "lb", "list", "p", "quote", "ref", "row", "table")
  /** try_readability (external.py:37-46). */
  def tryReadability(backupTree: Node): Node = Readability.tryReadability(backupTree)

  /** justext_rescue (external.py:93-107). */
  def justextRescue(tree: Node, options: ExtractorOptions, lenText: Int): (Node, String, Int, Boolean) = {
    var t = Cleaner.pruneUnwantedNodes(tree, Selectors.paywallDiscardRules)
    t = Cleaner.pruneUnwantedNodes(t, Selectors.removeCommentsRules)
    val tempPost = Justext.tryJustext(t)
    val tempText = Option(TextUtils.trim(tempPost.itertext.mkString(" "))).getOrElse("")
    if (tempText.length > lenText) (tempPost, tempText, tempText.length, true)
    else (null, "", 0, false)
  }

  /** sanitize_tree (external.py:110-139). */
  def sanitizeTree(treeIn: Node, options: ExtractorOptions): (Node, String, Int) = {
    var tree = Cleaner.treeCleaning(treeIn, options)
    tree.descendants(Selectors.sanitizedTags).foreach { e =>
      if (e.parent != null) e.parent.remove(e)
    }
    if (!options.links) Dom.stripTags(tree, "a")
    Dom.stripTags(tree, "span")
    tree = Cleaner.convertTags(tree, options)
    tree.iterLazy(TagCells).foreach { elem =>
      elem.tag match {
        case "tr" => elem.tag = "row"
        case "td" | "th" =>
          if (elem.tag == "th") elem.set("role", "head")
          elem.tag = "cell"
        case _ =>
      }
    }
    val sanitizationList = tree.iterList(null).map(_.tag).distinct.filterNot(TeiValidTags.contains)
    Dom.stripTags(tree, sanitizationList: _*)
    val text = Option(TextUtils.trim(tree.itertext.mkString(" "))).getOrElse("")
    (tree, text, text.length)
  }
}
