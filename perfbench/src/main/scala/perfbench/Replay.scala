package perfbench

import graft.clean.Cleaner
import graft.dom.{Dom, Node}
import graft.extract._
import graft.hash.SimHash
import graft.meta.Metadata
import graft.out.Serializers
import graft.parse.HtmlParser
import graft.select.Selectors

import scala.collection.mutable.ArrayBuffer

/** Phase spans of one document, recorded by [[Replay]]. */
final class PhaseTimer {
  val names = new ArrayBuffer[String](16)
  val starts = new ArrayBuffer[Long](16)
  val ends = new ArrayBuffer[Long](16)
  var nodes = 0
  var fallbackUsed = false
  var baselineUsed = false

  @inline def apply[T](name: String)(body: => T): T = {
    val t0 = Clock.now
    try body
    finally { names += name; starts += t0; ends += Clock.now }
  }
}

/** `Extraction.extractDoc` replayed step by step through the kernel's public
  * phase functions, with a span around each phase. The traced run checks
  * that the replay's result equals `Extraction.extractDoc` on every doc, so
  * the replay cannot drift from the kernel unnoticed.
  *
  * Phase span names: parse, meta, dom.copy, clean.tree, clean.convert,
  * extract.comments, extract.content, extract.compare, extract.baseline,
  * out, hash. `trace.nodes` (the node count) is tracing work, not kernel work. */
object Replay {
  private val TagRef = Set("ref")

  def extractDoc(html: String, recordId: String, options: ExtractorOptions, t: PhaseTimer): ExtractedDoc = {
    val doc = bareExtraction(html, options, t)
    if (doc == null) return null
    val fingerprint = t("hash")(SimHash.contentFingerprint(String.valueOf(doc.meta.title) + " " + doc.text))
    doc.copy(meta = doc.meta.copy(id = recordId, fingerprint = fingerprint))
  }

  // Extraction.bareFull with url = null and withMetadata = true
  private def bareExtraction(html: String, options: ExtractorOptions, t: PhaseTimer): ExtractedDoc =
    try {
      val tree = t("parse")(HtmlParser.loadHtml(html))
      if (tree == null) return null
      t.nodes = t("trace.nodes")(tree.iterLazy(null).size)
      bareExtractionTree(tree, options, t)
    } catch {
      case _: StackOverflowError => null
      case scala.util.control.NonFatal(_) => null
    }

  // Extraction.bareExtractionTree, phase by phase
  private def bareExtractionTree(tree: Node, options: ExtractorOptions, t: PhaseTimer): ExtractedDoc = {
    KernelBudget.start(options.config.extractionTimeoutSec)
    try {
      if (options.lang != null && !Filters.checkHtmlLang(tree, options.lang)) return null
      var meta = t("meta")(Metadata.extractMetadata(tree, null))
      if (meta.url != null && options.urlBlacklist.contains(meta.url)) return null

      val (treeBackup1, treeBackup2) = t("dom.copy") {
        (if (!options.fast) tree.deepCopy else null,
          if (options.config.minExtractedSize > 0) tree.deepCopy else null)
      }
      var cleanedTree = t("clean.tree")(Cleaner.treeCleaning(tree, options))
      val cleanedTreeBackup = t("dom.copy")(if (!options.fast) cleanedTree.deepCopy else null)
      cleanedTree = t("clean.convert")(Cleaner.convertTags(cleanedTree, options, meta.url))

      val (commentsBody, tempComments, lenComments) =
        if (options.comments) t("extract.comments")(ContentExtractor.extractComments(cleanedTree, options))
        else (null, "", 0)
      if (options.precision)
        cleanedTree = t("clean.tree")(Cleaner.pruneUnwantedNodes(cleanedTree, Selectors.removeCommentsRules))

      var (postbody, tempText, lenText) = t("extract.content")(ContentExtractor.extractContent(cleanedTree, options))

      if (!options.fast) {
        val r = t("extract.compare") {
          Extraction.compareExtraction(cleanedTreeBackup, treeBackup1, postbody, tempText, lenText, options)
        }
        t.fallbackUsed = r._1 ne postbody
        postbody = r._1; tempText = r._2; lenText = r._3
      }
      if (lenText < options.config.minExtractedSize) {
        t.baselineUsed = true
        val r = t("extract.baseline")(Baseline.baseline(treeBackup2))
        postbody = r._1; tempText = r._2; lenText = r._3
      }

      if (options.maxTreeSize > 0) {
        if (postbody.children.length > options.maxTreeSize) Dom.stripTags(postbody, "hi")
        if (postbody.children.length > options.maxTreeSize) return null
      }
      if (lenText < options.config.minOutputSize && lenComments < options.config.minOutputCommSize)
        return null
      if (options.dedupOn && Kernel.duplicateTest(postbody, options)) return null
      if (options.lang != null) {
        val (wrongLang, detected) = Filters.languageFilter(tempText, tempComments, options.lang)
        if (detected != null) meta = meta.copy(language = detected)
        if (wrongLang) return null
      }

      t("out") {
        val spans = Serializers.toSpans(postbody, commentsBody)
        def renderCopy(n: Node): Node =
          if (options.formatting || n.iterLazy(TagRef).hasNext) n.deepCopy else n
        val text = Serializers.xmlToTxt(renderCopy(postbody), options.formatting)
        val commentsTxt =
          if (options.comments && commentsBody != null)
            Serializers.xmlToTxt(renderCopy(commentsBody), options.formatting)
          else null
        ExtractedDoc(spans, text, commentsTxt, meta, lenText)
      }
    } catch {
      case e: StackOverflowError => if (Extraction.rethrow) throw e else null
      case scala.util.control.NonFatal(e) => if (Extraction.rethrow) throw e else null
    } finally KernelBudget.clear()
  }
}
