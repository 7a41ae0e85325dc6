package graft

import graft.extract.{Extraction, ExtractorOptions, TrafConfig}
import graft.out.RelaxNg
import org.scalatest.funsuite.AnyFunSuite

/** TEI RelaxNG validation (derivative algorithm) against the reference's
  * own schema asset (TEI P5 3.6.0). */
class RelaxNgSpec extends AnyFunSuite {

  private def opts = ExtractorOptions(
    config = TrafConfig.Zero, formatting = true, comments = true)

  // the TEI tree projection of one kernel run (null when the page is discarded)
  private def teiTree(html: String, url: String, recordId: String, o: ExtractorOptions): graft.dom.Node =
    Option(Extraction.run(html, url, recordId, o)).map(_.teiTree).orNull

  /** Minimal valid TEI tree built programmatically (the HTML tokenizer
    * lowercases names; TEI is case-sensitive). */
  private def minimalTei(): graft.dom.Node = {
    import graft.dom.Dom.{elem, subElement}
    val tei = elem("TEI")
    val header = subElement(tei, "teiHeader")
    val fileDesc = subElement(header, "fileDesc")
    val titleStmt = subElement(fileDesc, "titleStmt")
    subElement(titleStmt, "title").text = "T"
    subElement(subElement(fileDesc, "publicationStmt"), "p").text = "pub"
    subElement(subElement(fileDesc, "sourceDesc"), "p").text = "src"
    val text = subElement(tei, "text")
    val body = subElement(text, "body")
    subElement(body, "p").text = "hello world"
    tei
  }

  test("schema loads and validates a minimal hand-built TEI document") {
    val t0 = System.nanoTime()
    val schema = RelaxNg.teiSchema
    val loadSec = (System.nanoTime() - t0) / 1e9
    assert(loadSec < 60, s"schema load took ${loadSec}s")
    assert(schema.validate(minimalTei()), "minimal TEI should validate")
  }

  test("structurally invalid documents are rejected") {
    val schema = RelaxNg.teiSchema
    // missing <text> wrapper: move body under TEI
    val bad1 = minimalTei()
    val txt = bad1.children.last
    val body1 = txt.children.head
    bad1.remove(txt)
    bad1.append(body1)
    assert(!schema.validate(bad1), "missing <text> wrapper must fail")
    // unknown element
    val bad2 = minimalTei()
    val p2 = bad2.children.last.children.head.children.head
    p2.tag = "notATeiElement"
    assert(!schema.validate(bad2), "unknown element must fail")
    // unknown attribute
    val bad3 = minimalTei()
    bad3.children.last.children.head.children.head.set("bogusattr", "x")
    assert(!schema.validate(bad3), "unknown attribute must fail")
    // known attribute with list-typed value still validates
    val ok4 = minimalTei()
    ok4.children.last.children.head.children.head.set("rend", "it")
    assert(schema.validate(ok4), "rend attribute should validate")
  }

  test("the pipeline's own TEI output validates against the schema") {
    val schema = RelaxNg.teiSchema
    val pages = Seq(
      """<html><head><title>Doc one</title><meta name="author" content="Jane Doe"/></head>
        |<body><div class="article-body"><h2>Heading</h2><p>First paragraph with <b>bold</b> text.</p>
        |<ul><li>item one</li><li>item two</li></ul>
        |<blockquote>a quote</blockquote><p>closing words</p></div>
        |<div class="comments"><p>a comment</p></div></body></html>""".stripMargin,
      """<html><head><title>Doc two</title></head><body><article>
        |<p>Short piece of content for the second page.</p>
        |<table><tr><td>a</td><td>b</td></tr></table></article></body></html>""".stripMargin)
    pages.zipWithIndex.foreach { case (html, i) =>
      val tei = teiTree(html, s"https://example.org/p$i", s"doc$i", opts)
      assert(tei != null, s"page $i produced no TEI")
      assert(schema.validate(tei), s"page $i TEI output failed schema validation")
    }
  }

  test("real-world cache pages: TEI output validates against the schema") {
    val dir = new java.io.File("/root/reference/tests/cache")
    val pages = FixtureCorpus.listFiles(dir).filter(_.getName.endsWith(".html")).sortBy(_.getName).take(12)
    assert(pages.nonEmpty)
    var checked = 0
    pages.foreach { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val html = graft.parse.HtmlParser.decodeFile(bytes)
      val tei = teiTree(html, "https://example.org/x", "id1", opts)
      if (tei != null) {
        assert(RelaxNg.validateTei(tei), s"${f.getName} TEI failed validation")
        checked += 1
      }
    }
    assert(checked >= 8, s"only $checked pages produced TEI")
  }

  test("committed real pages: TEI output validates against the schema") {
    (0 until 3).foreach { i =>
      val in = getClass.getResourceAsStream(s"/graft/brotli/page${i}_q1.raw")
      val html = graft.parse.HtmlParser.decodeFile(try in.readAllBytes() finally in.close())
      val tei = teiTree(html, "https://example.org/x", "id1", opts)
      assert(tei != null, s"page${i}_q1 produced no TEI")
      assert(RelaxNg.validateTei(tei), s"page${i}_q1 TEI failed validation")
    }
  }
}
