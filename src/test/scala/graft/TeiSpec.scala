package graft

import graft.dom.{Dom, Node}
import graft.extract.{Extraction, ExtractorOptions, TrafConfig}
import graft.out.Tei
import graft.parse.HtmlParser
import org.scalatest.funsuite.AnyFunSuite

/** TEI output golden cases (tests/unit_tests.py:499-550 + xml_tei semantics). */
class TeiSpec extends AnyFunSuite {

  private val Zero = ExtractorOptions(config = TrafConfig.Zero)

  /** Build a tiny TEI-ish tree: <TEI><text><body>…</body></text></TEI>. */
  private def teiWith(inner: Node): Node = {
    val tei = Dom.elem("TEI")
    val text = Dom.subElement(tei, "text")
    val body = Dom.subElement(text, "body")
    body.append(inner)
    tei
  }

  // the tei projection of one kernel run (null when the page is discarded)
  private def tei(html: String, url: String, recordId: String, o: ExtractorOptions): String =
    Option(Extraction.run(html, url, recordId, o)).map(_.tei).orNull

  private def firstDiv(tei: Node): Node =
    tei.iterList(Set("div")).head

  private def tagsAndText(n: Node): List[(String, String)] =
    n.iterList(null).map(e => (e.tag, e.text))

  test("check_tei: bare div text becomes p (unit_tests.py:499-503)") {
    val div = Dom.elem("div")
    div.text = "text"
    val cleaned = Tei.checkTei(teiWith(div))
    assert(tagsAndText(firstDiv(cleaned)) == List(("div", null), ("p", "text")))
  }

  test("check_tei: nested div text1 + p text2 merge (unit_tests.py:504-508)") {
    val outer = Dom.elem("div")
    val inner = Dom.subElement(outer, "div")
    inner.text = "text1"
    Dom.subElement(inner, "p").text = "text2"
    val cleaned = Tei.checkTei(teiWith(outer))
    assert(tagsAndText(firstDiv(cleaned)) == List(("div", null), ("div", null), ("p", "text1 text2")))
  }

  test("check_tei: div text + head becomes p + ab (unit_tests.py:509-513)") {
    val outer = Dom.elem("div")
    val inner = Dom.subElement(outer, "div")
    inner.text = "text1"
    Dom.subElement(inner, "head").text = "text2"
    val cleaned = Tei.checkTei(teiWith(outer))
    assert(tagsAndText(firstDiv(cleaned)) ==
      List(("div", null), ("div", null), ("p", "text1"), ("ab", "text2")))
  }

  test("check_tei: div tail moved into p (unit_tests.py:514-518)") {
    val outer = Dom.elem("div")
    val inner = Dom.subElement(outer, "div")
    inner.text = "text1"
    Dom.subElement(inner, "p").text = "text2"
    inner.tail = "has to be there"
    val cleaned = Tei.checkTei(teiWith(outer))
    val innerDiv = firstDiv(cleaned).children.head
    assert(innerDiv.tag == "div")
    assert(tagsAndText(innerDiv) == List(("div", null), ("p", "text1 text2 has to be there")))
  }

  test("check_tei: div tail after quote becomes trailing p (unit_tests.py:519-523)") {
    val outer = Dom.elem("div")
    val inner = Dom.subElement(outer, "div")
    inner.text = "text1"
    Dom.subElement(inner, "quote").text = "text2"
    inner.tail = "has to be there"
    val cleaned = Tei.checkTei(teiWith(outer))
    val innerDiv = firstDiv(cleaned).children.head
    assert(tagsAndText(innerDiv) ==
      List(("div", null), ("p", "text1"), ("quote", "text2"), ("p", "has to be there")))
  }

  test("check_tei: p tail merged (unit_tests.py:524-528)") {
    val outer = Dom.elem("div")
    val inner = Dom.subElement(outer, "div")
    inner.text = "text1"
    val p = Dom.subElement(inner, "p")
    p.text = "text2"
    p.tail = "has to be there"
    val cleaned = Tei.checkTei(teiWith(outer))
    val innerDiv = firstDiv(cleaned).children.head
    assert(tagsAndText(innerDiv) == List(("div", null), ("p", "text1 text2 has to be there")))
  }

  test("tei end-to-end headers (unit_tests.py:532-535)") {
    val h = "<html><body><article><h1>title</h1><h2>subtitle</h2><p>text</p></article></body></html>"
    val out = tei(h, "mocked", null, Zero.copy(fast = true))
    assert(out != null)
    assert(out.contains("<ab rend=\"h1\" type=\"header\">title</ab>"), out)
    assert(out.contains("<ab rend=\"h2\" type=\"header\">subtitle</ab>"), out)
    assert(out.contains("teiHeader"))
  }

  test("tei complex head with list (unit_tests.py:536-550)") {
    val h = """<html><body><article><h2><div><p>content</p><ul><li>text1</li><li>text2</li></ul></div></h2></article></body></html>"""
    val out = tei(h, "mocked", null, Zero.copy(fast = true))
    assert(out != null)
    assert(out.replace("\n", "").contains("<ab rend=\"h2\" type=\"header\">content<list rend=\"ul\"><item>text1"), out)
  }

  test("exotic_tags check_tei fixture (unit_tests.py:173-177)") {
    val content = new String(FixtureCorpus.readAllBytes(
      java.nio.file.Paths.get("/root/reference/tests/resources/exotic_tags_tei.html")), "UTF-8")
    // fixture is XML-ish; parse leniently and scrub
    val tree = HtmlParser.parseXmlLike(content)
    val res = Tei.checkTei(tree)
    val s = Dom.toXml(res)
    assert(s.contains("<hi rend=\"uppercase\">Hello</hi>"), s.take(300))
    assert(s.contains("<p>Teletype text</p>"), s.take(300))
  }

  // ---- strip_double_tags / remove_empty_elements (unit_tests.py:552-648)

  private def parseX(x: String) = HtmlParser.parseXmlLike(x)

  test("strip_double_tags: nested p flattened (unit_tests.py:581-592)") {
    val tree = parseX("<html><body><div><p>text1<lb/>text2<p>text3</p><lb/>text4</p><p>text5<p>text6</p></p></div></body></html>")
    graft.out.Serializers.stripDoubleTags(tree)
    assert(!tree.iterList(Set("p")).exists(p => p.children.exists(_.tag == "p")))
  }

  test("strip_double_tags: deep nesting keeps text (unit_tests.py:593-605)") {
    val tree = parseX("<html><body><div><p>text1<lb/>text2<p>text3</p><lb/>text4</p><p>text5<p>text6<p>text7</p></p></p></div></body></html>")
    graft.out.Serializers.stripDoubleTags(tree)
    assert(!tree.iterList(Set("p")).exists(p => p.children.exists(_.tag == "p")))
    assert(graft.dom.Dom.toXml(tree).contains("text7"))
  }

  test("strip_double_tags: whitelist parents keep nested p (unit_tests.py:607-648)") {
    val tree = parseX("<html><body><div>" +
      "<p><list><item><p>text</p></item></list></p>" +
      "<p><table><row><cell><p>text1</p></cell></row></table></p>" +
      "<p><note><p>text2</p></note></p>" +
      "<p><quote><p>text3</p></quote></p>" +
      "<p><figure><p>text4</p></figure></p>" +
      "</div></body></html>")
    graft.out.Serializers.stripDoubleTags(tree)
    for (parent <- List("item", "cell", "quote", "note", "figure")) {
      val hit = tree.iterList(Set(parent)).exists(_.children.exists(_.tag == "p"))
      assert(hit, s"nested p under $parent should survive")
    }
  }

  test("merge_with_parent over spans (unit_tests.py:667-677)") {
    val doc = parseX("<html><body><p><span>A</span><span>B</span><span>C</span></p></body></html>")
    doc.iterList(Set("span")).foreach(graft.out.Serializers.mergeWithParent(_))
    assert(graft.dom.Dom.toXml(doc).contains("<p>A B C</p>"))
    val doc2 = parseX("<html><body><p><span>A</span><span>B</span> tail<span>C</span></p></body></html>")
    doc2.iterList(Set("span")).foreach(graft.out.Serializers.mergeWithParent(_))
    assert(graft.dom.Dom.toXml(doc2).contains("<p>A B tail C</p>"))
  }
}
