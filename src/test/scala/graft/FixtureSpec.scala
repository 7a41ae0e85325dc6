package graft

import graft.extract.{Extraction, ExtractorOptions, TrafConfig}
import graft.parse.HtmlParser
import org.scalatest.funsuite.AnyFunSuite

/** Golden cases over the reference's real page fixtures
  * (read-only at /root/reference/tests/resources — FIXTURES.md §3). */
class FixtureSpec extends AnyFunSuite {

  private val Res = "/root/reference/tests/resources"
  private val Zero = ExtractorOptions(config = TrafConfig.Zero)

  private def readFile(name: String): String =
    HtmlParser.decodeFile(FixtureCorpus.readAllBytes(java.nio.file.Paths.get(Res, name)))

  // the txt projection of one kernel run (null when the page is discarded)
  private def txt(html: String, url: String, o: ExtractorOptions): String =
    Option(Extraction.run(html, url, null, o)).map(_.txt).orNull

  // the xml projection of one kernel run (null when the page is discarded)
  private def xml(html: String, url: String, o: ExtractorOptions): String =
    Option(Extraction.run(html, url, null, o)).map(_.xml).orNull

  test("exotic_tags.html (unit_tests.py:167-172)") {
    val html = readFile("exotic_tags.html")
    val r = txt(html, "http://exotic_tags", Zero)
    assert(r != null && r.contains("Teletype text") && r.contains("My new car is silver."), r)
  }

  test("webpage.html.gz end-to-end (unit_tests.py:134-136)") {
    val bytes = FixtureCorpus.readAllBytes(java.nio.file.Paths.get(Res, "webpage.html.gz"))
    val html = HtmlParser.decodeFile(bytes)
    val r = txt(html, null, ExtractorOptions())
    assert(r != null && r.contains("Long story short,"), if (r == null) "null" else r.take(200))
  }

  test("http_sample.html images + links (unit_tests.py:403-407,441-445)") {
    val html = readFile("http_sample.html")
    val rDefault = txt(html, null, ExtractorOptions())
    assert(rDefault != null && !rDefault.contains("![Example image](test.jpg)"))
    val rImg = txt(html, null,
      ExtractorOptions(fast = true, images = true))
    assert(rImg.contains("![Example image](test.jpg)"), rImg)
    val rLink = txt(html, null,
      Zero.copy(fast = true, links = true))
    assert(rLink.contains("[link](testlink.html)"), rLink)
    val rXml = xml(html, null, Zero.copy(fast = true, links = true))
    assert(rXml.contains("<ref target=\"testlink.html\">link</ref>"), rXml)
    val rImgXml = xml(html, null, Zero.copy(fast = true, images = true))
    assert(rImgXml.contains("<graphic src=\"test.jpg\" title=\"Example image\"/>"), rImgXml)
  }

  test("apache.html tables toggle (unit_tests.py:382-385)") {
    val html = readFile("apache.html")
    val withTables = txt(html, null, ExtractorOptions(tables = true))
    assert(withTables != null && withTables.contains("localhost:80"))
    val noTables = txt(html, null, ExtractorOptions(tables = false))
    assert(noTables == null || !noTables.contains("localhost:80"))
  }

  test("scam.html rejected (unit_tests.py:386-389)") {
    // the reference suite runs with the mutated ZERO config (unit_tests.py:45-47)
    val html = readFile("scam.html")
    val r1 = txt(html, null, Zero.copy(fast = true, tables = false))
    assert(r1 == null || r1 == "", String.valueOf(r1).take(200))
    val r2 = txt(html, null, Zero.copy(tables = false))
    assert(r2 == null || r2 == "", String.valueOf(r2).take(200))
  }

  test("utf8.html round-trips") {
    val html = readFile("utf8.html")
    val r = txt(html, null, Zero)
    assert(r != null && r.nonEmpty)
  }

  test("charset cascade: declared gb2312 after bogus utf-8 declarations") {
    val body = "<html><head><script charset=\"utf-8\"></script>" +
      "<meta http-equiv=\"Content-Type\" content=\"text/html; charset=gb2312\"/>" +
      "</head><body><p>河北农业大学的毕业生信守十五年的约定。</p></body></html>"
    val bytes = body.getBytes(java.nio.charset.Charset.forName("GB2312"))
    val decoded = HtmlParser.decodeFile(bytes)
    assert(decoded.contains("河北农业大学"), decoded.take(200))
  }

  test("charset fallback: cp1251 page without any declaration") {
    val body = "<html><body><p>Это статья о русском языке и его истории. " +
      "Москва является столицей России.</p></body></html>"
    val bytes = body.getBytes(java.nio.charset.Charset.forName("windows-1251"))
    val decoded = HtmlParser.decodeFile(bytes)
    assert(decoded.contains("Москва"), decoded.take(200))
  }

  test("charset fallback: shift-jis page without any declaration") {
    val body = "<html><body><p>日本語のページです。東京は日本の首都です。" +
      "ひらがなとカタカナも含まれています。</p></body></html>"
    val bytes = body.getBytes(java.nio.charset.Charset.forName("Shift_JIS"))
    val decoded = HtmlParser.decodeFile(bytes)
    assert(decoded.contains("東京"), decoded.take(200))
  }

  test("charset fallback: latin-1 page with sparse umlauts stays latin") {
    val body = "<html><body><p>Die Künstlerin wohnt in München und fährt " +
      "täglich über die Brücke zur Universität.</p></body></html>"
    val bytes = body.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val decoded = HtmlParser.decodeFile(bytes)
    assert(decoded.contains("München"), decoded.take(200))
  }
}
