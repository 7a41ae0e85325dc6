package graft

import graft.extract.{Extraction, ExtractorOptions, KernelResult, TrafConfig}
import graft.hash.{Blake2b, SimHash}
import graft.out.Serializers.Span
import graft.parse.HtmlParser
import graft.text.TextUtils
import org.scalatest.funsuite.AnyFunSuite

/** Golden-case suite ported from the reference's own tests
  * (tests/unit_tests.py — cited per case). Pure-kernel layer: no Spark. */
class KernelSpec extends AnyFunSuite {

  private val Zero = ExtractorOptions(config = TrafConfig.Zero)
  private val ZeroFast = Zero.copy(fast = true)

  // one projection of one kernel run (null when the page is discarded)
  private def render(html: String, o: ExtractorOptions, url: String = null)(
      format: KernelResult => String): String =
    Option(Extraction.run(html, url, null, o)).map(format).orNull

  private def txt(html: String, o: ExtractorOptions = Zero, url: String = null): String =
    render(html, o, url)(_.txt)

  private def xml(html: String, o: ExtractorOptions = Zero, url: String = null): String =
    render(html, o, url)(_.xml)

  private def spans(html: String, o: ExtractorOptions = Zero): List[Span] = {
    val d = Extraction.extractDoc(html, null, null, o)
    if (d == null) Nil else d.spans
  }

  // ----- text utils (unit_tests.py:89-110)

  test("trim (unit_tests.py:91-92)") {
    assert(TextUtils.trim("\tTest  ") == "Test")
    assert(TextUtils.trim("\t\tTest  Test\r\n") == "Test Test")
  }

  test("textfilter (unit_tests.py:93-100)") {
    assert(!TextUtils.textFilterString("Test Text"))
    assert(TextUtils.textFilterString("Instagram"))
    assert(TextUtils.textFilterString("\t\t"))
  }

  test("sanitize nbsp (unit_tests.py:102-105)") {
    assert(TextUtils.sanitize(null) == null)
    assert(TextUtils.sanitize("Test&nbsp;Text") == "Test Text")
  }

  // ----- input handling (unit_tests.py:113-141)

  test("doctype repair (unit_tests.py:116-121)") {
    assert(TextUtils.stripFaultyDoctypes("<!DOCTYPE html PUBLIC />\n<html/>",
      "<!doctype html public />\n<html/>".take(50)) == "\n<html/>")
    val ok = "<html>\n</html>"
    assert(TextUtils.stripFaultyDoctypes(ok, ok.take(50).toLowerCase) == ok)
  }

  test("load_html basic (unit_tests.py:125-127)") {
    assert(HtmlParser.loadHtml("<html><body>ÄÖÜ</body></html>") != null)
    assert(txt(null, ExtractorOptions(), "url") == null)
  }

  test("unicode NFC Äffin (unit_tests.py:139-141)") {
    assert(TextUtils.normalizeUnicode("Äffin") != "Äffin")
    val res = txt("<html><body><p>Äffin</p></body></html>")
    assert(res == "Äffin")
  }

  test("gzip input decode (unit_tests.py:134-136 analogue)") {
    val raw = "<html><body><article><p>Long story short, this is a gzipped page body with enough text.</p></article></body></html>"
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(raw.getBytes("UTF-8")); gz.close()
    val decoded = HtmlParser.decodeFile(bos.toByteArray)
    assert(decoded == raw)
    assert(txt(decoded).contains("Long story short,"))
  }

  // ----- formatting (unit_tests.py:243-326)

  test("trailing lb dropped (unit_tests.py:248-250)") {
    val r = xml("<html><body><p>This here is the text.<br/></p></body></html>")
    assert(!r.contains("lb"))
  }

  test("simple bold formatting xml (unit_tests.py:252-254)") {
    val r = xml("<html><body><p><b>This here is in bold font.</b></p></body></html>",
      Zero.copy(formatting = true))
    assert(r.contains("<hi rend=\"#b\">This here is in bold font.</hi>"))
  }

  test("titles as markdown (unit_tests.py:256-258)") {
    val r = txt("<html><body><article><h3>Title</h3><p><b>This here is in bold font.</b></p></article></body></html>",
      Zero.copy(formatting = true))
    assert(r == "### Title\n**This here is in bold font.**")
  }

  test("titles markdown span sequence (FIXTURES.md 3.1)") {
    val s = spans("<html><body><article><h3>Title</h3><p><b>This here is in bold font.</b></p></article></body></html>")
    assert(s.map(x => (x.kind, x.text, x.offset)) ==
      List(("head", "Title", 0), ("p", "This here is in bold font.", 1)))
  }

  test("nested formatting flattened (unit_tests.py:260-262)") {
    val r = xml("<html><body><p><b>This here is in bold and <i>italic</i> font.</b></p></body></html>",
      Zero.copy(formatting = true))
    assert(r.contains("<hi rend=\"#b\">This here is in bold and italic font.</hi>"))
  }

  test("empty formatting -> empty main (unit_tests.py:264-266)") {
    val r = xml("<html><body><p><b><i></i></b></p></body></html>", Zero.copy(formatting = true))
    assert(r.contains("<main/>"))
  }

  test("wild div with strong (unit_tests.py:268-272)") {
    val r = xml("<html><body><article><div><strong>Wild text</strong></div></article></body></html>",
      Zero.copy(formatting = true))
    assert(r.contains("<p>") && r.contains("<hi rend=\"#b\">Wild text</hi>"))
    val t = txt("<html><body><article><div><strong>Wild text</strong></div></article></body></html>")
    assert(t == "Wild text")
  }

  test("link text only (unit_tests.py:274-276)") {
    assert(txt("<html><body><p><a href=\"\">Link text</a></p></body></html>") == "Link text")
  }

  test("lone line-break (unit_tests.py:278-283)") {
    assert(txt("<html><body><p><br/></p></body></html>") == "")
    assert(txt("<html><body><p><br/>Here is the text.</p></body></html>") == "Here is the text.")
  }

  test("empty divs skipped (unit_tests.py:292-294, needs readability fallback)") {
    val r = xml("<html><body><div>\t\n</div><div>There is text here.</div></body></html>")
    assert(r.contains("<p>There is text here.</p>"), r)
  }

  test("list item with link (unit_tests.py:296-298)") {
    val r = xml("<html><body><article><ul><li>Number 1</li><li>Number <a href=\"test.html\">2</a></li><li>Number 3</li><p>Test</p></article></body></html>",
      Zero.copy(links = true))
    assert(r.contains("<item>Number <ref target=\"test.html\">2</ref></item>"))
  }

  test("txt formatting within p (unit_tests.py:300-304)") {
    val html = "<html><body><p><b>bold</b>, <i>italics</i>, <tt>tt</tt>, <strike>deleted</strike>, <u>underlined</u>, <a href=\"test.html\">link</a> and additional text to bypass detection.</p></body></html>"
    val r = txt(html, ZeroFast)
    assert(r == "bold, italics, tt,\ndeleted, underlined, link and additional text to bypass detection.")
  }

  test("xml formatting within p (unit_tests.py:305-309)") {
    val html = "<html><body><p><b>bold</b>, <i>italics</i>, <tt>tt</tt>, <strike>deleted</strike>, <u>underlined</u>, <a href=\"test.html\">link</a> and additional text to bypass detection.</p></body></html>"
    val r = xml(html, ZeroFast.copy(formatting = true))
    assert(r.contains("<p><hi rend=\"#b\">bold</hi>, <hi rend=\"#i\">italics</hi>, <hi rend=\"#t\">tt</hi>, <del rend=\"overstrike\">deleted</del>, <hi rend=\"#u\">underlined</hi>, link and additional text to bypass detection.</p>")
      || r.contains("<p><hi rend=\"#b\">bold</hi>, <hi rend=\"#i\">italics</hi>, <hi rend=\"#t\">tt</hi>, <del>deleted</del>, <hi rend=\"#u\">underlined</hi>, link and additional text to bypass detection.</p>"))
    val r2 = xml(html, ZeroFast.copy(formatting = true, links = true))
    assert(r2.contains("<ref target=\"test.html\">link</ref>"))
  }

  test("markdown formatting within p (unit_tests.py:310-311)") {
    val html = "<html><body><p><b>bold</b>, <i>italics</i>, <tt>tt</tt>, <strike>deleted</strike>, <u>underlined</u>, <a href=\"test.html\">link</a> and additional text to bypass detection.</p></body></html>"
    val r = txt(html, ZeroFast.copy(formatting = true))
    assert(r == "**bold**, *italics*, `tt`, ~~deleted~~, __underlined__, link and additional text to bypass detection.")
  }

  test("double p-elems (unit_tests.py:313-317)") {
    val r = xml("<html><body><p>AAA, <p>BBB</p>, CCC.</p></body></html>",
      ZeroFast.copy(formatting = true, links = true))
    assert(r.contains("AAA") && r.contains("BBB") && r.contains("CCC"))
  }

  test("line-break after formatting (unit_tests.py:319-322)") {
    val r = txt("<html><body><article><p><strong>Staff Review of the Financial Situation</strong><br>Domestic financial conditions remained accommodative over the intermeeting period.</p></article></body></html>",
      ZeroFast)
    assert(r == "Staff Review of the Financial Situation\nDomestic financial conditions remained accommodative over the intermeeting period.")
  }

  test("title with inline code (unit_tests.py:323-326)") {
    val r = xml("<html><body><article><h4 id=\"1theinoperator\">1) The <code>in</code> Operator</h4><p>The easiest way to check if a Python string contains a substring is to use the <code>in</code> operator. The <code>in</code> operator is used to check data structures for membership in Python. It returns a Boolean (either <code>True</code> or <code>False</code>) and can be used as follows:</p></article></body></html>",
      ZeroFast.copy(formatting = true))
    assert(r.contains("<head rend=\"h4\">1) The <code>in</code> Operator</head>"))
    assert(r.contains("<p>The easiest way to check if a Python string contains a substring is to use the <code>in</code> operator."))
  }

  // ----- exotic (unit_tests.py:167-240)

  test("misformed doctype (unit_tests.py:179-181)") {
    val h = "<!DOCTYPE HTML PUBLIC \"-//W3C//DTD HTML 4.01 Transitional//EN\" 2012\"http://www.w3.org/TR/html4/loose.dtd\"><html><head></head><body><p>ABC</p></body></html>"
    assert(txt(h).contains("ABC"))
  }

  test("naked div with lb (unit_tests.py:194)") {
    val r = txt("<html><body><main><div>1.<br/>2.<br/>3.<br/></div></main></body></html>", ZeroFast)
    assert(r.contains("1.\n2.\n3."))
  }

  test("details/summary (unit_tests.py:196-200)") {
    val h = "<html><body><article><details><summary>Epcot Center</summary><p>Epcot is a theme park at Walt Disney World Resort featuring exciting attractions, international pavilions, award-winning fireworks and seasonal special events.</p></details></article></body></html>"
    val r1 = txt(h, ZeroFast)
    assert(r1.contains("Epcot Center") && r1.contains("award-winning fireworks"))
    val r2 = txt(h, Zero)
    assert(r2.contains("Epcot Center") && r2.contains("award-winning fireworks"))
  }

  test("lorem edge case non-null (unit_tests.py:202-220)") {
    val h = """<!DOCTYPE html>
<html>
  <head>
    <meta charset="UTF-8">
    <title>A weird bug</title>
  </head>
  <body>
      <div>
        <h1>Lorem ipsum dolor sit amet, consectetur adipiscing elit.</h1>
        <h2>Sed et interdum lectus.</h2>
        <p>Quisque molestie nunc eu arcu condimentum fringilla.</p>
        <strong><a></a></strong>
        <h2>Aliquam eget interdum elit, id posuere ipsum.</h2>
        <p>Phasellus lectus erat, hendrerit sed tortor ac, dignissim vehicula metus.</p>
      </div>
  </body>
</html>"""
    assert(txt(h, ExtractorOptions(formatting = true, links = true, images = true)) != null)
  }

  test("comments extraction (unit_tests.py:240)") {
    val r = txt("<html><body><article><p>text</p><div class=\"comments\"><p>comment</p></div></article></body></html>",
      ZeroFast.copy(comments = true))
    assert(r.endsWith("\ncomment"))
  }

  test("paywall filtering (unit_tests.py:679-681)") {
    val h = "<html><body><main><p>1</p><p id=\"paywall\">2</p><p>3</p></main></body></html>"
    assert(txt(h, ZeroFast) == "1\n3")
    assert(txt(h, Zero) == "1\n3")
  }

  // ----- precision / recall (unit_tests.py:715-732)

  test("teaser content modes (unit_tests.py:721-724)") {
    val h = "<html><body><div class=\"article-body\"><div class=\"teaser-content\"><p>This here is a teaser text.</p></div><div><p>This here is the text.</p></div></body></html>"
    assert(txt(h, ZeroFast.copy(recall = true)).contains("teaser text"))
    assert(!txt(h, ZeroFast).contains("teaser text"))
    assert(!txt(h, ZeroFast.copy(precision = true)).contains("teaser text"))
  }

  test("link-density removal in modes (unit_tests.py:725-729)") {
    val h = "<html><body><article><div><p><a href=\"test.html\">1.</a><br/><a href=\"test2.html\">2.</a></p></div></article></body></html>"
    val r1 = txt(h, ZeroFast.copy(recall = true))
    assert(r1 == null || !r1.contains("1"))
    val r2 = txt(h, ZeroFast.copy(precision = true))
    assert(r2 == null || !r2.contains("1"))
  }

  test("precision drops trailing heading (unit_tests.py:730-732)") {
    val h = "<html><body><div class=\"article-body\"><p>content</p><h2>Test</h2></div></body></html>"
    val r = txt(h, ZeroFast.copy(precision = true))
    assert(r.contains("content") && !r.contains("Test"))
  }

  // ----- baseline (unit_tests.py:329-346)

  test("baseline JSON-LD articleBody (unit_tests.py:332-334)") {
    val h = """<html><body><script type="application/ld+json">{"headline":"Ikigai macht dich sofort glücklicher!","articleBody":"In letzter Zeit kam man am Begriff \"Hygge\" (\"gemütlich\" oder \"angenehm\") nicht vorbei. Jetzt macht ihm ein neuer Glücks-Trend Konkurrenz: \"Ikigai\". Bist du glücklich? Schwierige Frage, nicht wahr? Viele von uns müssen da erst mal überlegen.","@type":"NewsArticle"}</script></body></html>"""
    val (_, result, _) = graft.extract.Baseline.baseline(h)
    assert(result.startsWith("In letzter Zeit kam man"), result.take(60))
    assert(result.endsWith("erst mal überlegen."), result.takeRight(40))
  }

  test("baseline article text (unit_tests.py:335-343)") {
    val (_, r1, _) = graft.extract.Baseline.baseline(
      "<html><body><article>" + "The article consists of this text." * 10 + "</article></body></html>")
    assert(r1 != null && r1.nonEmpty)
    val (_, r2, _) = graft.extract.Baseline.baseline(
      "<html><body><quote>This is only a quote but it is better than nothing.</quote></body></html>")
    assert(r2 != null && r2.nonEmpty)
    val (_, r3, _) = graft.extract.Baseline.baseline(
      "<html><body><div>   Document body...   </div><script> console.log('Hello world') </script></body></html>")
    assert(r3 == "Document body...")
  }

  test("html2txt (unit_tests.py:349-354)") {
    assert(graft.extract.Baseline.html2txt("<html><body>Here is the body text</body></html>") == "Here is the body text")
    assert(graft.extract.Baseline.html2txt("") == "")
    assert(graft.extract.Baseline.html2txt("123") == "")
  }

  // ----- images (unit_tests.py:392-417)

  test("image file test (unit_tests.py:395-396)") {
    assert(TextUtils.isImageFile("test.jpg"))
    assert(!TextUtils.isImageFile("test.txt"))
  }

  test("image extraction markdown (unit_tests.py:408)") {
    val r = txt("<html><body><article><img data-src=\"test.jpg\" alt=\"text\" title=\"a title\"/></article></body></html>",
      ZeroFast.copy(images = true))
    assert(r == "![a title text](test.jpg)")
  }

  test("image span media_ref (FIXTURES.md span shape)") {
    val s = spans("<html><body><article><img data-src=\"test.jpg\" alt=\"text\" title=\"a title\"/></article></body></html>",
      ZeroFast.copy(images = true))
    assert(s.exists(sp => sp.kind == "graphic" && sp.media_ref == "test.jpg" && sp.text == "a title text"))
  }

  test("CNN image attrs (unit_tests.py:411-417)") {
    val tree = HtmlParser.fromstring("<img class=\"media__image media__image--responsive\" alt=\"Harry and Meghan last March, in their final royal engagement.\" data-src-mini=\"//cdn.cnn.com/c-small-169.jpg\" data-demand-load=\"loaded\" src=\"//cdn.cnn.com/c-exlarge-169.jpg\" data-src=\"//cdn.cnn.com/c-exlarge-169.jpg\">")
    val img = graft.extract.Handlers.handleImage(tree)
    assert(img != null && img.get("alt") != null && img.get("src") != null)
    val tree2 = HtmlParser.fromstring("<img class=\"x\" alt=\"a\" data-src-mini=\"//cdn.cnn.com/c-small-169.jpg\" data-demand-load=\"loaded\">")
    val img2 = graft.extract.Handlers.handleImage(tree2)
    assert(img2 != null && img2.get("src").startsWith("http"))
  }

  // ----- links (unit_tests.py:420-448)

  test("links with target (unit_tests.py:430-434)") {
    val h = "<html><body><p><a href=\"testlink.html\">Test link text.</a> This part of the text has to be long enough.</p></body></html>"
    assert(!txt(h, ExtractorOptions()).contains("testlink.html"))
    assert(txt(h, ZeroFast.copy(links = true))
      .contains("[Test link text.](testlink.html) This part of the text has to be long enough."))
    assert(txt(h, ZeroFast.copy(links = true), url = "https://www.example.com/")
      .contains("[Test link text.](https://www.example.com/testlink.html) This part of the text has to be long enough."))
  }

  test("link without target (unit_tests.py:436-440)") {
    val h = "<html><body><p><a>Test link text.</a> This part of the text has to be long enough.</p></body></html>"
    assert(txt(h, ZeroFast.copy(links = true))
      .contains("[Test link text.] This part of the text has to be long enough."))
    val h2 = "<html><body><article><a>Segment 1</a><h1><a>Segment 2</a></h1><p>Segment 3</p></article></body></html>"
    val r = xml(h2, ZeroFast.copy(links = true))
    assert(r.contains("1") && r.contains("2") && r.contains("3"))
  }

  test("license link attr (unit_tests.py:447-448)") {
    val h = "<html><body><p>Test text under <a rel=\"license\" href=\"\">CC BY-SA license</a>.</p></body></html>"
    val r = xml(h, ZeroFast.copy(links = true))
    assert(r.contains("license=\"CC BY-SA license\""))
  }

  // ----- tables (unit_tests.py:735-961)

  test("simple table cells (unit_tests.py:737-750)") {
    val s = spans("<html><body><article><table><tr><td>cell1</td><td>cell2</td></tr><tr><td>cell3</td><td>cell4</td></tr></table></article></body></html>", ZeroFast)
    assert(s.map(_.kind) == List("table", "row", "cell", "cell", "row", "cell", "cell"))
    assert(s.filter(_.kind == "cell").map(_.text) == List("cell1", "cell2", "cell3", "cell4"))
  }

  test("table with header cells (unit_tests.py:800-823)") {
    val h = "<html><body><article><table><tr><th>Month</th><th>Days</th></tr><tr><td>January</td><td>31</td></tr><tr><td>February</td><td>28</td></tr></table></article></body></html>"
    val r = xml(h, ZeroFast)
    assert(r.contains("<cell role=\"head\">Month</cell>"))
    assert(r.contains("<cell>January</cell>"))
  }

  test("complex table with nested elems (unit_tests.py:762-783)") {
    val h = """<html><body><article><table><tbody><tr><td><small>text<br></small><h4>more_text</h4></td><td><a href='link'>linktext</a></td></tr></tbody></table></article></body></html>"""
    // the reference suite aliases ZERO_CONFIG = DEFAULT_CONFIG (mutated in
    // place, unit_tests.py:45-47), so its "DEFAULT_CONFIG" runs are zero-config
    val r = xml(h, ZeroFast.copy(links = true))
    val squashed = if (r == null) "" else r.replace("\n", "").replace(" ", "")
    assert(squashed.contains("<table><row><cell>text<head>more_text</head></cell></row></table>"), squashed)
  }

  test("nested table break (unit_tests.py:889-892)") {
    val h = "<html><body><article><table><th>1</th><table><tr><td>2</td></tr></table></table></article></body></html>"
    val r = xml(h, ZeroFast)
    assert(r.contains("<cell role=\"head\">1</cell>") && r.contains("<cell>2</cell>"))
  }

  test("table in figure (unit_tests.py:958-961)") {
    val h = "<html><body><article><figure><table><th>1</th><tr><td>2</td></tr></table></figure></article></body></html>"
    val r = xml(h, ZeroFast)
    assert(r.contains("1") && r.contains("2"))
  }

  test("table link density (unit_tests.py:885-887)") {
    val h = "<html><body><article><table><tr><td><a href=\"test.html\">" + "ABCD" * 100 + "</a></td></tr></table></article></body></html>"
    val r = xml(h, ZeroFast.copy(links = true))
    assert(r == null || !r.contains("ABCD"))
  }

  // ----- lists (unit_tests.py:964-1053)

  test("nested list (unit_tests.py:971-995)") {
    val h = """<html><body><article>
<ul>
  <li>Coffee</li>
  <li>Tea
    <ul>
      <li>Black tea</li>
      <li>Green tea</li>
    </ul>
  </li>
  <li>Milk</li>
</ul>
</article></body></html>"""
    val r = xml(h, ZeroFast)
    val expected = """<list rend="ul"><item>Coffee</item><item>Tea<list rend="ul"><item>Blacktea</item><item>Greentea</item></list></item><item>Milk</item></list>""".replace(" ", "")
    assert(r.replace("\n", "").replace(" ", "").contains(expected), r)
  }

  test("description list (unit_tests.py:997-1012)") {
    val h = """<html><body><article>
 <dl>
  <dt>Coffee</dt>
  <dd>Black hot drink</dd>
  <dt>Milk</dt>
  <dd>White cold drink</dd>
</dl>
</article></body></html>"""
    val r = xml(h, ZeroFast)
    val squashed = r.replace("\n", "")
    assert(squashed.contains("<item rend=\"dt-1\">Coffee</item>"))
    assert(squashed.contains("<item rend=\"dd-1\">Black hot drink</item>"))
    assert(squashed.contains("<item rend=\"dt-2\">Milk</item>"))
    assert(squashed.contains("<item rend=\"dd-2\">White cold drink</item>"))
  }

  // ----- code blocks (unit_tests.py:1056-1101)

  test("highlightjs code block (unit_tests.py:1057-1065)") {
    val h = "<div class=\"s-prose js-post-body\" itemprop=\"text\">\n<p>Code:</p>\n<pre class=\"lang-sql s-code-block\"><code class=\"hljs language-sql\">code\n\n<span class=\"hljs-keyword\">highlighted</span> more <span class=\"hljs-keyword\">code</span>\n</code></pre>\n</div>"
    val r = xml(h)
    assert(r != null && r.contains("<code>code\nhighlighted more code\n</code>") && !r.contains("quote"), r)
  }

  test("github code block (unit_tests.py:1066-1078)") {
    val h = """<div class="highlight highlight-source-shell notranslate position-relative overflow-auto" dir="auto"><pre>$ pip install PyGithub</pre><div class="zeroclipboard-container position-absolute right-0 top-0"></div></div>"""
    val r = xml(h)
    assert(r != null && r.contains("<code>$ pip install PyGithub</code>") && !r.contains("quote"), r)
  }

  test("inline code (unit_tests.py:1079-1081)") {
    val r = xml("<div><p>paragraph</p><p>here is <code>some</code> code</p></div>")
    assert(r != null && r.contains("<code>some</code>") && !r.contains("quote"), r)
  }

  // ----- hashing (tests/hashing_tests.py semantics)

  test("blake2b RFC 7693 test vector") {
    // RFC 7693 appendix A: BLAKE2b-512("abc")
    val d = Blake2b.digest("abc".getBytes("UTF-8"), 64)
    val hex = d.map(b => f"${b & 0xff}%02x").mkString
    assert(hex == "ba80a53f981c4d0d6a2797b69f12f6e94c212f14685ac4b74b12bb6fdbffa2d17d87c5392aab792dc252d5de4533cc9518d38aa8dbf1925ab92386edd4009923")
  }

  test("simhash determinism + similarity") {
    val a = SimHash.createHash("Hello world this is a test of the simhash implementation with enough tokens")
    val b = SimHash.createHash("Hello world this is a test of the simhash implementation with enough tokens")
    assert(a == b)
    assert(SimHash.similarity(a, b) == 1.0)
    val c = SimHash.createHash("Completely different content that shares nothing at all with the other text whatsoever")
    assert(SimHash.similarity(a, c) < 1.0)
  }

  test("sample_tokens splits on no-break spaces like Python str.split (ADVICE r4)") {
    // U+00A0 (the &nbsp; decode), U+2007, U+202F are whitespace to Python's
    // no-arg str.split() but not to Character.isWhitespace
    assert(SimHash.sampleTokens("alpha\u00A0beta\u2007gamma\u202Fdelta epsilon") ==
      List("alpha", "beta", "gamma", "delta", "epsilon"))
    // NBSP-joined tokens must hash like space-joined ones
    assert(SimHash.createHash("first\u00A0second third fourth fifth sixth") ==
      SimHash.createHash("first second third fourth fifth sixth"))
  }

  test("metadata title/url/sitename basics") {
    val h = """<html><head><title>Test Title — Example.org</title><meta property="og:title" content="OG Title"/><meta property="og:description" content="desc"/><link rel="canonical" href="https://www.example.org/page"/></head><body><article><p>Some text here that is long enough for the extractor to proceed.</p></article></body></html>"""
    val d = Extraction.extractDoc(h, null, null, Zero)
    assert(d != null)
    assert(d.meta.title == "OG Title")
    assert(d.meta.url == "https://www.example.org/page")
    assert(d.meta.hostname == "example.org")
  }

  test("content_fingerprint golden value (hashing_tests.py:6-9)") {
    val content = "abcde ijk l, " * 10
    assert(SimHash.contentFingerprint(content) == "528497a1d07b66d6")
  }

  test("simhash similarity ordering (hashing_tests.py:13-44)") {
    val h0 = SimHash.createHash("This is like putting lipstick on a pig." * 1)
    val h1 = SimHash.createHash("This is just like putting lipstick on a pig.")
    val h2 = SimHash.createHash("Putting lipstick on a pig is what this is about.")
    val h3 = SimHash.createHash("The words are completely different but let's see.")
    val sims = List(h0, h1, h2, h3).map(h => SimHash.similarity(h0, h))
    assert(sims.head == 1.0 && sims.min == sims.last)
    assert(SimHash.similarity(SimHash.createHash("abcde"), SimHash.createHash("abcde")) == 1.0)
    assert(SimHash.similarity(SimHash.createHash("abcde"), SimHash.createHash("fghij")) < 0.6)
    assert(SimHash.similarity(SimHash.createHash("abcde " * 100), SimHash.createHash("abcde")) == 1.0)
  }

  test("txttocsv shape (unit_tests.py:144-161)") {
    import graft.meta.DocMeta
    assert(graft.out.Serializers.txtToCsv("", "", DocMeta()) ==
      "None\tNone\tNone\tNone\tNone\tNone\t\t\tNone\tNone\n")
    val m = DocMeta(title = "Test title", url = "https://example.org",
      hostname = "example.org", id = "1", license = "CC BY-SA",
      image = "https://example.org/image.jpg", pagetype = "article")
    assert(graft.out.Serializers.txtToCsv("Test text", "Test comment", m, "1") ==
      "1\thttps://example.org\tNone\texample.org\tTest title\thttps://example.org/image.jpg\tNone\tTest text\tTest comment\tCC BY-SA\tarticle\n")
    val page = "<html><body><p>ÄÄÄÄÄÄÄÄÄÄÄÄÄÄ</p></body></html>"
    assert(render(page, Zero)(_.csv) != null)
    assert(render(page, Zero.copy(comments = false))(_.csv).endsWith("\tNone\n"))
    val j = render(page, Zero)(_.json)
    assert(j != null && j.endsWith("}") && j.contains("\"fingerprint\":") && j.contains("\"language\":"))
  }

  test("language filtering (unit_tests.py:703-710)") {
    val myHtml = "<html><head><meta http-equiv=\"content-language\" content=\"EN\"/></head><body><div=\"article-body\"><p>Text.</p></div></body></html>"
    assert(txt(myHtml, Zero.copy(lang = "de")) == null)
    assert(txt(myHtml, Zero) != null)
    // justext on same doc yields empty body (unit_tests.py:711)
    val tree = HtmlParser.loadHtml(myHtml)
    assert(graft.extract.Justext.tryJustext(tree).children.isEmpty)
  }

  test("language_filter heuristics (filters_tests.py:38-46)") {
    assert(!graft.extract.Filters.languageFilter("Hier ist ein Text auf Deutsch", "", "de")._1)
    assert(graft.extract.Filters.languageFilter("Hier ist ein Text auf Deutsch", "", "en")._1)
    val doc = "<html><body><article><p>How many ages hence/Shall this our lofty scene be acted over,/In states unborn and accents yet unknown!</p></article></body></html>"
    assert(txt(doc, Zero.copy(lang = "de")) == null)
    assert(txt(doc, Zero.copy(lang = "en")) != null)
  }

  test("url blacklist (filters_tests.py:65)") {
    val h = "<html><head><link rel=\"canonical\" href=\"https://example.org/x/y\"/></head><body><p>some text</p></body></html>"
    assert(txt(h, Zero.copy(urlBlacklist = Set("https://example.org/x/y"))) == null)
    assert(txt(h, Zero) != null)
  }

  test("max_tree_size (filters_tests.py:67-77)") {
    val p50 = "<html><body>" + "<p>abc</p>" * 50 + "</body></html>"
    assert(txt(p50, ExtractorOptions(maxTreeSize = 500)) != null)
    val p501 = "<html><body>" + "<p>abc</p>" * 501 + "</body></html>"
    assert(txt(p501, ExtractorOptions(maxTreeSize = 500)) == null)
  }

  test("dedup at document and paragraph level (filters_tests.py:78-92)") {
    val cache = new graft.extract.Deduplicator(maxSize = 2)
    val opts = ExtractorOptions(dedup = true, dedupCache = cache)
    val doc = "<html><body>" + "<p>abc</p>" * 50 + "</body></html>"
    assert(txt(doc, opts) != null)
    assert(txt(doc, opts) != null)
    assert(txt(doc, opts) != null)
    assert(txt(doc, opts) == null)
    // paragraph level
    val cache2 = new graft.extract.Deduplicator(maxSize = 2)
    val opts2 = ExtractorOptions(dedup = true, dedupCache = cache2)
    def mkP = { val n = graft.dom.Dom.elem("p"); n.text = "abc" * 50; n }
    assert(graft.extract.Handlers.processNode(mkP, opts2) != null)
    assert(graft.extract.Handlers.processNode(mkP, opts2) != null)
    assert(graft.extract.Handlers.processNode(mkP, opts2) != null)
    assert(graft.extract.Handlers.processNode(mkP, opts2) == null)
  }

  test("stricter config discards short docs (unit_tests.py:706, NEW_CONFIG analogue)") {
    val strict = ExtractorOptions(config = graft.extract.TrafConfig(
      minExtractedSize = 10000, minOutputSize = 10000))
    val h = "<html><head><meta http-equiv=\"content-language\" content=\"EN\"/></head><body><div=\"article-body\"><p>Text.</p></div></body></html>"
    assert(txt(h, strict) == null)
    assert(txt(h, Zero) != null)
  }
}
