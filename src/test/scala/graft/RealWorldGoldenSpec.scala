package graft

import graft.extract.{Extraction, ExtractorOptions}
import graft.parse.HtmlParser
import org.scalatest.funsuite.AnyFunSuite

/** Full txt-mode real-world suite mechanically AST-ported from
  * tests/realworld_tests.py `test_extract` (84 archived pages from
  * tests/cache, 410 substring with/without clauses; realworld_golden.json).
  * The reference runs these with comments on, fallbacks on, txt output and
  * the original URL (load_mock_page, realworld_tests.py:146-174).
  * Scored as a ratio — a small number of clauses are version-sensitive in
  * the reference itself; the floor asserts we stay at parity. */
class RealWorldGoldenSpec extends AnyFunSuite {

  // the txt projection of one kernel run (null when the page is discarded)
  private def txt(html: String, url: String, o: ExtractorOptions): String =
    Option(Extraction.run(html, url, null, o)).map(_.txt).orNull

  private val Cache = "/root/reference/tests/cache"

  test("realworld_tests.py test_extract: >= 97% of 410 clauses") {
    val raw = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/realworld_golden.json").toURI)),
      java.nio.charset.StandardCharsets.UTF_8)
    val cases = graft.meta.JsonLd.parse(raw) match {
      case Some(items: List[_]) => items.collect {
        case m: Map[String @unchecked, Any @unchecked] =>
          (m("url").asInstanceOf[String], m("file").asInstanceOf[String],
            m("with").asInstanceOf[List[String]], m("without").asInstanceOf[List[String]])
      }
      case _ => fail("could not parse realworld_golden.json")
    }
    assert(cases.length >= 80, s"expected >=80 pages, loaded ${cases.length}")
    var pass = 0
    var total = 0
    val failures = scala.collection.mutable.ListBuffer.empty[String]
    cases.foreach { case (url, file, wth, wo) =>
      val html = HtmlParser.decodeFile(FixtureCorpus.readAllBytes(
        java.nio.file.Paths.get(Cache, file)))
      val r = txt(html, url, ExtractorOptions(comments = true))
      val res = if (r == null) "" else r
      wth.foreach { n =>
        total += 1
        if (res.contains(n)) pass += 1 else failures += s"$file MISSING | ${n.take(70)}"
      }
      wo.foreach { n =>
        total += 1
        if (!res.contains(n)) pass += 1 else failures += s"$file UNWANTED | ${n.take(70)}"
      }
    }
    info(s"realworld clauses: $pass/$total")
    failures.foreach(f => info("FAIL " + f))
    assert(pass.toDouble / total >= 0.97,
      s"parity below floor: $pass/$total\n" + failures.take(30).mkString("\n"))
  }
}
