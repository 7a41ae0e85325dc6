package graft

import graft.meta.Metadata
import graft.parse.HtmlParser
import org.scalatest.funsuite.AnyFunSuite

/** Metadata golden cases over archived real pages, AST-ported from
  * realworld_tests.py `test_pages` (realworld_meta_golden.json — 13 pages,
  * 60 field assertions on title/author/url/description/sitename/
  * categories/tags). Scored as a ratio with a high floor: a handful are
  * date/htmldate-adjacent and version-sensitive. */
class RealWorldMetaSpec extends AnyFunSuite {

  private val Cache = "/root/reference/tests/cache"

  test("realworld_tests.py test_pages metadata: >= 90% of checks") {
    val raw = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/realworld_meta_golden.json").toURI)),
      java.nio.charset.StandardCharsets.UTF_8)
    val cases = graft.meta.JsonLd.parse(raw) match {
      case Some(items: List[_]) => items.collect {
        case m: Map[String @unchecked, Any @unchecked] =>
          (m("url").asInstanceOf[String], m("file").asInstanceOf[String],
            m("checks").asInstanceOf[List[Map[String, Any]]])
      }
      case _ => fail("could not parse realworld_meta_golden.json")
    }
    assert(cases.length >= 12)
    var pass = 0
    var total = 0
    val failures = scala.collection.mutable.ListBuffer.empty[String]
    cases.foreach { case (url, file, checks) =>
      val html = HtmlParser.decodeFile(FixtureCorpus.readAllBytes(
        java.nio.file.Paths.get(Cache, file)))
      val tree = HtmlParser.loadHtml(html)
      val meta = if (tree == null) graft.meta.DocMeta() else Metadata.extractMetadata(tree, url)
      checks.foreach { ch =>
        total += 1
        val field = ch("field").asInstanceOf[String]
        val got: Either[List[String], Option[String]] = field match {
          case "author" => Right(Option(meta.author))
          case "title" => Right(Option(meta.title))
          case "url" => Right(Option(meta.url))
          case "sitename" => Right(Option(meta.sitename))
          case "description" => Right(Option(meta.description))
          case "categories" => Left(meta.categories.toList)
          case "tags" => Left(meta.tags.toList)
          case other => fail(s"unknown field $other")
        }
        val ok = (ch("kind").asInstanceOf[String], got) match {
          case ("eq", Right(v)) => v.contains(ch("expected").asInstanceOf[String])
          case ("startswith", Right(v)) => v.exists(_.startsWith(ch("expected").asInstanceOf[String]))
          case ("null", Right(v)) => v.isEmpty
          case ("eqlist", Left(l)) => l == ch("expectedList").asInstanceOf[List[String]]
          case _ => false
        }
        if (ok) pass += 1
        else failures += s"$file $field: got=$got want=${ch.get("expected").orElse(ch.get("expectedList"))}"
      }
    }
    info(s"realworld metadata checks: $pass/$total")
    failures.foreach(f => info("FAIL " + f))
    assert(pass.toDouble / total >= 0.90,
      s"metadata parity below floor: $pass/$total\n" + failures.mkString("\n"))
  }
}
