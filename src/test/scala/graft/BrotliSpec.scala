package graft

import graft.parse.{Brotli, BrotliException, HtmlParser}
import org.scalatest.funsuite.AnyFunSuite

/** RFC 7932 decoder against vectors produced by the reference encoder
  * (brotlicffi; qualities 0-11, several window sizes, dictionary-heavy
  * text, binary data, real eval-corpus pages). */
class BrotliSpec extends AnyFunSuite {

  private def res(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/graft/brotli/$name")
    assert(in != null, s"missing resource $name")
    val b = in.readAllBytes()
    in.close()
    b
  }

  /** Case name -> `raw_len` from cases.json. */
  private val cases: Seq[(String, Int)] = {
    import scala.jdk.CollectionConverters._
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(res("cases.json"))
      .properties.asScala.map(e => e.getKey -> e.getValue.get("raw_len").asInt).toSeq
  }

  /** The q5 and q11 page vectors encode the same page as q1, so all three
    * decode to the one `pageN_q1.raw`. */
  private def rawName(name: String): String = name.replaceFirst("""^(page\d)_q\d+$""", "$1_q1")

  test("all encoder vectors round-trip byte-exact") {
    assert(cases.size >= 15, cases.mkString(","))
    cases.foreach { case (name, rawLen) =>
      val raw = res(s"${rawName(name)}.raw")
      assert(raw.length == rawLen, s"$name: raw is ${raw.length} bytes, cases.json says $rawLen")
      val br = res(s"$name.br")
      val got = Brotli.decompress(br)
      assert(java.util.Arrays.equals(got, raw),
        s"$name: got ${got.length} bytes, want ${raw.length}" + {
          val n = math.min(got.length, raw.length)
          var i = 0
          while (i < n && got(i) == raw(i)) i += 1
          s"; first diff at $i"
        })
    }
  }

  test("static dictionary integrity: RFC 7932 appendix A digest") {
    // decompressing a dictionary-word-heavy vector exercises the embedded
    // dictionary; additionally pin the resource to the RFC's known digest
    val in = new java.util.zip.GZIPInputStream(
      getClass.getResourceAsStream("/graft/brotli_dict.bin.gz"))
    val data = in.readAllBytes()
    in.close()
    assert(data.length == 122784)
    val sha = java.security.MessageDigest.getInstance("SHA-256").digest(data)
      .map(b => f"$b%02x").mkString
    assert(sha == "20e42eb1b511c21806d4d227d07e5dd06877d8ce7b3a817f378f313653f35c70")
  }

  test("malformed input throws, HTML/text input is not mistaken for brotli") {
    intercept[BrotliException](Brotli.decompress(Array[Byte]()))
    val junk = "<html><body><p>plainly not brotli content at all</p></body></html>"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val r = try Some(Brotli.decompress(junk)) catch { case _: BrotliException => None }
    assert(r.isEmpty, "decoded junk as valid — unacceptably permissive")
  }

  test("garbage rejection: random and ASCII inputs are not mistaken for brotli") {
    // a one-shot decode must consume the entire input with zero padding, so
    // decode success is a reliable brotli-detection signal (the rare accept
    // is a genuinely valid empty stream, which decodeFile ignores anyway)
    val rnd = new java.util.Random(7)
    var accepted = 0
    (1 to 2000).foreach { _ =>
      val b = new Array[Byte](rnd.nextInt(400))
      rnd.nextBytes(b)
      try { if (Brotli.decompress(b).nonEmpty) accepted += 1 }
      catch { case _: BrotliException | _: ArrayIndexOutOfBoundsException => () }
    }
    assert(accepted == 0, s"random inputs decoded to non-empty output: $accepted")
    (1 to 500).foreach { _ =>
      val sb = new StringBuilder
      (0 until 50 + rnd.nextInt(500)).foreach(_ => sb.append((32 + rnd.nextInt(95)).toChar))
      val r = try Some(Brotli.decompress(sb.toString.getBytes("UTF-8")))
        catch { case _: BrotliException => None }
      assert(r.isEmpty || r.get.isEmpty, "ASCII text decoded as brotli")
    }
  }

  test("decodeFile ingests brotli payloads like gzip ones") {
    val html = "<html><head><title>Br page</title></head><body><p>brotli payload text</p></body></html>"
    val raw = html.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val compressed = res("page_decode.br")
    assert(HtmlParser.decodeFile(compressed) == new String(raw,
      java.nio.charset.StandardCharsets.UTF_8))
    // plain html passes through untouched
    assert(HtmlParser.decodeFile(raw).contains("brotli payload text"))
  }
}
