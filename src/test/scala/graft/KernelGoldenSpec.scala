package graft

import graft.clean.Cleaner
import graft.dom.Dom
import graft.extract.{ExtractedDoc, Extraction, ExtractorOptions, Fallbacks, KernelResult, TrafConfig}
import graft.parse.HtmlParser
import graft.select.Selectors
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** Pins the kernel's output on the three in-repo real pages
  * (`src/test/resources/graft/brotli/page{0,1,2}_q1.raw`) in every mode: the
  * SHA-256 of `extractDoc`'s canonical fields (text, comments, spans and every
  * meta field, fingerprint included) and of the txt, xml, tei, csv and json
  * projections of one `Extraction.run` result. Performance work on
  * the parser, cleaner, selectors, fallbacks or fingerprint must leave these
  * digests unchanged; a deliberate output change updates them here.
  *
  * On these pages standard mode keeps the main extraction, so the fallback
  * candidates never reach the output; the last tests pin them directly. */
class KernelGoldenSpec extends AnyFunSuite {

  // the graft.Main --mode presets
  private val Modes = Seq(
    "fast" -> ExtractorOptions(config = TrafConfig.Default, fast = true, images = true),
    "standard" -> ExtractorOptions(images = true),
    "precision" -> ExtractorOptions(precision = true, images = true),
    "recall" -> ExtractorOptions(recall = true, images = true))

  private def page(i: Int): String = {
    val in = getClass.getResourceAsStream(s"/graft/brotli/page${i}_q1.raw")
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(String.valueOf(s).getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  private def canonical(d: ExtractedDoc): String =
    if (d == null) "<null>"
    else {
      val m = d.meta
      val spans = d.spans.map(s => s.productIterator.mkString("\u0002")).mkString("\u0003")
      Seq(d.text, d.comments, spans, d.rawTextLen, m.title, m.author, m.url, m.hostname,
        m.description, m.sitename, m.date, m.categories.mkString("\u0002"),
        m.tags.mkString("\u0002"), m.fingerprint, m.id, m.license, m.language, m.image,
        m.pagetype).mkString("\u0001")
    }

  // (page, mode) -> (extractDoc digest, xml projection digest)
  private val Golden: Map[(Int, String), (String, String)] = Map(
    (0, "fast") -> ("a60e014b19a7a9b951386616313af5f56898a65c9bc3ff0e324acb4dbb422ab0",
      "c164c106ab5728078f38226b165300d0b5bff9683b042d50a67dda6f0af348e8"),
    (0, "standard") -> ("a60e014b19a7a9b951386616313af5f56898a65c9bc3ff0e324acb4dbb422ab0",
      "c164c106ab5728078f38226b165300d0b5bff9683b042d50a67dda6f0af348e8"),
    (0, "precision") -> ("b2d7206ac6ce35cbcd0c3408351da673785f863b8639afc45fc12c4bc0f03dc2",
      "cb10443d71400b14f48725f6430046eb689e836467bee33c11672fd91fecab49"),
    (0, "recall") -> ("a60e014b19a7a9b951386616313af5f56898a65c9bc3ff0e324acb4dbb422ab0",
      "c164c106ab5728078f38226b165300d0b5bff9683b042d50a67dda6f0af348e8"),
    (0, "standard-upper") -> ("4be3ff8cf35e41389b53e2ae2c3a7f43e85b83ee53fb4d8a53a049b80cb85385",
      "be7d562d8ce9bcf3f91888af154a49893f960cd28d00cc9821114db64d0bd909"),
    (1, "fast") -> ("2d07878897fc260d49877e573adf0b33c45f531b6e3f607e4f7053383d34d6be",
      "2733fd915b6f9021de70956ebc9d79c3f11bae695cab689eace99d935ab5026e"),
    (1, "standard") -> ("2d07878897fc260d49877e573adf0b33c45f531b6e3f607e4f7053383d34d6be",
      "2733fd915b6f9021de70956ebc9d79c3f11bae695cab689eace99d935ab5026e"),
    (1, "precision") -> ("2d07878897fc260d49877e573adf0b33c45f531b6e3f607e4f7053383d34d6be",
      "2733fd915b6f9021de70956ebc9d79c3f11bae695cab689eace99d935ab5026e"),
    (1, "recall") -> ("2d07878897fc260d49877e573adf0b33c45f531b6e3f607e4f7053383d34d6be",
      "2733fd915b6f9021de70956ebc9d79c3f11bae695cab689eace99d935ab5026e"),
    (1, "standard-upper") -> ("072c58633753f606f1a661e6519c3bb2cdd2530fccba739231129da75ad7ddf5",
      "ec18ff8f21d6b235b4335d4aa4cfb4588a4f42a8565047ca2fb509a72d567fd1"),
    (2, "fast") -> ("3afddea63e83daae8c5d690023f6c4a9def031740cdcbc5ae69eb9ea14f180d1",
      "0f0a7efee8ad4131834a59fb7e6d616d78b98ace8a23f0f2a41c3d1f36fdcff8"),
    (2, "standard") -> ("3afddea63e83daae8c5d690023f6c4a9def031740cdcbc5ae69eb9ea14f180d1",
      "0f0a7efee8ad4131834a59fb7e6d616d78b98ace8a23f0f2a41c3d1f36fdcff8"),
    (2, "precision") -> ("6f4ae499015fe6f222114ea757cfe80055ecb6f2195a7e728076b265cf66c982",
      "e5255fed3963e6d8465a2987047afdc36dfb064b6ef062a51ac531ba8ae59310"),
    (2, "recall") -> ("3afddea63e83daae8c5d690023f6c4a9def031740cdcbc5ae69eb9ea14f180d1",
      "0f0a7efee8ad4131834a59fb7e6d616d78b98ace8a23f0f2a41c3d1f36fdcff8"),
    (2, "standard-upper") -> ("a965f674a30f8bd14e52bf6384dfec1c9e2310596e48e066a535fcd8461cfa71",
      "c50f72a00284eeba2a97c0bdc22aa19504209062fbc161321e4f40020a5dea35")
  )

  // "standard-upper" runs standard mode on the page with every character
  // upper-cased: tag, attribute and script-close matching, and the
  // case-insensitive class/id rules, then see only upper-case markup
  private val Cases = Modes.map { case (m, o) => (m, o, false) } :+ ("standard-upper", Modes(1)._2, true)

  for (i <- 0 until 3; (mode, opts, upper) <- Cases) {
    test(s"page${i}_q1 $mode: extractDoc and extractXml digests are pinned") {
      val html = if (upper) page(i).toUpperCase(java.util.Locale.ROOT) else page(i)
      val doc = sha256(canonical(Extraction.extractDoc(html, null, s"page$i", opts)))
      val xml = sha256(kernel(i, opts, upper).xml)
      assert((doc, xml) == Golden((i, mode)))
    }
  }

  // (page, mode) -> digests of the txt, tei, csv and json projections of
  // `Extraction.run(html, null, "page<i>", opts)`, recorded from the
  // per-format entry points these projections replaced: one kernel result
  // renders every format with the bytes each entry point produced
  private val FormatGolden: Map[(Int, String), Seq[String]] = Map(
    (0, "fast") -> Seq("d797bed46fda24f1f8c92d784ab990847728946ab0996483fa8bc2bcdfa649f2",
      "bab1d01f9f56227eb2357365bffe2a70299ac6f19595441dae1628489138c220",
      "7ceed72a5e47b570aaaa017f194003ca612ddd36e96b5d9b6c579152ff75587f",
      "3e0dda88c176df87fa58590fea21669a1deac83a59c6a8163293e41da11d4f04"),
    (0, "standard") -> Seq("d797bed46fda24f1f8c92d784ab990847728946ab0996483fa8bc2bcdfa649f2",
      "bab1d01f9f56227eb2357365bffe2a70299ac6f19595441dae1628489138c220",
      "7ceed72a5e47b570aaaa017f194003ca612ddd36e96b5d9b6c579152ff75587f",
      "3e0dda88c176df87fa58590fea21669a1deac83a59c6a8163293e41da11d4f04"),
    (0, "precision") -> Seq("6620c3b1958470d3899269276e56b44df57e7ef33e47ecdcb6d2457aac849fe2",
      "719641c6687b05a67cbd6bf53acf889edfa2d3e6097ca5a6f7af573bf9722f5e",
      "38a0d0bf1abf6261249bed609c36d3c052d879c39e25804d2770ab694cbf99e4",
      "9a64579fdfeef9daba2f3ce49c928469792edd6c79411f7a896e2c2edc7978db"),
    (0, "recall") -> Seq("d797bed46fda24f1f8c92d784ab990847728946ab0996483fa8bc2bcdfa649f2",
      "bab1d01f9f56227eb2357365bffe2a70299ac6f19595441dae1628489138c220",
      "7ceed72a5e47b570aaaa017f194003ca612ddd36e96b5d9b6c579152ff75587f",
      "3e0dda88c176df87fa58590fea21669a1deac83a59c6a8163293e41da11d4f04"),
    (0, "standard-upper") -> Seq("ffc63e8b2eddcb5887639d91e98f37d3648d6899d5e80eca47cbf67ba79b79a7",
      "3de2f65f9b7a8b96e1a2e88c58fc823984a231178ef13078caac4a2f4a8156a6",
      "3123911f735fcad0ad4c426864561be23b20354d9da326b715ee30029b21484d",
      "abad50b4db7b3cb4e2eed6a87e307ab7f8f70d98df8e5f336986c2daa441588a"),
    (1, "fast") -> Seq("0981be53f50910fc334075f245c91f0037c89080911d286466c51aa94b60cc6a",
      "24c5c839eb0e49b9fdbe8d28a687806e471f92fd270615b166f2212d52f107c4",
      "3f5f8d2c3ab9be850f01e300a403d3b059a8cd06dfa3bd61333d3e171124a52a",
      "d0f33e622df6288d79a86c249594e580b2fa32992be8a2430ec68f17407310ce"),
    (1, "standard") -> Seq("0981be53f50910fc334075f245c91f0037c89080911d286466c51aa94b60cc6a",
      "24c5c839eb0e49b9fdbe8d28a687806e471f92fd270615b166f2212d52f107c4",
      "3f5f8d2c3ab9be850f01e300a403d3b059a8cd06dfa3bd61333d3e171124a52a",
      "d0f33e622df6288d79a86c249594e580b2fa32992be8a2430ec68f17407310ce"),
    (1, "precision") -> Seq("0981be53f50910fc334075f245c91f0037c89080911d286466c51aa94b60cc6a",
      "24c5c839eb0e49b9fdbe8d28a687806e471f92fd270615b166f2212d52f107c4",
      "3f5f8d2c3ab9be850f01e300a403d3b059a8cd06dfa3bd61333d3e171124a52a",
      "d0f33e622df6288d79a86c249594e580b2fa32992be8a2430ec68f17407310ce"),
    (1, "recall") -> Seq("0981be53f50910fc334075f245c91f0037c89080911d286466c51aa94b60cc6a",
      "24c5c839eb0e49b9fdbe8d28a687806e471f92fd270615b166f2212d52f107c4",
      "3f5f8d2c3ab9be850f01e300a403d3b059a8cd06dfa3bd61333d3e171124a52a",
      "d0f33e622df6288d79a86c249594e580b2fa32992be8a2430ec68f17407310ce"),
    (1, "standard-upper") -> Seq("2ce74256c4974ab07626056cb6f0093fc5f7e80c2a99cba8da56f090f625bf59",
      "fb2e448fbeed838df8cd4f952ff7abab1a8f63048d15b405e5a02b867500a4f4",
      "c281de212ba09b348263773b5a9c0d320577c1bb88e10a5d3b4b4b08ed0b2c69",
      "c12d9da0d2cd9354fa20660515f853b1dffaac1f00103bcb8506b84854ff0b73"),
    (2, "fast") -> Seq("94c399f0b317d8783d5922153f8f1ed7270cb237cbc3ec8b9edf55f0ab4e9f4f",
      "05fb8d82231836de2a03a30809156e23e390951a7d23a37d29490cf4cd956fbf",
      "4a7b341ea7d0b1e0b7332874aad69aa8411f5fb50ca7e51e3bc8e771d19a4cc4",
      "e28a3ae6e1ebed63a631c4379d0aa0f467f34638a9fcd94d9bfcf586dd4c8a06"),
    (2, "standard") -> Seq("94c399f0b317d8783d5922153f8f1ed7270cb237cbc3ec8b9edf55f0ab4e9f4f",
      "05fb8d82231836de2a03a30809156e23e390951a7d23a37d29490cf4cd956fbf",
      "4a7b341ea7d0b1e0b7332874aad69aa8411f5fb50ca7e51e3bc8e771d19a4cc4",
      "e28a3ae6e1ebed63a631c4379d0aa0f467f34638a9fcd94d9bfcf586dd4c8a06"),
    (2, "precision") -> Seq("938c4456bad8bc60fe0c993511823942c11b271acd051843b8b3374e0f560060",
      "4be29e7e3c4a56b309b80149679b39408080565dccf3306c052692e41c31f423",
      "63266924e6ebaec288a175fe26b7ea9912656c16bc8e32bd59bd7c7738aa5674",
      "a23b6626cde1bc3afd8d9bd52ebd2dd60747c80cccba658cea55b6abc133431e"),
    (2, "recall") -> Seq("94c399f0b317d8783d5922153f8f1ed7270cb237cbc3ec8b9edf55f0ab4e9f4f",
      "05fb8d82231836de2a03a30809156e23e390951a7d23a37d29490cf4cd956fbf",
      "4a7b341ea7d0b1e0b7332874aad69aa8411f5fb50ca7e51e3bc8e771d19a4cc4",
      "e28a3ae6e1ebed63a631c4379d0aa0f467f34638a9fcd94d9bfcf586dd4c8a06"),
    (2, "standard-upper") -> Seq("7326d3a1f56e790a5649b4074dbe185b30d9e70d4d74ed33c6207cce1964efe5",
      "3f52549f9c2756d1b8e313867e0421d350584527eb3da2f8b0f353883f96f241",
      "4d086deaa79b239fe608a50661d77ea50156a2bff014eda922d1025699e5c586",
      "368f86a64179b88d0cde77d71a54ee228d47e39693c3e735a322f96db3bea00c")
  )

  private def kernel(i: Int, opts: ExtractorOptions, upper: Boolean): KernelResult = {
    val html = if (upper) page(i).toUpperCase(java.util.Locale.ROOT) else page(i)
    Extraction.run(html, null, s"page$i", opts)
  }

  for (i <- 0 until 3; (mode, opts, upper) <- Cases) {
    test(s"page${i}_q1 $mode: txt, tei, csv and json digests are pinned") {
      // each format from a result of its own; the commute test shares one
      val formats = Seq[KernelResult => String](_.txt, _.tei, _.csv, _.json)
      assert(formats.map(f => sha256(f(kernel(i, opts, upper)))) == FormatGolden((i, mode)))
    }
  }

  for (i <- 0 until 3; (mode, opts, upper) <- Cases) {
    test(s"page${i}_q1 $mode: projections of one result commute") {
      // xml first and last: no projection may change the result it renders
      val r = kernel(i, opts, upper)
      def trees = (Dom.toXml(r.body), Option(r.commentsBody).map(Dom.toXml).orNull)
      val before = trees
      val xml1 = r.xml
      val (tei, csv, json) = (r.tei, r.csv, r.json)
      val xml2 = r.xml
      assert(xml1 == xml2)
      assert(trees == before, "a projection rewrote the result's trees")
      assert(sha256(xml1) == Golden((i, mode))._2)
      assert(Seq(r.txt, tei, csv, json).map(sha256) == FormatGolden((i, mode)))
    }
  }

  // page -> digest of the readability candidate, its sanitize_tree rewrite and
  // the jusText rescue, built from the same trees compare_extraction gets
  private val FallbackGolden: Map[(Int, Boolean), String] = Map(
    (0, false) -> "2754004f5bee632b386c92a2063f82172e3f839bd37a6898bb05f44f529965ec",
    (0, true) -> "9e167b496eeb4a2d88ef22511b847cd83d75ddf050562a29a8e09857bc7afc30",
    (1, false) -> "6ca5f0fe8aa4467ba00e89c71fa562154562f1a3488dd7fcfb2fdc404c14579e",
    (1, true) -> "0ce08dfac9f8280286eda8d3225165e5c3e30424cc08129be9bbc23b97e1ca84",
    (2, false) -> "c0d6c9b2b251445059c31146da63783c7831a5cf12c6a4b12b52beb40d502180",
    (2, true) -> "d140bc02e877fb746d1f411ee18877fe5eb548414e324e54da5606b03839b193"
  )

  for (i <- 0 until 3; upper <- Seq(false, true)) {
    test(s"page${i}_q1${if (upper) " upper-cased" else ""}: fallback candidates are pinned") {
      val opts = Modes(1)._2
      val html = if (upper) page(i).toUpperCase(java.util.Locale.ROOT) else page(i)
      val tree = HtmlParser.loadHtml(html)
      val backup = tree.deepCopy
      val cleaned = Cleaner.treeCleaning(tree, opts)
      val algo = Fallbacks.tryReadability(Cleaner.pruneUnwantedNodes(backup, Selectors.paywallDiscardRules))
      val algoXml = Dom.toXml(algo)
      val (_, sanitized, _) = Fallbacks.sanitizeTree(algo, opts)
      val (jt, jtText, _, _) = Fallbacks.justextRescue(cleaned, opts, 0)
      val digest = sha256(Seq(algoXml, sanitized, if (jt == null) "<null>" else Dom.toXml(jt), jtText)
        .mkString("\u0001"))
      assert(algoXml.length > 1000 && sanitized.nonEmpty)
      assert(digest == FallbackGolden((i, upper)))
    }
  }
}
