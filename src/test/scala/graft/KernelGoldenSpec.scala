package graft

import graft.clean.Cleaner
import graft.dom.Dom
import graft.extract.{ExtractedDoc, Extraction, ExtractorOptions, Fallbacks, TrafConfig}
import graft.parse.HtmlParser
import graft.select.Selectors
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** Pins the kernel's output on the three in-repo real pages
  * (`src/test/resources/graft/brotli/page{0,1,2}_q1.raw`) in every mode: the
  * SHA-256 of `extractDoc`'s canonical fields (text, comments, spans and every
  * meta field, fingerprint included) and of `extractXml`. Performance work on
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

  // (page, mode) -> (extractDoc digest, extractXml digest)
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
      val xml = sha256(Extraction.extractXml(html, null, opts))
      assert((doc, xml) == Golden((i, mode)))
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
