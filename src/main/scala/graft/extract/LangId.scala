package graft.extract

import scala.collection.mutable

/** Compact character-n-gram language identifier (Cavnar & Trenkle-style
  * profiles, the py3langid stand-in the reference delegates to when
  * installed — filters.py:86-97).
  *
  * Design (no external model assets in-sandbox):
  *  - non-Latin scripts are decided by code-point ranges (Cyrillic, Greek,
  *    Hangul, Kana, Han, Arabic, Hebrew) — script alone identifies the
  *    language class at the granularity the pipeline filters on;
  *  - Latin-script languages score by cosine similarity between the input's
  *    character-trigram frequency vector and per-language profiles built at
  *    init from frequency-ordered function-word lists (public linguistic
  *    knowledge), Zipf-weighted by list rank. Function words dominate any
  *    running text, so their trigram mass (word boundaries included)
  *    separates the 14 Latin profiles well (the da/nb dialect pair via a
  *    contrastive disjoint-trigram tie-break).
  * Deterministic, dependency-free, ~3 kB of embedded data. */
object LangId {

  /** Frequency-ordered function words per language (most frequent first). */
  private val WordLists: List[(String, String)] = List(
    "en" -> ("the of and to in a is that it was for on are with as be at by this have " +
      "from or had not but what all were when we there can an your which their said if " +
      "do will each about how up out them then she many some so these would other into " +
      "has more her two like him see time could no make than first been who now people my"),
    "de" -> ("der die und in den von zu das mit sich des auf für ist im dem nicht ein " +
      "eine als auch es an werden aus er hat dass sie nach wird bei einer um am sind " +
      "noch wie einem über einen so zum war haben nur oder aber vor zur bis mehr durch " +
      "man sein wurde sei wenn ihre dann unter wir soll ich kann ihren zwei zwischen"),
    "fr" -> ("de la le et les des en un du une que est pour qui dans a par plus pas au " +
      "sur ne se ce il sont aux avec son ses mais comme ou si leur y ont ces elle deux " +
      "dont cette été aussi tout fait même nous autres sans peut après avait ainsi être " +
      "temps très bien où encore"),
    "es" -> ("de la que el en y a los se del las un por con no una su para es al lo " +
      "como más pero sus le ya o fue este ha sí porque esta son entre cuando muy sin " +
      "sobre ser tiene también me hasta hay donde han quien están desde todo nos " +
      "durante todos uno les ni contra otros"),
    "it" -> ("di e il la che in un a per è una sono con non si da come lo più le nel " +
      "della anche ha questo ma dei al gli delle essere o molto ci sulla quella tutti " +
      "suo alla loro nella così era prima due stato dopo quando aveva fra"),
    "pt" -> ("de a o que e do da em um para com não uma os no se na por mais as dos " +
      "como mas ao ele das seu sua ou quando muito nos já eu também só pelo pela até " +
      "isso ela entre depois sem mesmo aos seus quem nas me esse eles você essa"),
    "nl" -> ("de van een het en in is dat op te zijn met voor niet aan er om ook als " +
      "dan maar bij of uit naar door over ze nog worden wordt hij al deze meer andere " +
      "onze hun tot zo dit mijn wat kan geen heeft hebben werd wel tussen onder na"),
    "pl" -> ("w i z na do nie się że jest to o jak po co za przez od ale tak był lub " +
      "tego ma jego które przy tym oraz może ich już tylko przed nad były został " +
      "jednak także która miał aby będzie dla przez przy"),
    "cs" -> ("a se v na je že o s z do i to ale jako za by pro podle jeho ve k od " +
      "která po bylo jsou nebo tak při až než své který také byl této však mezi"),
    "tr" -> ("bir ve bu da için de ile olarak daha ne gibi çok en ama sonra kadar " +
      "olan var olduğu ise her iki diye göre ancak değil bunun yılında arasında"),
    "hu" -> ("a az és hogy nem is egy ez van volt már csak meg el mint ki még azt " +
      "vagy ha fel le be mi pedig lehet lesz"),
    "sv" -> ("och i att det som en på är av för med till den har de inte om ett han " +
      "men var vid kan sig från så vi under eller nu skulle efter man mycket"),
    "da" -> ("og i at det er en til af på de med den for der var han som ikke et men " +
      "om hun jeg har sig vi skal kan man blev da så efter op ved også fra eller " +
      "hvad nu hvor sin over være havde ham alle noget meget når kunne mod hvis " +
      "kun ud år bliver blive uge uger nogle sådan mig dig os ned"),
    "nb" -> ("og i det er som en på til av at han med for ikke den har de et om men " +
      "seg hun var fra ved kan vil ble så skal å meg da sin etter opp andre hvor " +
      "eller noe dette alle når være hadde mot under også år hans nå bare mer " +
      "ut skulle blir bli uke uker noen slik deg oss denne"))

  /** L2-normalized trigram frequency profiles, Zipf-weighted (word i in a
    * frequency-ordered list carries weight 1/(i+3)). */
  private val Profiles: List[(String, Map[String, Double])] = WordLists.map {
    case (lang, ws) =>
      val counts = mutable.HashMap.empty[String, Double]
      ws.split(" ").zipWithIndex.foreach { case (w, i) =>
        val weight = 1.0 / (i + 3)
        val padded = " " + w + " "
        var j = 0
        while (j + 3 <= padded.length) {
          val t = padded.substring(j, j + 3)
          counts(t) = counts.getOrElse(t, 0.0) + weight
          j += 1
        }
      }
      val norm = math.sqrt(counts.valuesIterator.map(v => v * v).sum)
      lang -> counts.iterator.map { case (k, v) => k -> v / norm }.toMap
  }

  private val ProfileMap: Map[String, Map[String, Double]] = Profiles.toMap

  /** Array view for the allocation-free detect scan. */
  private val ProfilesArr: Array[(String, Map[String, Double])] = Profiles.toArray

  /** Detect the language of `text`; null when nothing scores (e.g. empty or
    * digits-only input). */
  def detect(text: String): String = {
    if (text == null || text.isEmpty) return null
    // --- script counts over the first 4k code points
    var latin = 0
    var cyr = 0
    var greek = 0
    var hangul = 0
    var kana = 0
    var han = 0
    var arabic = 0
    var hebrew = 0
    val n = math.min(text.length, 4096)
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (c < 0x250) { if (Character.isLetter(c)) latin += 1 }
      else if (c >= 0x400 && c <= 0x4ff) cyr += 1
      else if (c >= 0x370 && c <= 0x3ff) greek += 1
      else if (c >= 0xac00 && c <= 0xd7af) hangul += 1
      else if ((c >= 0x3040 && c <= 0x30ff)) kana += 1
      else if (c >= 0x4e00 && c <= 0x9fff) han += 1
      else if (c >= 0x600 && c <= 0x6ff) arabic += 1
      else if (c >= 0x590 && c <= 0x5ff) hebrew += 1
      i += 1
    }
    val letters = latin + cyr + greek + hangul + kana + han + arabic + hebrew
    if (letters == 0) return null
    if (hangul * 2 > letters) return "ko"
    if (kana * 4 > letters) return "ja" // kana presence separates ja from zh
    if (han * 2 > letters) return "zh"
    if (cyr * 2 > letters) return "ru"
    if (greek * 2 > letters) return "el"
    if (arabic * 2 > letters) return "ar"
    if (hebrew * 2 > letters) return "he"
    // --- Latin script: trigram cosine vs the profiles.
    // Allocation-free top-3 scan (ADVICE r5): the previous build-and-sort
    // of a 16-entry scored list ran inside the extraction kernel path the
    // repo documents as allocation/bandwidth-sensitive. The cascading
    // strictly-greater updates reproduce a STABLE descending sort's first
    // three entries exactly (earliest index wins ties), and `scored.find(
    // not in pair)` over a stable sort is precisely the third entry.
    val counts = trigramCounts(text)
    if (counts.isEmpty) return null
    val inNorm = math.sqrt(counts.valuesIterator.map(v => v * v).sum)
    var bestIdx = -1; var secondIdx = -1; var thirdIdx = -1
    var bestDot = 0.0; var secondDot = 0.0; var thirdDot = 0.0
    var pi = 0
    ProfilesArr.foreach { case (_, prof) =>
      var dot = 0.0
      counts.foreach { case (t, v) =>
        val p = prof.getOrElse(t, 0.0)
        if (p > 0) dot += v * p
      }
      if (bestIdx < 0 || dot > bestDot) {
        thirdIdx = secondIdx; thirdDot = secondDot
        secondIdx = bestIdx; secondDot = bestDot
        bestIdx = pi; bestDot = dot
      } else if (secondIdx < 0 || dot > secondDot) {
        thirdIdx = secondIdx; thirdDot = secondDot
        secondIdx = pi; secondDot = dot
      } else if (thirdIdx < 0 || dot > thirdDot) {
        thirdIdx = pi; thirdDot = dot
      }
      pi += 1
    }
    val bestLang = ProfilesArr(bestIdx)._1
    val bestScore = bestDot / inNorm
    val secondLang = ProfilesArr(secondIdx)._1
    val secondScore = secondDot / inNorm
    // Accept only with a MARGIN over the runner-up: a Latin-script language
    // OUTSIDE the profiled set (ro, fi, …) scores moderately against
    // several near-neighbor profiles at once, and a bare argmax would
    // confidently mislabel it — unrelated profiled languages separate
    // cleanly (margin >= ~25% on running text), unprofiled ones bunch up.
    // On abstention languageClassifier falls back to the stopword heuristic.
    if (bestScore <= MinScore) null
    else if (bestScore - secondScore >= Margin * bestScore) bestLang
    else if (Confusable.contains(Set(bestLang, secondLang))) {
      // DIALECT-CONTINUUM pair (da/nb): the shared function-word mass
      // dominates both dots, so the margin can never separate them — and
      // can even rank the wrong member first. Standard hierarchical move:
      // first require the PAIR to clear the margin against the best
      // language outside it (so an unprofiled tongue that merely lands on
      // the cluster still abstains), then decide WITHIN the pair on the
      // profiles' DISJOINT trigrams only (af/av, blev/ble, op/opp,
      // efter/etter… — the orthographic discriminators the shared mass
      // drowns). Nynorsk, outside the set, resolves to nb here — the
      // conventional fold for this granularity.
      // best profile OUTSIDE the pair = third entry of the stable ranking
      val outsideScore = thirdDot / inNorm
      if (thirdIdx >= 0 && bestScore - outsideScore < Margin * bestScore) null
      else {
        val pa = ProfileMap(bestLang)
        val pb = ProfileMap(secondLang)
        var da = 0.0
        var db = 0.0
        counts.foreach { case (t, v) =>
          val a = pa.getOrElse(t, 0.0)
          val b = pb.getOrElse(t, 0.0)
          if (a > 0 && b == 0) da += v * a
          else if (b > 0 && a == 0) db += v * b
        }
        if (da == db) null else if (da > db) bestLang else secondLang
      }
    } else null
  }

  /** Pairs too close for the runner-up margin (same dialect continuum),
    * resolved by the disjoint-trigram tie-break above. */
  private val Confusable: Set[Set[String]] = Set(Set("da", "nb"))

  /** Supported Latin-script set = WordLists keys (en de fr es it pt nl pl cs
    * tr hu sv da nb); script-range set: ru el ko ja zh ar he. Text in most
    * other languages abstains (returns null) by the margin gate above —
    * probed r06: ro/fi abstain at Margin=0.15. The da/nb pair
    * sits inside one dialect continuum and is resolved by the
    * disjoint-trigram tie-break rather than the margin; Nynorsk folds to nb
    * at this granularity. */
  def supportedLatin: Seq[String] = WordLists.map(_._1)

  /** Character-trigram counts of the first 4k chars (letters lowercased,
    * non-letters collapsed to single boundaries) — shared by detect and
    * profileScores. */
  private def trigramCounts(text: String): mutable.HashMap[String, Double] = {
    val counts = mutable.HashMap.empty[String, Double]
    val n = math.min(text.length, 4096)
    val sb = new java.lang.StringBuilder(n + 2)
    sb.append(' ')
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (Character.isLetter(c)) sb.append(Character.toLowerCase(c))
      else if (sb.charAt(sb.length() - 1) != ' ') sb.append(' ')
      i += 1
    }
    sb.append(' ')
    var j = 0
    while (j + 3 <= sb.length()) {
      val t = sb.substring(j, j + 3)
      if (t != "   ") counts(t) = counts.getOrElse(t, 0.0) + 1.0
      j += 1
    }
    counts
  }

  /** Per-profile cosine scores, descending — diagnostics for profile
    * tuning; same pipeline as detect minus the gates. */
  def profileScores(text: String): Seq[(String, Double)] = {
    val counts = trigramCounts(text)
    if (counts.isEmpty) return Nil
    val inNorm = math.sqrt(counts.valuesIterator.map(v => v * v).sum)
    Profiles.map { case (lang, prof) =>
      var dot = 0.0
      counts.foreach { case (t, v) =>
        val p = prof.getOrElse(t, 0.0)
        if (p > 0) dot += v * p
      }
      lang -> dot / inNorm
    }.sortBy(-_._2)
  }

  private val MinScore = 0.05
  private val Margin = 0.15
}
