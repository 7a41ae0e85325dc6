package graft

import graft.extract.{Extraction, ExtractorOptions}
import graft.parse.HtmlParser
import org.scalatest.funsuite.AnyFunSuite

/** Real-world page cases ported from tests/realworld_tests.py:198-290 —
  * substring with/without assertions over archived pages (tests/cache,
  * read-only). Scored as a ratio (the reference itself does not pass every
  * clause on every page across versions); failures are printed for
  * fidelity-chasing. */
class RealWorldSpec extends AnyFunSuite {

  // the txt projection of one kernel run (null when the page is discarded)
  private def txt(html: String, url: String, o: ExtractorOptions): String =
    Option(Extraction.run(html, url, null, o)).map(_.txt).orNull

  private val Cache = "/root/reference/tests/cache"

  // (file, url, must-contain, must-not-contain)
  private val cases: List[(String, String, List[String], List[String])] = List(
    ("die-partei.net.luebeck.html", "https://die-partei.net/luebeck/2012/05/31/x/",
      List("Die GEMA dreht völlig am Zeiger!"), List("Impressum")),
    ("bmjv.de.konsum.html", "https://www.bmjv.de/DE/x",
      List("Anbieter von Fernwärme haben innerhalb ihres Leitungsnetzes ein Monopol"), List("Impressum")),
    ("denkanstoos.com.2012.html", "https://denkanstoos.wordpress.com/2012/04/11/x/",
      List("Two or three 10-15 min", "What type? Etc. (30 mins)"),
      List("Dieser Eintrag wurde veröffentlicht", "Mit anderen Teillen")),
    ("ebrosia.de.zinfandel.html", "https://www.ebrosia.de/x",
      List("Das Bukett präsentiert sich", "Besonders gut passt er zu asiatischen Gerichten"),
      List("Kunden kauften auch", "Gutschein sichern")),
    ("landwirt.com.sensortechnik.html", "https://www.landwirt.com/x",
      List("Überwachung der somatischen Zellen", "tragbaren Ultraschall-Geräten", "Kotkonsistenz"),
      List("Anzeigentarife", "Aktuelle Berichte aus dieser Kategorie")),
    ("rs-ingenieure.de.tragwerksplanung.html", "http://www.rs-ingenieure.de/x",
      List("Wir bearbeiten alle Leistungsbilder"), List("Brückenbau")),
    ("shingon-reiki.de.schamanismus.html", "http://www.shingon-reiki.de/x/",
      List("Heut geht es", "Ich komme dann zu dir vor Ort."),
      List("Catch Evolution", "und gekennzeichnet mit")),
    ("love-hina.ch.0409.html", "http://love-hina.ch/news/0409.html",
      List("Kapitel 121 ist"), List("Besucher online", "Kommentare schreiben")),
    ("cdu-fraktion-erfurt.de.waldorfschule.html", "http://www.cdu-fraktion-erfurt.de/x",
      List("der steigenden Nachfrage gerecht zu werden."),
      List("Zurück zur Übersicht", "Erhöhung für Zoo-Eintritt")),
    ("piratenpartei-mv.de.grundeinkommen.html", "https://piratenpartei-mv.de/blog/2013/09/12/x/",
      List("Unter diesem Motto findet am 14. September", "Volksinitiative Schweiz zum Grundeinkommen."),
      List("getaggt mit:", "Was denkst du?")),
    ("wehranlage-horka.de.887.html", "http://www.wehranlage-horka.de/veranstaltung/887/",
      List("In eine andere Zeit", "Während Sie über den Markt schlendern"),
      List("Infos zum Verein", "nach oben", "Datenschutzerklärung")),
    ("demokratiewebstatt.at.luft.html", "https://www.demokratiewebstatt.at/x",
      List("Millionen Menschen fahren jeden Tag"),
      List("Clipdealer", "Teste dein Wissen", "Thema: Fußball")),
    ("simplyscience.ch.erdoel.html", "http://www.simplyscience.ch/x.html",
      List("Erdöl bildet nach Millionen", "Warum wird das Erdöl knapp?"),
      List("Die Natur ist aus chemischen Elementen aufgebaut")),
    ("rnz.de.witzel.html", "https://www.rnz.de/x.html",
      List("Für einen Roman", "Auszeichnung der Branche."), Nil),
    ("toralin.de.schmierfett.html", "http://www.toralin.de/x.html",
      List("künftig das XADO-Schutzfett verwenden.", "bis zu 50% Verschleiß.",
        "Die Lebensdauer von Bauteilen erhöht sich beträchtlich."),
      List("Newsletter", "Sie könnten auch an folgenden Artikeln interessiert sein")),
    ("fairkom.eu.about.html", "https://www.fairkom.eu/about",
      List("ein gemeinwohlorientiertes Partnerschaftsnetzwerk",
        "Stimmberechtigung bei der Generalversammlung."), List("support@fairkom.eu")),
    ("futurezone.at.lyft.html", "https://futurezone.at/digital-life/x/400487461",
      List("Einige Kunden des Fahrdienst-Vermittler Lyft", "zeitweise rund vier Prozent."),
      List("Allgemeine Nutzungsbedingungen", "Waymo bittet Autohersteller um Geld")),
    ("hundeverein-kreisunna.de.html", "http://www.hundeverein-kreisunna.de/unserverein.html",
      List("Beate und Norbert Olschewski", "ein Familienmitglied und unser Freund."),
      List("zurück zur Startseite")),
    ("viehbacher.com.steuerrecht.html", "https://viehbacher.com/de/steuerrecht",
      List("und wirtschaftlich orientierte Privatpersonen", "rund um die Uhr.",
        "Mensch im Mittelpunkt."), List("Was sind Cookies?")),
    ("jovelstefan.de.gefallt.html", "http://www.jovelstefan.de/2011/09/11/x/",
      List("Manchmal überrascht einen", "kein Meisterwerk war!"),
      List("Pingback von", "Kommentare geschlossen")),
    ("stuttgart.de.html", "https://www.stuttgart.de/item/show/132240/1",
      List("Das Bohnenviertel entstand", "sich herrlich entspannen."),
      List("Nützliche Links", "Mehr zum Thema")),
    ("schleifen.ucoz.de.briefe.html", "http://schleifen.ucoz.de/blog/briefe/2010-10-26-18",
      List("Es war gesagt,", "Symbol auf dem Finger haben"), List("Aufrufe:")),
    ("austria.info.radfahren.html", "https://www.austria.info/x",
      List("Salzburg liebt seine Radfahrer.", "Puls einsaugen zu lassen."),
      List("Das könnte Sie auch interessieren ...", "So macht Radfahren sonst noch Spaß"))
  )

  test("real-world archived pages: scored substring parity") {
    FixtureCorpus.require(Cache)
    var clausesTotal = 0
    var clausesPassed = 0
    var pagesClean = 0
    cases.foreach { case (file, url, mustHave, mustNot) =>
      val path = java.nio.file.Paths.get(Cache, file)
      if (java.nio.file.Files.exists(path)) {
        val html = HtmlParser.decodeFile(java.nio.file.Files.readAllBytes(path))
        val r = Option(txt(html, url, ExtractorOptions())).getOrElse("")
        var pageOk = true
        mustHave.foreach { c =>
          clausesTotal += 1
          if (r.contains(c)) clausesPassed += 1
          else { pageOk = false; info(s"MISS [$file] expected: ${c.take(60)}") }
        }
        mustNot.foreach { c =>
          clausesTotal += 1
          if (!r.contains(c)) clausesPassed += 1
          else { pageOk = false; info(s"LEAK [$file] unwanted: ${c.take(60)}") }
        }
        if (pageOk) pagesClean += 1
      }
    }
    val ratio = clausesPassed.toDouble / clausesTotal
    info(f"real-world clause pass ratio: $ratio%.3f ($clausesPassed/$clausesTotal), clean pages $pagesClean/${cases.length}")
    assert(ratio >= 0.85, f"real-world parity dropped: $ratio%.3f")
  }
}
