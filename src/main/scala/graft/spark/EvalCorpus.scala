package graft.spark

import graft.extract.{ExtractorOptions, Extraction}
import graft.parse.HtmlParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Evaluation-corpus scorer: reproduces the reference's quality harness
  * (tests/comparison.py:373-416) as a Spark job — binary scan of the page
  * archive, kernel extraction per row, substring with/without scoring joined
  * to the annotations, one global aggregation.
  *
  * Annotations: src/test/resources/evaldata.json, converted 1:1 from the
  * reference's tests/evaldata.py (751 entries; 654 page files ship in
  * tests/eval). Published reference scores for the standard config:
  * P 0.914 / R 0.904 / Acc 0.910 / F 0.909 (README.rst:103). */
object EvalCorpus {

  final case class Scores(tp: Long, fn: Long, fp: Long, tn: Long,
      docs: Long, seconds: Double) {
    def precision: Double = tp.toDouble / (tp + fp)
    def recall: Double = tp.toDouble / (tp + fn)
    def accuracy: Double = (tp + tn).toDouble / (tp + tn + fp + fn)
    def fscore: Double = (2.0 * tp) / (2 * tp + fp + fn)
    override def toString: String =
      f"P=$precision%.3f R=$recall%.3f Acc=$accuracy%.3f F=$fscore%.3f " +
        f"(tp=$tp fn=$fn fp=$fp tn=$tn docs=$docs in $seconds%.1fs)"
  }

  def annotations(spark: SparkSession, jsonPath: String): DataFrame =
    spark.read.option("multiLine", "true").json(jsonPath)
      .select(col("file"), col("with").as("expected"), col("without").as("unwanted"))

  /** Join-key canonicalization: when sun.jnu.encoding is ASCII (locale C),
    * the JVM replaces each non-ASCII byte of a file name with U+FFFD, which
    * is lossy. Map both sides to '?' per non-ASCII byte so they still join. */
  def canonName(name: String): String = {
    // keep in sync with canonNameCol (equivalence is test-pinned). Iterates
    // by CODE POINT: the pre-r5 per-char loop emitted 2 '?' for a
    // supplementary char (each surrogate half encoded alone is "?", 1 byte)
    // instead of its 4 UTF-8 bytes — latent, no eval name is supplementary.
    val sb = new StringBuilder
    var i = 0
    while (i < name.length) {
      val cp = name.codePointAt(i)
      if (cp < 128) sb.append(cp.toChar)
      else if (cp == 0xFFFD) sb.append('?')
      else {
        var n = if (cp < 0x800) 2 else if (cp < 0x10000) 3 else 4
        while (n > 0) { sb.append('?'); n -= 1 }
      }
      i += Character.charCount(cp)
    }
    sb.toString
  }

  /** Native-expression form of canonName for the DataFrame side (Catalyst
    * regexp_replace chain, codegen'd — the last non-kernel UDF is gone):
    * U+FFFD first (the JVM's own C-locale replacement char → one '?'), then
    * each remaining non-ASCII code point → one '?' per UTF-8 byte, split by
    * encoded width (2-byte U+0080-07FF, 3-byte BMP remainder, 4-byte
    * supplementary — Java regex char classes are code-point aware, so the
    * supplementary range never matches inside the BMP class). Lone
    * surrogates (unpaired) land in the 3-byte class on both sides. */
  def canonNameCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(c, "\uFFFD", "?"),
          "[\u0080-\u07FF]", "??"),
        "[\u0800-\uFFFF]", "???"),
      "[\\x{10000}-\\x{10FFFF}]", "????")

  /** Run the extraction over the eval pages and score. `mode` mirrors the
    * comparison.py runner configs (fast / standard / precision / recall /
    * baseline). */
  def score(spark: SparkSession, evalDir: String, jsonPath: String,
      mode: String = "standard"): Scores = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val ann = annotations(spark, jsonPath).withColumn("file", canonNameCol(col("file")))
    // Hadoop's listing drops files whose names hold URI-reserved chars (45 of
    // the 654 eval pages), so list with java.nio and read bytes task-side.
    val fileNames = new java.io.File(evalDir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".html")).map(_.getName).toSeq
    val pages = spark.createDataset(fileNames)(org.apache.spark.sql.Encoders.STRING)
      .repartition(spark.sparkContext.defaultParallelism)
      .map { name =>
        val bytes =
          try java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(evalDir, name))
          catch { case _: Exception => Array.empty[Byte] } // unreadable under C locale
        (canonName(name), bytes)
      }(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.BINARY))
      .toDF("file", "content")
    val joined = ann.join(pages, Seq("file")) // inner: only entries with a page
      .select(col("file"), col("content"), col("expected"), col("unwanted"))

    val opts = mode match {
      case "fast" => ExtractorOptions(fast = true, comments = false)
      case "precision" => ExtractorOptions(precision = true, comments = false)
      case "recall" => ExtractorOptions(recall = true, comments = false)
      case _ => ExtractorOptions(comments = false)
    }

    val scored = joined.as[(String, Array[Byte], Seq[String], Seq[String])]
      .map { case (file, content, expected, unwanted) =>
        val result: String =
          if (mode == "baseline") {
            val tree = HtmlParser.loadHtml(HtmlParser.decodeFile(content))
            if (tree == null) null else graft.extract.Baseline.baseline(tree)._2
          } else
            Option(Extraction.run(HtmlParser.decodeFile(content), null, null, opts)).map(_.txt).orNull
        var (tp, fn, fp, tn) = (0L, 0L, 0L, 0L)
        if (result != null) {
          expected.foreach(s => if (result.contains(s)) tp += 1 else fn += 1)
          unwanted.foreach(s => if (result.contains(s)) fp += 1 else tn += 1)
        } else {
          fn += expected.length
          tn += unwanted.length
        }
        (tp, fn, fp, tn, 1L)
      }
    val agg = scored.toDF("tp", "fn", "fp", "tn", "docs")
      .agg(sum("tp"), sum("fn"), sum("fp"), sum("tn"), sum("docs"))
      .collect()(0)
    Scores(agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3),
      agg.getLong(4), (System.nanoTime() - t0) / 1e9)
  }
}
