package graft.spark

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.control.NonFatal

/** Deterministic synthesis of the interleaved `docs` input table
  * (doc_id, spans array<struct<kind,text,media_ref,offset>>) from the
  * driver-generated `documents.parquet` (doc_id, text, lang, source, n_chars).
  *
  * All synthesis is plain Catalyst column expressions (whole-stage codegen;
  * no UDF) so the construction is as scan-parallel as the extraction itself.
  * The page template buries the payload text inside an article-body div and
  * surrounds it with boilerplate nav/footer (+ optional figure image and a
  * comments section), so the extraction kernel has real pruning work whose
  * expected output is exactly predictable from the source row — the DuckDB
  * oracle can verify span equality end-to-end (FIXTURES.md §3). */
object DocsTables {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Scan-parallelism guard (optimization guide §2.5, "input skew: one huge
    * unsplittable file … otherwise repartition immediately after the read"):
    * a small single-file parquet yields ONE scan split, so expensive per-row
    * work downstream (extraction kernel, media codecs, shingle hashing,
    * vec_dot brute force) inherits parallelism 1-2 while the rest of the
    * executor idles — measured r06: media_features ran its entire
    * encode+decode pass in a single task (3.0 s exec, 1 task). Repartition
    * round-robin to the session's default parallelism ONLY when the scan
    * produces fewer splits; the check is driver-side plan inspection (no
    * job). NOT a local-mode constant: the target tracks the cluster
    * (`defaultParallelism`), and at production scale any real table yields
    * thousands of splits, making this a no-op with zero added shuffle. */
  private[graft] def fanOut(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    // cached and checkpointed inputs have no input files, so they keep their layout.
    // The check stays driver-side plan inspection: a `.rdd.getNumPartitions`
    // probe materializes AQE query stages, one extra job per call.
    val plan = df.queryExecution.optimizedPlan
    val nFiles = try df.inputFiles.length catch {
      case NonFatal(e) =>
        log.warn(s"fanOut: input files unknown ($e); keeping the input layout")
        Int.MaxValue
    }
    // size cap: file COUNT under-approximates split count for big files (a
    // few 1 GB files still split into many scan tasks), so the guard only
    // fires for scans small enough that the round-robin shuffle is
    // trivially cheap — which is exactly the regime it exists for
    val small = nFiles > 0 && nFiles < p &&
      (try plan.stats.sizeInBytes < (256L << 20) catch {
        case NonFatal(e) =>
          log.warn(s"fanOut: no size estimate ($e); keeping the input layout")
          false
      })
    if (small) df.repartition(p) else df
  }

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/embeddings.parquet")

  /** The synthetic page: deterministic given (doc_id, text, lang, source).
    *  - nav + footer boilerplate (stripped by tree_cleaning)
    *  - a social-share div (dropped by the OVERALL_DISCARD rules)
    *  - payload paragraph inside div.article-body (BODY_XPATH rule 1)
    *  - docs with doc_id % 5 == 0 carry a figure image
    *  - docs with doc_id % 7 == 0 carry a comments section
    */
  def pageHtml(docId: Column, text: Column, lang: Column, source: Column): Column = {
    val img = when(docId % 5 === 0,
      concat(lit("<img src=\"img"), docId, lit(".jpg\" alt=\"illustration "), docId, lit("\"/>")))
      .otherwise(lit(""))
    val comments = when(docId % 7 === 0,
      concat(lit("<div class=\"comments\"><p>comment "), docId, lit("</p></div>")))
      .otherwise(lit(""))
    concat(
      lit("<html lang=\""), lang, lit("\"><head><title>Doc "), docId,
      lit(" — "), source, lit("</title><meta name=\"author\" content=\"Jane Doe\"/></head><body>"),
      lit("<nav class=\"menu\"><a href=\"/\">Home</a><a href=\"/about\">About</a></nav>"),
      lit("<div class=\"social-share\"><a href=\"/share\">Share</a><a href=\"/tweet\">Tweet</a></div>"),
      lit("<div class=\"article-body\"><p>"), text, lit("</p>"), img, lit("</div>"),
      comments,
      lit("<footer>Copyright Example Corp</footer>"),
      lit("</body></html>"))
  }

  /** documents.parquet -> interleaved docs table (single html span per doc;
    * media spans interleave for doc_id % 11 == 0 to exercise passthrough). */
  def docsTable(spark: SparkSession, sfDir: String): Dataset[DocRow] = {
    import spark.implicits._
    // fanOut: the extraction kernel is the most expensive per-row transform
    // in the engine; a 1-split scan would run it single-task (guide §2.5)
    val d = fanOut(documents(spark, sfDir))
    val html = pageHtml(col("doc_id"), col("text"), col("lang"), col("source"))
    val htmlSpan = struct(lit("html").as("kind"), html.as("text"),
      lit(null).cast("string").as("media_ref"), lit(0).as("offset"))
    val mediaSpan = struct(lit("image").as("kind"),
      concat(lit("media for doc "), col("doc_id")).as("text"),
      concat(lit("blob://"), col("doc_id"), lit("/0")).as("media_ref"), lit(1).as("offset"))
    d.select(col("doc_id").cast("string").as("doc_id"),
      when(col("doc_id") % 11 === 0, array(htmlSpan, mediaSpan))
        .otherwise(array(htmlSpan)).as("spans"))
      .as[DocRow]
  }

  /** synth-scale (FIXTURES.md §4): replicate the docs table `factor`× with
    * distinct doc_ids — fixed seed-free determinism (pure arithmetic). */
  def docsTableScaled(spark: SparkSession, sfDir: String, factor: Int): Dataset[DocRow] = {
    import spark.implicits._
    // repartition BEFORE the page build: the base parquet is a single split,
    // so without the exchange one task would synthesize every page
    val d = documents(spark, sfDir)
      .join(spark.range(factor).toDF("rep"))
      .withColumn("doc_id", col("doc_id") * factor + col("rep"))
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
    val html = pageHtml(col("doc_id"), col("text"), col("lang"), col("source"))
    d.select(col("doc_id").cast("string").as("doc_id"),
      array(struct(lit("html").as("kind"), html.as("text"),
        lit(null).cast("string").as("media_ref"), lit(0).as("offset"))).as("spans"))
      .as[DocRow]
  }
}
