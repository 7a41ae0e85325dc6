package graft

import graft.extract.{ExtractorOptions, TrafConfig}
import graft.spark.{DocRow, DocsTables, ExtractPipeline}
import org.apache.spark.sql.{Dataset, SparkSession}

/** spark-submit entry point: extraction over an interleaved-docs table with
  * skew routing and the bucketed, resumable commit log (north rule: launched
  * via spark-submit at N and 4N executors; resume re-processes only
  * uncommitted buckets).
  *
  * Usage (all args optional; README "Production runbook" carries the full
  * spark-submit invocation):
  *   spark-submit --class graft.Main <jar> \
  *     --input  <parquet dir of (doc_id, spans) rows | sf dir with documents.parquet> \
  *     --output <output dir>  --buckets 64  --skew-bytes 1048576 \
  *     --mode   fast|standard|precision|recall \
  *     --html-backup            (persist raw html next to the extraction
  *                               output, per-bucket, same atomic manifest —
  *                               the reference's --backup-dir sink)
  *
  * On a cluster the master/parallelism come from spark-submit; local runs
  * default to local[*]. RESUME is automatic and implicit: re-running with
  * the same output dir skips committed buckets (per-bucket manifests carry
  * lineage, metrics and scan evidence); a changed --buckets, --html-backup
  * or --skew-bytes against an existing output dir fails loudly instead of
  * mis-bucketing (heavy docs are routed once, when the input is staged).
  */
object Main {

  private def arg(args: Array[String], name: String, default: String): String = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) args(i + 1) else default
  }

  def main(args: Array[String]): Unit = {
    val input = arg(args, "--input", "/root/testdata/sf0.001")
    val output = arg(args, "--output", "/tmp/graft-out")
    val buckets = arg(args, "--buckets", "16").toInt
    val skewBytes = arg(args, "--skew-bytes", (1 << 20).toString).toInt
    val mode = arg(args, "--mode", "standard")
    val htmlBackup = args.contains("--html-backup")

    val builder = SparkSession.builder().appName("graft-extract")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
    // spark-submit provides the master on a cluster; default local for dev
    val spark =
      (if (sys.props.contains("spark.master") || sys.env.contains("SPARK_MASTER"))
        builder else builder.master("local[*]")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val opts = mode match {
      case "fast" => ExtractorOptions(config = TrafConfig.Default, fast = true, images = true)
      case "precision" => ExtractorOptions(precision = true, images = true)
      case "recall" => ExtractorOptions(recall = true, images = true)
      case _ => ExtractorOptions(images = true)
    }

    // accept either a ready interleaved-docs parquet table or an sf dir
    val docs: Dataset[DocRow] =
      if (new java.io.File(s"$input/documents.parquet").exists())
        DocsTables.docsTable(spark, input)
      else spark.read.parquet(input).as[DocRow]

    val t0 = System.nanoTime()
    val written = ExtractPipeline.runWithCommitLog(spark, docs, output, opts,
      buckets, skewBytes, htmlBackup)
    val secs = (System.nanoTime() - t0) / 1e9
    // counts come from the manifests: buckets this run wrote vs. buckets an
    // earlier run had already committed; throughput counts this run's only
    val thisRun = written.toSet
    val (run, before) = (0 until buckets)
      .flatMap(b => ExtractPipeline.manifestMetrics(output, b).map(s"$output/bucket-$b" -> _))
      .partition { case (path, _) => thisRun.contains(path) }
    def total(ms: Seq[(String, Map[String, Long])], k: String) = ms.map(_._2(k)).sum
    val nRun = total(run, "docs")
    println(f"GRAFT-EXTRACT done: buckets_written=${written.length}/$buckets " +
      f"docs_this_run=$nRun ok_this_run=${total(run, "ok")} " +
      f"docs_already_committed=${total(before, "docs")} " +
      f"wall=$secs%.1fs tput=${nRun / math.max(secs, 1e-9)}%.0f docs/s " +
      s"output=$output (skew threshold ${if (skewBytes > 0) s"${skewBytes}B" else "off"}, " +
      s"mode $mode, htmlBackup=$htmlBackup)")
    spark.stop()
  }
}
