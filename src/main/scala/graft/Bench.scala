package graft

import graft.extract.{ExtractorOptions, TrafConfig}
import graft.spark.{DocsTables, ExtractPipeline}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import scala.util.control.NonFatal

/** Benchmark main: one in-process `local[N]` pass, N = min(SPARK_GRAFT_CPUS
  * or nproc, nproc). Emits ONE compact JSON line (stdout, LAST line, and
  * `BENCH.json` or SPARK_GRAFT_BENCH_OUT):
  * {"metric":"total","value":<sec>,"unit":"sec","queries":{...},
  *  "query_spread":{...},"query_runs":R,"sf":...,"cpus":N,
  *  "extract":{"docs":D,"sec":...,"docs_per_sec":...},
  *  "scaling":{"efficiency":null,"reason":...}}
  * The line is printed LAST because a single giant line drowned in sbt
  * noise and a stdout-tail parse truncated it.
  *
  * Scaling is not measured: a 2 -> 8 lane ratio needs legs wider than a
  * small host has, and legs wider than nproc oversubscribe it. perfbench
  * (perfbench/README.md) times the paths people run and splits each result
  * by layer. */
object Bench {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** Times every SparkEntry query and one fast-mode extraction pass over
    * `docsTableScaled(sfDir, factor)` on `spark`; returns the JSON line. */
  def run(spark: SparkSession, sfDir: String, queryRuns: Int, factor: Int): String = {
    val cpus = spark.sparkContext.defaultParallelism

    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // untimed warmup at sf0.001: plan codegen + broadcast init otherwise
      // lands entirely on the alphabetically-first query
      try { fn(spark, "/root/testdata/sf0.001").count() } catch { case NonFatal(_) => () }
      val runs = (1 to queryRuns).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch { case NonFatal(_) => false }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      val times = runs.map(_._1)
      // spread sentinel -1 when a run errored (a NaN would break the JSON)
      (name, median(times), if (runs.forall(_._2)) times.max / times.min - 1.0 else -1.0)
    }

    // input materialized once, so the timed pass is the kernel, not the
    // page synthesis; the limited pass warms the JIT
    val opts = ExtractorOptions(config = TrafConfig.Zero, fast = true, images = true)
    val docs = DocsTables.docsTableScaled(spark, sfDir, factor)
      .repartition(cpus * 4, col("doc_id")).localCheckpoint()
    ExtractPipeline.extractDocs(docs.limit(factor * 500), opts).filter(_.ok).count()
    val t0 = System.nanoTime()
    val nDocs = ExtractPipeline.extractDocs(docs, opts).filter(_.ok).count()
    val sec = (System.nanoTime() - t0) / 1e9

    val qs = results.map { case (k, v, _) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val qspread = results.map { case (k, _, sp) => "\"" + k + f"\":$sp%.2f" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val nproc = Runtime.getRuntime.availableProcessors
    f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,""" +
      f""""query_spread":$qspread,"query_runs":$queryRuns,"sf":"$sfDir","cpus":$cpus,""" +
      f""""extract":{"docs":$nDocs,"sec":$sec%.3f,"docs_per_sec":${nDocs / sec}%.1f},""" +
      f""""scaling":{"efficiency":null,""" +
      f""""reason":"not measured: no scaling legs (nproc=$nproc); see perfbench"}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nproc = Runtime.getRuntime.availableProcessors
    val cpus = math.max(1, math.min(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(nproc), nproc))
    val queryRuns = sys.env.getOrElse("SPARK_GRAFT_QUERY_RUNS", "3").toInt

    val spark = LocalSession(cpus)
    // extraction input sized to ~400k docs, so the pass is seconds of
    // kernel work — small runs measure job-fixed overhead
    val nDocsBase = DocsTables.documents(spark, sfDir).count()
    val factor = math.max(1, (400000 / math.max(1L, nDocsBase)).toInt)
    val json = run(spark, sfDir, queryRuns, factor)
    spark.stop()
    // the line also lands in a file: a stdout parse drowns in sbt log noise
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
  }
}
