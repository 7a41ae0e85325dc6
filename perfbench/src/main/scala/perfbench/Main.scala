package perfbench

import graft.extract.{ExtractedDoc, ExtractorOptions}
import graft.out.Serializers.Span
import graft.spark.ResultRow
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark JVM: runs one workload on inputs that run.py generated,
  * and writes a raw report (`report.json`, `listener.json`, `spans.tsv`)
  * that run.py turns into metrics.
  *
  *   perfbench.Main --workload runner|extract_real|queries
  *     --seed N --seconds S --trace 0|1 --dir RUN_DIR --lanes L
  */
object Main {
  /** The README runbook's `--mode standard` (graft.Main's mode mapping). */
  val StandardOpts: ExtractorOptions = ExtractorOptions(images = true)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mainNs = Clock.now
    val dir = Paths.get(a("dir")).toAbsolutePath
    val lanes = a("lanes").toInt
    val trace = a("trace") == "1"
    val spark = SparkSession.builder()
      .appName(s"perfbench-${a("workload")}")
      .master(s"local[$lanes]")
      .config("spark.sql.shuffle.partitions", lanes.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new BenchListener
    spark.sparkContext.addSparkListener(listener)
    val rec = new Recorder(spark.sparkContext)
    val sessionNs = Clock.now

    val ctx = Ctx(spark, rec, dir, lanes, a("seed").toLong)
    val w: Workload = a("workload") match {
      case "runner" => new RunnerWorkload(ctx)
      case "extract_real" => new ExtractWorkload(ctx)
      case "queries" => new QueriesWorkload(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val prepareNs = (1 to 3).map(i => rec.step(s"prepare-$i", "setup")(w.prepare(i))._2)
    val warmupNs = rec.step("warmup", "setup")(w.warmup())._2
    val firstTimedNs = Clock.now
    if (trace) w.traced() else w.measure(a("seconds").toDouble * 1e9)
    w.verify()
    val endNs = Clock.now
    org.apache.spark.ListenerDrain(spark.sparkContext)
    if (trace) w.docSpans(rec.addSparkSpans(listener))

    val report = mutable.LinkedHashMap[String, Any](
      "jvm_main_ns" -> mainNs, "session_ready_ns" -> sessionNs, "prepare_ns" -> prepareNs, "warmup_ns" -> warmupNs,
      "first_timed_ns" -> firstTimedNs, "end_ns" -> endNs, "peak_rss_mb" -> peakRssMb,
      "lanes" -> lanes, "available_processors" -> Runtime.getRuntime.availableProcessors,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "java_version" -> System.getProperty("java.version"),
      "java_vm" -> System.getProperty("java.vm.name"), "spark_version" -> spark.version,
      "workload_id" -> rec.workloadId, "step_codegen" -> rec.codegen)
    report ++= w.out
    report("attempted") = w.attempted
    report("failed") = w.failed
    Files.writeString(dir.resolve("listener.json"), listener.toJson)
    rec.add(SpanRec(rec.workloadId, 0, "workload", firstTimedNs, endNs, a("workload")))
    rec.write(dir.resolve("spans.tsv"))
    Files.writeString(dir.resolve("report.json"), Json(report))
    spark.stop()
  }

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(-1.0)

  // ------------------------------------------------------------ digests

  /** One output row in a canonical text form: every column but the
    * per-doc timing (`kernel_us`). */
  def canonical(r: ResultRow): String = {
    def spans(xs: Seq[Span]) =
      xs.map(s => Seq(s.kind, s.text, s.media_ref, s.offset).mkString("\u0002")).mkString("\u0003")
    Seq(r.doc_id, r.ok, r.text, r.comments, r.title, r.author, r.url, r.hostname, r.description,
      r.sitename, r.date, Option(r.categories).map(_.mkString("\u0002")).orNull,
      Option(r.tags).map(_.mkString("\u0002")).orNull, r.fingerprint, r.license, r.language,
      r.image, r.pagetype, Option(r.spans).map(spans).orNull).mkString("\u0001")
  }

  /** The output row the pipeline builds from a kernel result (no media spans). */
  def toRow(docId: String, doc: ExtractedDoc): ResultRow =
    if (doc == null)
      ResultRow(docId, Seq.empty, null, null, null, null, null, null, null, null, null,
        Seq.empty, Seq.empty, null, null, null, null, null, ok = false, kernel_us = 0)
    else {
      val m = doc.meta
      ResultRow(docId, doc.spans, doc.text, doc.comments, m.title, m.author, m.url, m.hostname,
        m.description, m.sitename, m.date, m.categories, m.tags, m.fingerprint, m.license,
        m.language, m.image, m.pagetype, ok = true, kernel_us = 0)
    }

  def digest(lines: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.toSeq.sorted.foreach { l =>
      md.update(l.getBytes(java.nio.charset.StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}

final case class Ctx(spark: SparkSession, rec: Recorder, dir: Path, lanes: Int, seed: Long)

/** One workload: set-up (repeated, the last one is used), timed passes or
  * one traced pass, then the correctness checks. `out` collects raw report
  * fields: samples, counts and checks. */
abstract class Workload(ctx: Ctx) {
  val out = mutable.LinkedHashMap[String, Any]()
  protected val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  /** Operations attempted and failed: docs, bucket commits, passes, queries. */
  var attempted = 0L
  var failed = 0L
  out("checks") = checks

  def prepare(rep: Int): Unit
  /** Untimed work between set-up and the first timed operation. */
  def warmup(): Unit = ()
  def measure(budgetNs: Double): Unit
  def traced(): Unit
  def verify(): Unit
  /** Add the traced run's per-doc spans under their Spark stage spans. */
  def docSpans(stageSpan: ((Int, Int)) => Long): Unit = ()

  protected def check(name: String, ok: Boolean, detail: String): Unit = {
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
  }

  /** Run timed passes until the budget is spent (at least one). */
  protected def loop(budgetNs: Double)(pass: Int => Unit): Unit = {
    val t0 = Clock.now
    var k = 0
    while (k == 0 || Clock.now - t0 < budgetNs) { pass(k); k += 1 }
  }
}
