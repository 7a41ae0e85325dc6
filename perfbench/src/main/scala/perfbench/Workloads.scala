package perfbench

import graft.extract.{Extraction, ExtractorOptions}
import graft.spark.{DocRow, DocsTables, ExtractPipeline, ResultRow}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `runner`: the README local runbook (16 buckets, 1 MiB skew threshold,
  * standard mode, html backup) through `ExtractPipeline.runWithCommitLog`
  * on a fresh output directory, after an untimed `extractDocs` over the
  * same input (the digest reference, which also warms the kernel). */
final class RunnerWorkload(ctx: Ctx) extends Workload(ctx) {
  import ctx.spark.implicits._
  private val Buckets = 16
  private val sfDir = ctx.dir.resolve("input/sf").toString
  private var docs: Dataset[DocRow] = _
  private var nDocs = 0L
  private val passNs = mutable.ArrayBuffer.empty[Long]
  private var lastOut: Path = _
  private var want: Array[ResultRow] = _

  def prepare(rep: Int): Unit = {
    docs = DocsTables.docsTable(ctx.spark, sfDir)
    nDocs = ctx.spark.read.parquet(s"$sfDir/documents.parquet").count()
  }

  /** The reference output for the digest check; it also warms the kernel. */
  override def warmup(): Unit = want = ExtractPipeline.extractDocs(docs, Main.StandardOpts).collect()

  private def pass(name: String, kind: String): Unit = {
    if (lastOut != null) Main.deleteTree(lastOut)
    val outDir = ctx.dir.resolve(s"out/$name")
    val (_, ns) = ctx.rec.step(name, kind) {
      ExtractPipeline.runWithCommitLog(ctx.spark, docs, outDir.toString, Main.StandardOpts,
        Buckets, skewThresholdBytes = 1 << 20, htmlBackup = true)
    }
    lastOut = outDir
    passNs += ns
    val ms = manifests(outDir)
    // every doc and every bucket commit is an operation
    attempted += nDocs + Buckets
    failed += (Buckets - ms.size) + math.max(0L, nDocs - ms.map(_("ok")).sum)
  }

  private def manifests(outDir: Path): Seq[Map[String, Long]] = {
    val commits = outDir.resolve("_commits")
    (0 until Buckets).map(b => commits.resolve(s"bucket-$b.json")).filter(Files.exists(_)).map { p =>
      val json = Files.readString(p)
      val fields = """"(\w+)":(\d+)""".r.findAllMatchIn(json).map(m => m.group(1) -> m.group(2).toLong).toMap
      fields + ("mtime_ns" -> Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.NANOSECONDS))
    }
  }

  /** One runbook call: the runbook runs once per process, and later calls
    * in the same JVM keep getting faster (8.7, 7.4, 6.4, 5.3 s measured), so
    * a pass count that depends on the time budget would mix the two. */
  def measure(budgetNs: Double): Unit = {
    pass("runner-0", "timed")
    out("pass_ns") = passNs
  }

  def traced(): Unit = {
    val start = Clock.now
    pass("runner-traced", "traced")
    val ms = manifests(lastOut)
    val first = ms.find(_("bucket") == 0)
    val written = {
      val s = Files.walk(lastOut)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }
    out("runner") = Map(
      "stage_s" -> first.map(m => (m("mtime_ns") - m("wall_ms") * 1000000L - start) / 1e9).getOrElse(-1.0),
      "bucket_ms" -> ms.map(_("wall_ms")),
      "buckets" -> Buckets,
      "bytes_written" -> written,
      "docs" -> nDocs)
  }

  def verify(): Unit = {
    val (got, ids) = ctx.rec.step("runner-verify", "verify") {
      (ctx.spark.read.parquet(s"$lastOut/bucket-*").as[ResultRow].collect(),
        docs.select("doc_id").as[String].collect())
    }._1
    val ms = manifests(lastOut)
    val nManifests = ms.size
    out("bucket_docs") = ms.map(m => Seq(m("bucket"), m("docs")))
    out("op_ms") = got.map(_.kernel_us / 1000.0)
    check("runner.manifests", nManifests == Buckets, s"$nManifests of $Buckets bucket manifests committed")
    val counts = got.groupBy(_.doc_id).map { case (k, v) => k -> v.length }
    val missing = ids.count(id => !counts.contains(id))
    val dup = counts.count(_._2 > 1)
    val extra = counts.keySet.diff(ids.toSet).size
    check("runner.doc_ids_once", missing == 0 && dup == 0 && extra == 0,
      s"${ids.length} input doc_ids: $missing missing, $dup duplicated, $extra unknown")
    out("digests") = Map(
      "runner.output" -> Map("got" -> Main.digest(got.map(Main.canonical)),
        "want" -> Main.digest(want.map(Main.canonical))))
    Main.deleteTree(lastOut)
  }
}

/** Per-doc record of the traced replay. */
final case class ReplayDoc(doc_id: String, stage: Int, attempt: Int, start: Long, end: Long,
    plain_ns: Long, matched: Boolean, nodes: Int, fallback: Boolean, baseline: Boolean,
    names: Seq[String], starts: Seq[Long], ends: Seq[Long])

/** `extract_real`: standard-mode `ExtractPipeline.extractDocs` over seeded
  * variants of the in-repo real pages, from pre-written parquet into the
  * `noop` sink. */
final class ExtractWorkload(ctx: Ctx) extends Workload(ctx) {
  import ctx.spark.implicits._
  private val opts: ExtractorOptions = Main.StandardOpts
  private var input: Dataset[DocRow] = _
  private var nDocs = 0L
  private val passNs = mutable.ArrayBuffer.empty[Long]
  private var replay: Array[ReplayDoc] = Array.empty

  def prepare(rep: Int): Unit = {
    Main.deleteTree(ctx.dir.resolve(s"staged-${rep - 1}"))
    val staged = ctx.dir.resolve(s"staged-$rep").toString
    ctx.spark.read.parquet(ctx.dir.resolve("input/real.parquet").toString)
      .repartition(ctx.lanes * 2).write.mode("overwrite").parquet(staged)
    input = ctx.spark.read.parquet(staged).as[DocRow]
    nDocs = input.count()
  }

  /** JIT and kernel warm-up: a long extraction job runs warm. */
  override def warmup(): Unit =
    ExtractPipeline.extractDocs(input, opts).write.format("noop").mode("overwrite").save()

  def measure(budgetNs: Double): Unit = {
    loop(budgetNs) { k =>
      attempted += 1
      val (_, ns) = ctx.rec.step(s"pass-$k", "timed") {
        ExtractPipeline.extractDocs(input, opts).write.format("noop").mode("overwrite").save()
      }
      passNs += ns
    }
    out("pass_ns") = passNs
  }

  def traced(): Unit = {
    val row = ctx.rec.step("pass-traced", "traced") {
      ExtractPipeline.extractDocs(input, opts)
        .agg(sum(col("kernel_us")), count(lit(1)), sum(when(col("ok"), 1).otherwise(0))).collect()(0)
    }._1
    val o = opts
    replay = ctx.rec.step("replay", "replay") {
      input.mapPartitions { it =>
        val tc = TaskContext.get()
        var i = 0
        it.map { r =>
          val html = ExtractPipeline.htmlPayload(r.spans)
          val sizeOk = html != null && html.length >= o.config.minFileSize &&
            html.length <= o.config.maxFileSize
          val t = new PhaseTimer
          def traced() = {
            val s = Clock.now
            val d = if (sizeOk) Replay.extractDoc(html, r.doc_id, o, t) else null
            (d, s, Clock.now)
          }
          def plain() = {
            val s = System.nanoTime()
            val d = if (sizeOk) Extraction.extractDoc(html, null, r.doc_id, o) else null
            (d, System.nanoTime() - s)
          }
          // alternate the order so neither side always runs on warm caches
          val ((rd, s, e), (pd, plainNs)) =
            if (i % 2 == 0) { val a = traced(); (a, plain()) } else { val b = plain(); (traced(), b) }
          i += 1
          ReplayDoc(r.doc_id, tc.stageId(), tc.stageAttemptNumber(), s, e, plainNs, rd == pd,
            t.nodes, t.fallbackUsed, t.baselineUsed, t.names.toSeq, t.starts.toSeq, t.ends.toSeq)
        }
      }.collect()
    }._1
    out("kernel") = Map("kernel_us_sum" -> row.getLong(0), "docs" -> row.getLong(1), "ok" -> row.getLong(2),
      "replayed" -> replay.length, "replay_mismatches" -> replay.count(!_.matched),
      "nodes_sum" -> replay.map(_.nodes.toLong).sum, "plain_ns_sum" -> replay.map(_.plain_ns).sum,
      "fallback_used" -> replay.count(_.fallback), "baseline_used" -> replay.count(_.baseline))
    check("kernel.replay_matches_extractDoc", replay.forall(_.matched),
      s"${replay.count(!_.matched)} of ${replay.length} replayed docs differ from Extraction.extractDoc")
  }

  override def docSpans(stageSpan: ((Int, Int)) => Long): Unit =
    replay.foreach { d =>
      val docId = ctx.rec.newId()
      ctx.rec.add(SpanRec(docId, stageSpan((d.stage, d.attempt)), "kernel.doc", d.start, d.end, d.doc_id))
      d.names.indices.foreach { i =>
        ctx.rec.add(SpanRec(ctx.rec.newId(), docId, d.names(i), d.starts(i), d.ends(i), d.doc_id))
      }
    }

  def verify(): Unit = {
    val o = opts
    val got = ctx.rec.step("extract-verify", "verify") {
      ExtractPipeline.extractDocs(input, o).collect()
    }._1
    attempted += got.length
    failed += got.count(!_.ok) + math.max(0L, nDocs - got.length)
    out("op_ms") = got.map(_.kernel_us / 1000.0)
    check("extract.rows", got.length == nDocs, s"${got.length} output rows for $nDocs input docs")
    val texts = got.filter(_.ok).map(_.text)
    out("dup_text_frac") = if (texts.isEmpty) 0.0 else 1.0 - texts.distinct.length.toDouble / texts.length
    // the same docs through direct Extraction.extractDoc calls
    val direct = ctx.rec.step("extract-direct", "verify") {
      input.mapPartitions(_.map { r =>
        Main.canonical(Main.toRow(r.doc_id,
          Extraction.extractDoc(ExtractPipeline.htmlPayload(r.spans), null, r.doc_id, o)))
      }).collect()
    }._1
    out("digests") = Map("extract_real.output" ->
      Map("got" -> Main.digest(got.map(Main.canonical)), "want" -> Main.digest(direct)))
  }
}

/** `queries`: the 23 `SparkEntry.queries` in seed-shuffled order. Each query
  * gets an untimed warm-up on the small check input (its output is kept for
  * the DuckDB oracle), then timed runs on the main input into the `noop`
  * sink. */
final class QueriesWorkload(ctx: Ctx) extends Workload(ctx) {
  private val mainDir = ctx.dir.resolve("input/main").toString
  private val checkDir = ctx.dir.resolve("input/check").toString
  private val order: Seq[String] =
    new scala.util.Random(ctx.seed).shuffle(graft.SparkEntry.queries.keys.toSeq.sorted)
  private val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]
  private val errors = mutable.LinkedHashMap.empty[String, String]

  def prepare(rep: Int): Unit =
    Seq("documents", "embeddings", "events", "orders", "customer", "lineitem", "nation").foreach { t =>
      ctx.spark.read.parquet(s"$mainDir/$t.parquet").inputFiles
    }

  private def run(name: String, kind: String, dir: String)(sink: DataFrame => Unit): Unit = {
    attempted += 1
    try {
      val ns = ctx.rec.step(name, kind)(sink(graft.SparkEntry.queries(name)(ctx.spark, dir)))._2
      if (kind != "warmup") times.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ns
    } catch {
      case e: Throwable =>
        failed += 1
        errors(s"$kind:$name") = String.valueOf(e.getMessage).take(300)
    }
  }

  private def warmup(name: String): Unit =
    run(name, "warmup", checkDir)(_.write.mode("overwrite").parquet(ctx.dir.resolve(s"check-out/$name").toString))

  private def timed(name: String, kind: String): Unit =
    run(name, kind, mainDir)(_.write.format("noop").mode("overwrite").save())

  def measure(budgetNs: Double): Unit = {
    val t0 = Clock.now
    order.foreach { q => warmup(q); timed(q, "timed") }
    while (Clock.now - t0 < budgetNs) order.foreach(timed(_, "timed"))
    report()
  }

  def traced(): Unit = {
    order.foreach { q => warmup(q); timed(q, "traced") }
    report()
  }

  private def report(): Unit = {
    out("order") = order
    out("query_ns") = times
    out("errors") = errors
  }

  def verify(): Unit = {
    out("oracle_sql") = graft.SparkEntry.oracleSql
    out("check_outputs") = order.filterNot(q => errors.contains(s"warmup:$q"))
      .map(q => q -> ctx.dir.resolve(s"check-out/$q").toString).toMap
    check("queries.no_errors", errors.isEmpty, errors.map { case (k, v) => s"$k: $v" }.mkString("; "))
  }
}
