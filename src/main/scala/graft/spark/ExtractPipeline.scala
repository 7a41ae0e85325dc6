package graft.spark

import graft.extract.{Deduplicator, ExtractedDoc, Extraction, ExtractorOptions}
import graft.out.Serializers.Span
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Input row: the Iceberg-style interleaved document (BASELINE.json
  * input_hint): doc_id + ordered spans of kind html|image|… */
final case class DocRow(doc_id: String, spans: Seq[Span])

/** Output row: ordered extraction spans + flattened metadata + per-doc
  * lineage/metrics fields (ok flag, kernel micros). */
final case class ResultRow(
    doc_id: String,
    spans: Seq[Span],
    text: String,
    comments: String,
    title: String, author: String, url: String, hostname: String,
    description: String, sitename: String, date: String,
    categories: Seq[String], tags: Seq[String],
    fingerprint: String, license: String, language: String,
    image: String, pagetype: String,
    ok: Boolean, kernel_us: Long)

/** The Spark-native extraction pipeline: a typed `mapPartitions` transform
  * over `Dataset[DocRow]` (SURVEY §3.1 — the whole reference cascade is the
  * per-row kernel; the only cross-boundary points are the scan and the sink).
  *
  * Scale design (1000-executor story):
  *  - the kernel is per-row pure Scala — embarrassingly parallel, no shuffle;
  *    `runWithCommitLog` lays the input out by doc_id hash once, at staging,
  *    through one exchange aligned to the buckets, so a bucket pass is one
  *    map-only scan -> kernel -> write job over at most k staged files;
  *  - mega-document skew (north rule) is routed once, at staging: rows
  *    heavier than the skew threshold land in their bucket's heavy directory,
  *    and only a pass that finds one spreads those rows round-robin over
  *    their own partitions, so one 100 MB page cannot stall a 128 MB-input
  *    task (AQE cannot re-plan a map-only stage);
  *  - per-partition LRU dedup state lives inside the partition iterator,
  *    matching the reference's per-process cache semantics (SURVEY §7.4.3).
  */
object ExtractPipeline {

  /** Assemble the HTML payload of one interleaved doc: concatenate
    * kind="html" spans in offset order (FIXTURES.md §1). */
  def htmlPayload(spans: Seq[Span]): String = {
    val htmls = spans.filter(_.kind == "html").sortBy(_.offset)
    if (htmls.isEmpty) null
    else if (htmls.lengthCompare(1) == 0) htmls.head.text
    else htmls.map(_.text).mkString
  }

  /** The per-row kernel. Media spans pass through as trailing graphic spans
    * (kind context preserved, core.py:425-450 analogue). */
  def extractRow(row: DocRow, options: ExtractorOptions): ResultRow = {
    val t0 = System.nanoTime()
    val html = htmlPayload(row.spans)
    // MAX_FILE_SIZE / MIN_FILE_SIZE gates (cli_utils.py:388-393)
    val sizeOk = html != null && html.length >= options.config.minFileSize &&
      html.length <= options.config.maxFileSize
    val doc: ExtractedDoc =
      if (!sizeOk) null
      else Extraction.extractDoc(html, null, row.doc_id, options)
    val media = row.spans.filter(s => s.kind != "html" && s.kind != "text")
    if (doc == null) {
      ResultRow(row.doc_id, Seq.empty, null, null, null, null, null, null, null,
        null, null, Seq.empty, Seq.empty, null, null, null, null, null,
        ok = false, kernel_us = (System.nanoTime() - t0) / 1000)
    } else {
      val base = doc.spans
      val passthrough = media.zipWithIndex.map { case (m, i) =>
        Span("graphic", m.text, m.media_ref, base.length + i)
      }
      val m = doc.meta
      ResultRow(row.doc_id, base ++ passthrough, doc.text, doc.comments,
        m.title, m.author, m.url, m.hostname, m.description, m.sitename, m.date,
        m.categories, m.tags, m.fingerprint, m.license, m.language, m.image, m.pagetype,
        ok = true, kernel_us = (System.nanoTime() - t0) / 1000)
    }
  }

  /** Typed extraction transform. Options are captured in the task closure
    * (immutable); the dedup LRU is instantiated per partition. */
  def extractDocs(ds: Dataset[DocRow], options: ExtractorOptions): Dataset[ResultRow] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { iter =>
      val opts =
        if (options.dedup) options.copy(dedupCache = new Deduplicator())
        else options
      iter.map(extractRow(_, opts))
    }
  }

  // ------------------------------------------------------------- commit log

  /** Iceberg-snapshot emulation (no Iceberg jar in /opt/spark/jars): the run
    * is split into `buckets` by hash(doc_id); each bucket is written to its
    * own directory followed by an atomic JSON manifest recording lineage +
    * extraction metrics. A restarted run skips committed buckets — the north
    * rule's per-partition checkpointed resume.
    *
    * Scan economics: the raw input is staged ONCE as a parquet table
    * partitioned by `_bucket` (the emulated `bucket(doc_id)` Iceberg layout)
    * and `_heavy`, which marks the docs whose payload (the text length
    * summed over all spans) exceeds `skewThresholdBytes`; `<= 0` routes no
    * doc as heavy. Staging adds one exchange, `repartition(buckets * k,
    * doc_id)`. Spark's hash partitioning is `pmod(murmur3(doc_id, 42), n)`,
    * the function that defines `_bucket`, so with `n = buckets * k` each
    * shuffle partition holds rows of exactly one bucket (partition mod
    * buckets): a bucket has at most k staged files, 2k with heavy docs,
    * however many partitions the input had (see `filesPerBucket` for k).
    * Routing is decided there and never again. Every bucket pass — including
    * resume passes in a later process — reads only its own `_bucket=N`
    * directories: the bulk one goes straight from the scan through the
    * kernel to the write, one map-only job with no exchange; a heavy one
    * exists only if staging routed a doc there, and only then does the pass
    * spread those rows round-robin over their own partitions. Total input
    * scan volume is 1x (the staging read) + 1/buckets per pass, never
    * buckets× the raw table; the staging exchange adds one shuffle write
    * and one shuffle read of the whole input, and each of its
    * `buckets * k` reducers handles 1/(buckets * k) of it (about 3.5 GB at
    * 100 TB, 4096 buckets and k = 7, a cost measured only at sf0.1, where
    * the shuffle is about 2 MB). `htmlBackup=true` adds one job at staging that
    * reads the staged table back once and writes the `(doc_id, html)`
    * projection of every uncommitted bucket, partitioned by `_bucket`, to
    * `_backup`; a pass commits its share with a directory rename, not a
    * second job.
    * Each manifest records the directories (`scan_path`) and files it read.
    * The staged layout is part of the run: `_commits/_buckets` records the
    * bucket count, `htmlBackup`, the layout (which names `_backup` when
    * the backup is staged) and the threshold, and a resume that differs in
    * any of them fails.
    *
    * Concurrency: the uncommitted buckets run on a pool of at most
    * `defaultParallelism` passes that pull from one queue, so driver-side
    * job overhead of one bucket overlaps the tasks of others. `wall_ms` in
    * a manifest is that bucket's own wall time, which overlaps its
    * neighbours'. The returned paths are in ascending bucket order. If a pass throws, no
    * further pass starts, passes already running still commit, and the
    * first failure is rethrown as is; a re-run then processes only the
    * failed and unstarted buckets.
    *
    * Metrics: docs, ok, spans and kernel_us are observed on the bucket's
    * write itself (`Dataset.observe`), not read back from the written files.
    *
    * `htmlBackup=true` mirrors the reference's HTML backup sink
    * (cli_utils.py:161-170: `--backup-dir` persists the raw page next to the
    * extraction output): each bucket's raw html payloads land in
    * `html-bucket-N`, moved there from `_backup/_bucket=N` before the same
    * atomic manifest that commits the extraction output. A bucket with no
    * docs gets an empty `html-bucket-N` directory. */
  def runWithCommitLog(spark: SparkSession, input: Dataset[DocRow],
      outDir: String, options: ExtractorOptions, buckets: Int = 8,
      skewThresholdBytes: Int = 0, htmlBackup: Boolean = false): Seq[String] = {
    import spark.implicits._
    val fs = new java.io.File(outDir)
    fs.mkdirs()
    new java.io.File(s"$outDir/_commits").mkdirs()
    val heavyBytes = math.max(0, skewThresholdBytes)
    // stage once: bucket-partitioned table, skipped when already committed.
    // The bucket count is part of the layout: a resume with a different
    // `buckets` against the same outDir must fail loudly, not mis-bucket.
    val stagedDir = s"$outDir/_staged"
    val backupDir = s"$outDir/_backup"
    val bucketsMarker = java.nio.file.Paths.get(s"$outDir/_commits/_buckets")
    val rowSchema = org.apache.spark.sql.Encoders.product[DocRow].schema
    val hfs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val layout = stagedLayout(htmlBackup)
    def committed(b: Int): Boolean = java.nio.file.Files.exists(manifestPath(outDir, b))
    if (!new java.io.File(s"$stagedDir/_SUCCESS").exists()) {
      val heavy =
        if (heavyBytes == 0) lit(false)
        else aggregate(col("spans"), lit(0L),
          (acc, s) => acc + coalesce(length(s.getField("text")), lit(0))) > heavyBytes
      // `hash` is the exchange's partition function, so every partition of
      // the exchange is a share of one bucket
      input.repartition(buckets * stagedFilesPerBucket(input, buckets), col("doc_id"))
        .withColumn("_bucket", pmod(hash(col("doc_id")), lit(buckets)))
        .withColumn("_heavy", heavy)
        .write.mode("overwrite").partitionBy("_bucket", "_heavy").parquet(stagedDir)
      // the html backup of every uncommitted bucket in one job. Committed
      // buckets are left out: after a restage nothing would ever move their
      // copy out of `_backup`. `_backup` is cleared first, because the job
      // is skipped when no uncommitted bucket has docs, and a `_bucket=N`
      // left by an earlier staging would then be committed as bucket N's
      // html. The schema is given, so
      // reading the staged table back needs no schema-inference job; the
      // bucket directories are passed by name because Spark warns that a
      // path named `_staged` is hidden. An empty input stages no bucket.
      if (htmlBackup) hfs.delete(new Path(backupDir), true)
      val stagedBuckets =
        if (!htmlBackup) Array.empty[String]
        else hfs.globStatus(new Path(s"$stagedDir/_bucket=*")).map(_.getPath)
          .filterNot(p => committed(p.getName.stripPrefix("_bucket=").toInt)).map(_.toString)
      if (stagedBuckets.nonEmpty)
        spark.read.schema(rowSchema.add("_bucket", "int")).option("basePath", stagedDir)
          .parquet(stagedBuckets.toSeq: _*)
          .select("doc_id", "spans", "_bucket").as[(String, Seq[Span], Int)]
          .map { case (id, spans, b) => (id, htmlPayload(spans), b) }
          .toDF("doc_id", "html", "_bucket")
          .write.mode("overwrite").partitionBy("_bucket").parquet(backupDir)
      // tmp + atomic rename, after the backup: a marker means staging is
      // complete, and a crash before it leaves a staged table whose next
      // run fails with the restage message, not a NoSuchFileException
      val tmpMarker = java.nio.file.Paths.get(s"$outDir/_commits/._buckets.tmp")
      // the marker records the run LAYOUT: bucket count, whether the html
      // backup sink is part of each bucket's committed unit, the staged
      // directory layout and the heavy-doc threshold it was routed by — a
      // resume with any of them changed must fail loudly (a flipped
      // htmlBackup would silently skip the backup for already-committed
      // buckets; a table staged without the heavy/bulk split has no bulk
      // directory, so its passes would commit empty buckets; one staged
      // without `_backup` would commit buckets with no html backup)
      java.nio.file.Files.writeString(tmpMarker,
        s"$buckets\n$htmlBackup\n$layout\n$heavyBytes")
      java.nio.file.Files.move(tmpMarker, bucketsMarker,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      if (!java.nio.file.Files.exists(bucketsMarker))
        throw new IllegalStateException(
          s"commit log at $outDir has a staged table but no _buckets marker " +
            "(crash between staging and marker write?) — delete " +
            s"$stagedDir to restage, or restore _commits/_buckets")
      val markerLines = java.nio.file.Files.readString(bucketsMarker).trim
        .split("\n").map(_.trim)
      val staged = markerLines(0).toInt
      require(staged == buckets,
        s"commit log at $outDir was staged with buckets=$staged, got buckets=$buckets")
      val stagedBackup = markerLines.length > 1 && markerLines(1).toBoolean
      require(stagedBackup == htmlBackup,
        s"commit log at $outDir was staged with htmlBackup=$stagedBackup, " +
          s"got htmlBackup=$htmlBackup — committed buckets would be missing " +
          "(or carrying stale) html-bucket-N data")
      require(markerLines.length > 3 && markerLines(2) == layout,
        s"commit log at $outDir was staged without the $layout layout " +
          s"— delete $stagedDir to restage; committed buckets are kept")
      val stagedHeavy = markerLines(3).toInt
      require(stagedHeavy == heavyBytes,
        s"commit log at $outDir was staged with skewThresholdBytes=$stagedHeavy, " +
          s"got $heavyBytes — heavy docs are routed at staging; delete " +
          s"$stagedDir to restage with the new threshold")
    }
    val heavyPartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt

    /** Moves bucket `b`'s staged html backup to `html-bucket-b`. A target
      * with no source is kept: an earlier attempt of this pass moved it.
      * With neither, staging wrote no `_bucket=b` directory because the
      * bucket has no docs, and the target is created empty. */
    def commitBackup(b: Int): Unit = {
      val src = new Path(s"$backupDir/_bucket=$b")
      val dst = new Path(s"$outDir/html-bucket-$b")
      def check(ok: Boolean, what: String): Unit =
        if (!ok) throw new java.io.IOException(s"html backup of bucket $b: could not $what")
      if (hfs.exists(src)) {
        // a stale target from before a restage goes first: renaming onto an
        // existing directory would move src inside it
        if (hfs.exists(dst)) check(hfs.delete(dst, true), s"delete stale $dst")
        check(hfs.rename(src, dst), s"rename $src to $dst")
      } else if (!hfs.exists(dst)) check(hfs.mkdirs(dst), s"create $dst")
    }

    /** One bucket pass: pruned scan -> extract -> parquet write (+ html
      * backup rename) -> atomic manifest. The manifest metrics are observed
      * on the write itself, so no job re-reads the committed files. */
    def commitBucket(b: Int): String = {
      val t0 = System.nanoTime()
      // path-level partition pruning: only this bucket's files are read
      def scan(heavy: Boolean): Option[(String, Dataset[DocRow])] = {
        val path = s"$stagedDir/_bucket=$b/_heavy=$heavy"
        Option.when(new java.io.File(path).exists())(
          path -> spark.read.schema(rowSchema).parquet(path).as[DocRow])
      }
      val (bulk, heavy) = (scan(heavy = false), scan(heavy = true))
      val scans = bulk.toSeq ++ heavy
      val scannedFiles = scans.map(_._2.inputFiles.length).sum
      val scanPaths = scans.map(s => "\"" + s._1 + "\"").mkString("[", ",", "]")
      val bulkOut = extractDocs(bulk.fold(spark.emptyDataset[DocRow])(_._2), options)
      // round-robin the heavy docs so each lands in its own task
      val out = heavy.fold(bulkOut) { case (_, h) =>
        bulkOut.unionAll(extractDocs(h.repartition(heavyPartitions), options))
      }
      val target = s"$outDir/bucket-$b"
      val metrics = Observation(s"commit-log-bucket-$b")
      out.observe(metrics, count(lit(1)).as("docs"),
        coalesce(sum(when(col("ok"), 1L).otherwise(0L)), lit(0L)).as("ok"),
        coalesce(sum(size(col("spans"))), lit(0L)).as("spans"),
        coalesce(sum(col("kernel_us")), lit(0L)).as("kernel_us"))
        .write.mode("overwrite").parquet(target)
      if (htmlBackup) commitBackup(b)
      val stats = metrics.get
      val durMs = (System.nanoTime() - t0) / 1000000
      val json =
        s"""{"bucket":$b,"docs":${stats("docs")},"ok":${stats("ok")},""" +
          s""""spans":${stats("spans")},"kernel_us":${stats("kernel_us")},""" +
          s""""wall_ms":$durMs,"input":"hash(doc_id) % $buckets == $b",""" +
          s""""scan_path":$scanPaths,"scanned_files":$scannedFiles}"""
      val tmp = java.nio.file.Paths.get(s"$outDir/_commits/.bucket-$b.json.tmp")
      java.nio.file.Files.writeString(tmp, json)
      // atomic commit; a failed rename throws instead of reporting the
      // bucket as written while its manifest is missing
      java.nio.file.Files.move(tmp, manifestPath(outDir, b),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      target
    }

    // `width` lanes pull uncommitted buckets from one queue (`next` indexes
    // `pending`). The pool is created here, not shared, so its threads
    // inherit this thread's Spark local properties (job group, scheduler
    // pool); a pre-existing pool would issue unattributed jobs.
    val pending = (0 until buckets).filterNot(committed)
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val done = new Array[String](buckets)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val width = math.max(1, math.min(pending.size, spark.sparkContext.defaultParallelism))
    val lane: java.util.concurrent.Callable[Unit] = () => {
      var i = next.getAndIncrement()
      while (i < pending.size && failure.get == null) {
        val b = pending(i)
        try done(b) = commitBucket(b)
        catch {
          case t: Throwable =>
            if (!failure.compareAndSet(null, t)) failure.get.addSuppressed(t)
        }
        i = next.getAndIncrement()
      }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(width)
    try Seq.fill(width)(pool.submit(lane)).foreach(_.get())
    finally pool.shutdown()
    if (failure.get != null) throw failure.get
    done.toSeq.filter(_ != null)
  }

  /** The staged directory layout, recorded in `_commits/_buckets`: a table
    * staged without the `_backup` projection cannot serve an htmlBackup run. */
  private def stagedLayout(htmlBackup: Boolean): String =
    if (htmlBackup) "_bucket/_heavy+_backup" else "_bucket/_heavy"

  /** The staging exchange has at most this many partitions per lane
    * (`defaultParallelism`), unless `buckets` alone exceeds it. */
  private val StagingPartitionsPerLane = 4

  /** k, the staged files per bucket: the plan size estimate `sizeInBytes`
    * over `buckets * maxPartitionBytes`, so a staged file is about one scan
    * split, clamped to [1, kMax]. kMax keeps `buckets * k` within
    * `StagingPartitionsPerLane` (4) × `lanes`. An unknown estimate, for
    * which Spark reports `spark.sql.defaultSizeInBytes` (passed as
    * `unknownSize`), takes kMax. */
  private[graft] def filesPerBucket(sizeInBytes: BigInt, unknownSize: BigInt, buckets: Int,
      maxPartitionBytes: Long, lanes: Int): Int = {
    val kMax = math.max(1, StagingPartitionsPerLane * lanes / buckets)
    if (sizeInBytes >= unknownSize) kMax
    else {
      val perBucket = BigInt(buckets) * maxPartitionBytes
      ((sizeInBytes + perBucket - 1) / perBucket).max(1).min(kMax).toInt
    }
  }

  /** k for staging `input` into `buckets`. The estimate comes from the
    * optimized plan's statistics on the driver, as `DocsTables.fanOut`'s
    * does, so it runs no job. */
  private[graft] def stagedFilesPerBucket(input: Dataset[_], buckets: Int): Int = {
    val conf = input.sparkSession.sessionState.conf
    filesPerBucket(input.queryExecution.optimizedPlan.stats.sizeInBytes, conf.defaultSizeInBytes,
      buckets, conf.filesMaxPartitionBytes, input.sparkSession.sparkContext.defaultParallelism)
  }

  private def manifestPath(outDir: String, bucket: Int): java.nio.file.Path =
    java.nio.file.Paths.get(s"$outDir/_commits/bucket-$bucket.json")

  /** The numeric fields of bucket `bucket`'s manifest (docs, ok, spans,
    * kernel_us, wall_ms, ...), or None while the bucket is uncommitted. */
  def manifestMetrics(outDir: String, bucket: Int): Option[Map[String, Long]] = {
    val p = manifestPath(outDir, bucket)
    if (!java.nio.file.Files.exists(p)) None
    else Some(""""(\w+)":(\d+)""".r.findAllMatchIn(java.nio.file.Files.readString(p))
      .map(m => m.group(1) -> m.group(2).toLong).toMap)
  }
}
