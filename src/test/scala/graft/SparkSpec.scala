package graft

import graft.extract.{ExtractorOptions, TrafConfig}
import graft.spark.{DocsTables, ExtractPipeline}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Spark-layer tests: typed pipeline, skew routing, commit-log resume,
  * and the SparkEntry query contract on sf0.001. */
class SparkSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val sf = "/root/testdata/sf0.001"
  private def opts = ExtractorOptions(config = TrafConfig.Zero, fast = true, images = true)

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs on sf0.001 and oracles are declared") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n >= 0, name)
      if (name != "emb_near_dup") // threshold query may be empty at tiny sf
        assert(n > 0, s"$name returned no rows")
    }
    // every oracle key must have a matching query
    SparkEntry.oracleSql.keys.foreach(k => assert(SparkEntry.queries.contains(k), k))
  }

  test("extraction output satisfies span invariants") {
    import spark.implicits._
    val out = ExtractPipeline.extractDocs(DocsTables.docsTable(spark, sf), opts)
    val rows = out.collect()
    assert(rows.forall(_.ok))
    rows.foreach { r =>
      // offsets strictly increasing from 0; kinds in the pseudo-TEI vocabulary
      assert(r.spans.zipWithIndex.forall { case (s, i) => s.offset == i }, r.doc_id)
      val vocab = Set("p", "head", "item", "list", "cell", "row", "table", "quote",
        "code", "lb", "hi", "del", "ref", "graphic", "comment")
      assert(r.spans.forall(s => vocab.contains(s.kind)), r.doc_id)
    }
  }

  test("skew-aware routing preserves results") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = DocsTables.docsTableSkewed(spark, sf, factor = 1, k = 2, sectionsPerMega = 300)
    def texts(ds: org.apache.spark.sql.DataFrame) =
      ds.select("doc_id", "text").collect().map(r => (r.getString(0), r.getString(1))).toMap
    val plain = texts(ExtractPipeline.extractDocs(docs, opts).toDF())
    val dir = java.nio.file.Files.createTempDirectory("graft-skew").toString
    val buckets = 4
    ExtractPipeline.runWithCommitLog(spark, docs, dir, opts, buckets = buckets,
      skewThresholdBytes = 50000)
    val routed = texts(spark.read.parquet(s"$dir/bucket-*"))
    assert(plain == routed)
    // staging routed exactly the docs above the threshold, all of them mega
    // docs: a heavy directory exists only for the buckets that hold one
    val heavy = docs.select(col("doc_id"), pmod(hash(col("doc_id")), lit(buckets)), col("spans"))
      .as[(String, Int, Seq[graft.out.Serializers.Span])].collect()
      .filter(_._3.map(s => Option(s.text).fold(0)(t => t.codePointCount(0, t.length))).sum > 50000)
    assert(heavy.nonEmpty && heavy.forall(_._1.startsWith("mega-")), heavy.map(_._1).toSeq)
    val heavyDirs = (0 until buckets).map(b => s"$dir/_staged/_bucket=$b/_heavy=true")
      .filter(new java.io.File(_).exists())
    assert(heavyDirs.toSet == heavy.map(h => s"$dir/_staged/_bucket=${h._2}/_heavy=true").toSet)
    assert(spark.read.parquet(heavyDirs: _*).select("doc_id").as[String].collect().toSet ==
      heavy.map(_._1).toSet)
    (0 until buckets).foreach(assertScanCovered(dir, _))
    assert((0 until buckets).map(ExtractPipeline.manifestMetrics(dir, _).get("docs")).sum ==
      docs.count())
  }

  /** Bucket `b`'s manifest names every staged directory of the bucket and
    * counts every parquet file in them: what the pass read. */
  private def assertScanCovered(dir: String, b: Int): Unit = {
    val staged = Option(new java.io.File(s"$dir/_staged/_bucket=$b").listFiles()).toSeq.flatten
      .filter(_.isDirectory)
    val files = staged.flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
    val json = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/_commits/bucket-$b.json"))
    val listed = """"scan_path":\[([^\]]*)\]""".r.findFirstMatchIn(json)
      .map(m => """"([^"]+)"""".r.findAllMatchIn(m.group(1)).map(_.group(1)).toSet)
      .getOrElse(fail(s"bucket $b manifest has no scan_path list: $json"))
    assert(listed.map(new java.io.File(_).getCanonicalPath) == staged.map(_.getCanonicalPath).toSet, json)
    assert(ExtractPipeline.manifestMetrics(dir, b).get("scanned_files") == files.length, json)
  }

  test("commit log: second run skips committed buckets, output complete") {
    val dir = java.nio.file.Files.createTempDirectory("graft-commit").toString
    val input = DocsTables.docsTable(spark, sf)
    val written1 = ExtractPipeline.runWithCommitLog(spark, input, dir, opts, buckets = 4)
    assert(written1.length == 4)
    // resume: nothing left to do
    val written2 = ExtractPipeline.runWithCommitLog(spark, input, dir, opts, buckets = 4)
    assert(written2.isEmpty)
    // partial resume: drop one manifest -> exactly that bucket reruns
    new java.io.File(s"$dir/_commits/bucket-2.json").delete()
    val written3 = ExtractPipeline.runWithCommitLog(spark, input, dir, opts, buckets = 4)
    assert(written3 == Seq(s"$dir/bucket-2"))
    val total = spark.read.parquet(s"$dir/bucket-*").count()
    assert(total == input.count())
    // manifests carry lineage + metrics
    val m = ujsonLite(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/_commits/bucket-0.json")))
    assert(m.contains("\"docs\":") && m.contains("\"kernel_us\":") && m.contains("hash(doc_id)"))
    // single-scan evidence: the staged bucket-partitioned table exists and
    // each pass read only its own partition directory
    assert(new java.io.File(s"$dir/_staged/_SUCCESS").exists())
    assert(m.contains("\"scan_path\":") && m.contains("_bucket=0"))
    assert(m.contains("\"scanned_files\":"))
  }

  private def ujsonLite(s: String): String = s

  test("commit log: crash between bucket write and manifest rename -> exactly-once rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("graft-crash").toString
    val input = DocsTables.docsTable(spark, sf)
    ExtractPipeline.runWithCommitLog(spark, input, dir, opts, buckets = 4)
    // simulate the crash window in two buckets at once: their data landed
    // but the atomic manifest rename never happened
    val crashed = Seq(1, 3)
    // plant a stale marker inside each bucket dir: mode("overwrite") must
    // clear the whole directory, proving the rewrite is exactly-once (no
    // stale part-files from the crashed attempt can survive)
    val stale = crashed.map { b =>
      assert(new java.io.File(s"$dir/_commits/bucket-$b.json").delete())
      val f = new java.io.File(s"$dir/bucket-$b/STALE_FROM_CRASHED_ATTEMPT")
      java.nio.file.Files.writeString(f.toPath, "junk")
      f
    }
    // both buckets rewrite concurrently, each once, reported in bucket order
    val rewritten = ExtractPipeline.runWithCommitLog(spark, input, dir, opts, buckets = 4)
    assert(rewritten == crashed.map(b => s"$dir/bucket-$b"), rewritten)
    stale.foreach(f => assert(!f.exists(), s"overwrite did not clear $f"))
    crashed.foreach(b => assert(new java.io.File(s"$dir/_commits/bucket-$b.json").exists()))
    // exactly-once: total output equals input, no duplicated bucket rows
    assert(spark.read.parquet(s"$dir/bucket-*").count() == input.count())
    assert(spark.read.parquet(s"$dir/bucket-*").select("doc_id").distinct().count() == input.count())
  }

  test("commit log: manifest metrics equal the committed bucket data") {
    import org.apache.spark.sql.functions._
    val input = DocsTables.docsTable(spark, sf)
    // 128 buckets leave some empty on sf0.001: those must commit docs 0,
    // with the runbook's 1 MiB skew threshold too
    Seq((4, 0), (128, 1 << 20)).foreach { case (buckets, skewBytes) =>
      val dir = java.nio.file.Files.createTempDirectory(s"graft-metrics-$buckets").toString
      ExtractPipeline.runWithCommitLog(spark, input, dir, opts, buckets = buckets,
        skewThresholdBytes = skewBytes)
      val manifests = (0 until buckets).map { b =>
        val m = ExtractPipeline.manifestMetrics(dir, b)
        assert(m.isDefined, s"bucket $b of $buckets has no manifest")
        val r = spark.read.parquet(s"$dir/bucket-$b")
          .agg(count(lit(1)), coalesce(sum(when(col("ok"), 1L).otherwise(0L)), lit(0L)),
            coalesce(sum(size(col("spans"))), lit(0L)), coalesce(sum(col("kernel_us")), lit(0L)))
          .collect()(0)
        val want = Map("docs" -> r.getLong(0), "ok" -> r.getLong(1), "spans" -> r.getLong(2),
          "kernel_us" -> r.getLong(3))
        assert(m.get.view.filterKeys(want.contains).toMap == want, s"bucket $b of $buckets")
        m.get
      }
      assert(manifests.map(_("docs")).sum == input.count())
      if (buckets == 128) assert(manifests.exists(_("docs") == 0), "no empty bucket at 128")
    }
  }

  test("commit log: a failed bucket pass rethrows its own exception; resume reruns the rest") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fail").toString
    val input = DocsTables.docsTable(spark, sf)
    // a directory where bucket 2's manifest temp file goes: its write throws
    // after the bucket's data landed
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/_commits/.bucket-2.json.tmp"))
    val e = intercept[java.io.IOException] {
      ExtractPipeline.runWithCommitLog(spark, input, dir, opts, buckets = 16)
    }
    assert(e.getMessage.contains(".bucket-2.json.tmp"), e)
    val uncommitted = (0 until 16).filter(b => ExtractPipeline.manifestMetrics(dir, b).isEmpty)
    assert(uncommitted.contains(2))
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$dir/_commits/.bucket-2.json.tmp"))
    val resumed = ExtractPipeline.runWithCommitLog(spark, input, dir, opts, buckets = 16)
    assert(resumed == uncommitted.map(b => s"$dir/bucket-$b"))
    assert(spark.read.parquet(s"$dir/bucket-*").select("doc_id").distinct().count() == input.count())
  }

  /** The job group of every job `body` issues, in start order. A listener
    * sees events in order: the jobs between the two marker jobs are exactly
    * body's, whatever earlier events are still queued. */
  private def jobGroupsOf(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val groups = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    def marker(name: String): Unit = {
      sc.setJobGroup(name, name, interruptOnCancel = false)
      sc.parallelize(1 to 1).count()
    }
    sc.addSparkListener(listener)
    try {
      marker("before")
      sc.clearJobGroup()
      body
      marker("after")
      val seen = scala.collection.mutable.ArrayBuffer.empty[String]
      while (!seen.lastOption.contains("after"))
        seen += Option(groups.poll(60, java.util.concurrent.TimeUnit.SECONDS))
          .getOrElse(fail(s"listener saw no 'after' marker job: $seen"))
      seen.drop(seen.lastIndexOf("before") + 1).dropRight(1).toSeq
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("commit log: every job of a run carries the caller's job group") {
    val input = DocsTables.docsTable(spark, sf)
    // two runs with different groups: threads kept from the first run would
    // carry its group into the second
    Seq("commit-log-run-1", "commit-log-run-2").foreach { group =>
      val dir = java.nio.file.Files.createTempDirectory("graft-group").toString
      val run = jobGroupsOf {
        spark.sparkContext.setJobGroup(group, "runWithCommitLog", interruptOnCancel = false)
        ExtractPipeline.runWithCommitLog(spark, input, dir, opts, buckets = 8, htmlBackup = true)
      }
      assert(run.nonEmpty && run.forall(_ == group), run)
    }
  }

  test("commit log: a heavy-free bucket pass is one map-only job") {
    val input = DocsTables.docsTable(spark, sf)
    Seq(false, true).foreach { backup =>
      val dir = java.nio.file.Files.createTempDirectory("graft-shape").toString
      ExtractPipeline.runWithCommitLog(spark, input, dir, opts, buckets = 4,
        skewThresholdBytes = 1 << 20, htmlBackup = backup)
      // rerun every pass on the staged table: the jobs are the passes' alone
      (0 until 4).foreach(b => assert(new java.io.File(s"$dir/_commits/bucket-$b.json").delete()))
      val jobs = jobGroupsOf {
        ExtractPipeline.runWithCommitLog(spark, input, dir, opts, buckets = 4,
          skewThresholdBytes = 1 << 20, htmlBackup = backup)
      }
      assert(jobs.length == 4 * (if (backup) 2 else 1), s"htmlBackup=$backup: ${jobs.length} jobs")
      (0 until 4).foreach { b =>
        assert(!new java.io.File(s"$dir/_staged/_bucket=$b/_heavy=true").exists())
        assertScanCovered(dir, b)
      }
    }
  }

  test("commit log: HTML backup sink persists raw payloads bucket-aligned") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-backup").toString
    val input = DocsTables.docsTable(spark, sf)
    ExtractPipeline.runWithCommitLog(spark, input, dir, opts, buckets = 2, htmlBackup = true)
    val backup = spark.read.parquet(s"$dir/html-bucket-*")
    assert(backup.count() == input.count())
    // the backup is the RAW page, not the extraction: html markup survives
    val sample = backup.filter(col("html").isNotNull).limit(1).collect()(0).getString(1)
    assert(sample.contains("<html") && sample.contains("article-body"))
    // the backup flag is part of the committed layout: resuming the same
    // outDir with htmlBackup flipped would silently skip (or stale-keep)
    // html-bucket-N for already-committed buckets — must fail loudly
    val e = intercept[IllegalArgumentException] {
      ExtractPipeline.runWithCommitLog(spark, input, dir, opts, buckets = 2)
    }
    assert(e.getMessage.contains("htmlBackup"))
  }

  test("commit log: a table staged without the heavy/bulk split fails loudly, then restages") {
    val dir = java.nio.file.Files.createTempDirectory("graft-layout").toString
    val input = DocsTables.docsTable(spark, sf)
    ExtractPipeline.runWithCommitLog(spark, input, dir, opts, buckets = 2)
    // the marker an older layout wrote: bucket count and htmlBackup only
    val marker = java.nio.file.Paths.get(s"$dir/_commits/_buckets")
    java.nio.file.Files.writeString(marker, "2\nfalse")
    assert(new java.io.File(s"$dir/_commits/bucket-1.json").delete())
    val e = intercept[IllegalArgumentException] {
      ExtractPipeline.runWithCommitLog(spark, input, dir, opts, buckets = 2)
    }
    assert(e.getMessage.contains("restage"), e)
    assert(ExtractPipeline.manifestMetrics(dir, 1).isEmpty)
    // following the message: restaging resumes exactly the uncommitted bucket
    assert(org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(s"$dir/_staged")))
    assert(ExtractPipeline.runWithCommitLog(spark, input, dir, opts, buckets = 2) == Seq(s"$dir/bucket-1"))
    assert(spark.read.parquet(s"$dir/bucket-*").select("doc_id").distinct().count() == input.count())
  }

  test("commit log: a resume with a different skew threshold fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-skew-resume").toString
    val input = DocsTables.docsTable(spark, sf)
    ExtractPipeline.runWithCommitLog(spark, input, dir, opts, buckets = 2, skewThresholdBytes = 1 << 20)
    Seq(0, 50000).foreach { other =>
      val e = intercept[IllegalArgumentException] {
        ExtractPipeline.runWithCommitLog(spark, input, dir, opts, buckets = 2, skewThresholdBytes = other)
      }
      assert(e.getMessage.contains("skewThresholdBytes=1048576"), e)
    }
    // the threshold it was staged with resumes
    assert(ExtractPipeline.runWithCommitLog(spark, input, dir, opts, buckets = 2,
      skewThresholdBytes = 1 << 20).isEmpty)
  }

  test("graft.Main: the closing line names the skew threshold; a changed --skew-bytes fails the resume") {
    import scala.jdk.CollectionConverters._
    val out = java.nio.file.Files.createTempDirectory("graft-main").toString
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    val opens = jvm.sliding(2).collect { case Seq(a @ "--add-opens", p) => Seq(a, p) }.flatten.toSeq ++
      jvm.filter(_.startsWith("--add-opens="))
    // a child JVM: Main stops its session, which would stop this suite's
    def main(args: String*): (Int, String) = {
      val cmd = Seq(System.getProperty("java.home") + "/bin/java") ++ opens ++
        Seq("-Xmx1g", "-Dspark.master=local[2]", "-Dspark.ui.enabled=false",
          "-cp", System.getProperty("java.class.path"), "graft.Main",
          "--input", sf, "--output", out, "--buckets", "2", "--mode", "fast") ++ args
      val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
      val log = new String(p.getInputStream.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        .linesIterator.filterNot(_.contains(" INFO ")).mkString("\n")
      assert(p.waitFor(120, java.util.concurrent.TimeUnit.SECONDS), log)
      (p.exitValue(), log)
    }
    val (staged, log) = main("--skew-bytes", "0")
    assert(staged == 0 && log.contains("buckets_written=2/2") && log.contains("skew threshold off"), log)
    val (resumed, err) = main() // the default 1 MiB threshold
    assert(resumed != 0 && err.contains("skewThresholdBytes=0, got 1048576"), err)
  }

  test("commit log: staged table without _buckets marker fails diagnosably") {
    val dir = java.nio.file.Files.createTempDirectory("graft-marker").toString
    val input = DocsTables.docsTable(spark, sf)
    ExtractPipeline.runWithCommitLog(spark, input, dir, opts, buckets = 2)
    assert(new java.io.File(s"$dir/_commits/_buckets").delete())
    val e = intercept[IllegalStateException] {
      ExtractPipeline.runWithCommitLog(spark, input, dir, opts, buckets = 2)
    }
    assert(e.getMessage.contains("_buckets marker"))
  }

  test("dedupMinhash bucketCap: planted degenerate bucket is dropped, job stays linear") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 2000 planted docs with IDENTICAL text: every band hashes them to one
    // bucket, so uncapped candidate generation would be quadratic (~8M pairs
    // with the corpus mutation); the cap must drop those buckets and leave
    // the normal docs' near-dup pairs intact
    val normal = DocsTables.documents(spark, sf).select(col("doc_id"), col("text"))
    val hot = spark.range(2000).select(
      (col("id") + 500000L).as("doc_id"),
      lit("exactly the same ten words of text in every planted document").as("text"))
    val t0 = System.nanoTime()
    val capped = graft.spark.TextOps.dedupMinhash(normal.unionAll(hot), bucketCap = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cappedSec = (System.nanoTime() - t0) / 1e9
    val normalOnly = graft.spark.TextOps.dedupMinhash(normal)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every surviving pair involves only normal docs, and none were lost
    assert(capped == normalOnly,
      s"capped=${capped.size} normalOnly=${normalOnly.size}")
    assert(capped.nonEmpty)
    // linearity evidence: the capped run must complete in seconds — an
    // uncapped degenerate bucket would generate ~256M candidate rows
    assert(cappedSec < 120, s"capped run took ${cappedSec}s — cap not effective")
  }

  test("media passthrough spans survive the kernel") {
    import spark.implicits._
    val out = ExtractPipeline.extractDocs(DocsTables.docsTable(spark, sf), opts)
      .filter(r => (r.doc_id.toLong % 11) == 0)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.spans.exists(s => s.kind == "graphic" && s.media_ref != null &&
        s.media_ref.startsWith("blob://")), r.doc_id)
    }
  }

  test("structured streaming surface: extraction over a docs stream") {
    import spark.implicits._
    // write the docs table as parquet, then drive it as a bounded stream
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val docs = DocsTables.docsTable(spark, sf)
    docs.write.mode("overwrite").parquet(s"$dir/in")
    val schema = docs.schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/in").as[graft.spark.DocRow]
    val extracted = ExtractPipeline.extractDocs(stream, opts)
    val q = extracted.writeStream.format("memory").queryName("extract_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val n = spark.sql("SELECT count(*) FROM extract_stream WHERE ok").collect()(0).getLong(0)
      assert(n == docs.count())
    } finally q.stop()
  }

  test("multimodal: image rows decode with real ImageIO to the expected dims") {
    import graft.spark.MultimodalOps
    val rows = MultimodalOps.mediaTable(spark, sf)
      .filter(_.media_kind == "image").take(10)
    assert(rows.nonEmpty)
    rows.foreach { m =>
      // PNG magic: the blob is a real image payload, not repurposed text
      assert((m.blob(0) & 0xff) == 0x89 && m.blob(1) == 'P'.toByte, m.doc_id)
      val (w, h) = MultimodalOps.decodeImage(m.blob).get
      assert(w == MultimodalOps.imgWidth(m.doc_id), s"doc ${m.doc_id} width")
      assert(h == MultimodalOps.imgHeight(m.doc_id), s"doc ${m.doc_id} height")
    }
  }

  test("multimodal: audio rows decode with real javax.sound to the expected params") {
    import graft.spark.MultimodalOps
    val rows = MultimodalOps.mediaTable(spark, sf)
      .filter(_.media_kind == "audio").take(10)
    assert(rows.nonEmpty)
    rows.foreach { m =>
      // RIFF/WAVE magic: the blob is a real WAV payload, not repurposed text
      assert(m.blob(0) == 'R'.toByte && m.blob(1) == 'I'.toByte &&
        m.blob(8) == 'W'.toByte, m.doc_id)
      val (sr, ns) = MultimodalOps.decodeAudio(m.blob).get
      assert(sr == MultimodalOps.audioSampleRate(m.doc_id), s"doc ${m.doc_id} rate")
      assert(ns == MultimodalOps.audioNumSamples(m.doc_id).toLong, s"doc ${m.doc_id} frames")
    }
  }

  test("multimodal: video rows decode with the real JDK GIF frame reader") {
    import graft.spark.MultimodalOps
    val rows = MultimodalOps.mediaTable(spark, sf)
      .filter(_.media_kind == "video").take(10)
    assert(rows.nonEmpty)
    rows.foreach { m =>
      // GIF89a magic: the blob is a real animated-GIF payload
      assert(m.blob(0) == 'G'.toByte && m.blob(1) == 'I'.toByte &&
        m.blob(2) == 'F'.toByte, m.doc_id)
      val (w, h, nf) = MultimodalOps.decodeGif(m.blob).get
      assert(w == MultimodalOps.imgWidth(m.doc_id), s"doc ${m.doc_id} width")
      assert(h == MultimodalOps.imgHeight(m.doc_id), s"doc ${m.doc_id} height")
      assert(nf == MultimodalOps.videoFrames(m.doc_id), s"doc ${m.doc_id} frames")
    }
  }

  test("multimodal: resize scales the long side, frame-sample explodes video to image rows") {
    import graft.spark.MultimodalOps
    // resize: a 40x20 PNG capped at maxDim=10 -> 10x5, re-decodable;
    // an already-small payload passes through byte-identical
    val big = MultimodalOps.pngBytes(40, 20, seed = 7)
    val small = MultimodalOps.resizePng(big, 10)
    assert(MultimodalOps.decodeImage(small).contains((10, 5)))
    val tiny = MultimodalOps.pngBytes(8, 6, seed = 7)
    assert(MultimodalOps.resizePng(tiny, 10) eq tiny)
    // dataset-level: every image row obeys the cap, other kinds untouched
    val media = MultimodalOps.mediaTable(spark, sf)
    val resized = MultimodalOps.resizeImages(media, 20).filter(_.media_kind == "image").take(10)
    resized.foreach { m =>
      val (w, h) = MultimodalOps.decodeImage(m.blob).get
      assert(math.max(w, h) <= 20, s"doc ${m.doc_id}: ${w}x$h")
    }
    // frame sampling: a 4-frame video doc yields ceil(4/2)=2 image rows with
    // the GIF's dims, distinct content per frame (frames differ by synth)
    val vid = media.filter(m => m.media_kind == "video" &&
      MultimodalOps.videoFrames(m.doc_id) == 4).take(1).head
    val frames = MultimodalOps.sampleFrames(
      media.filter(_.doc_id == vid.doc_id), every = 2).collect()
    assert(frames.length == 2 && frames.forall(_.media_kind == "image"))
    assert(frames.map(_.media_ref).toSet ==
      Set(s"${vid.media_ref}#frame-0", s"${vid.media_ref}#frame-2"))
    val dims = frames.map(f => MultimodalOps.decodeImage(f.blob).get).toSet
    assert(dims == Set((MultimodalOps.imgWidth(vid.doc_id), MultimodalOps.imgHeight(vid.doc_id))))
    assert(!java.util.Arrays.equals(frames(0).blob, frames(1).blob), "frames should differ")
    // undecodable video payload: the source row passes through unchanged
    // (no silent drop — ADVICE r4)
    val corrupt = spark.createDataset(Seq(
      MultimodalOps.MediaRow(999L, "bad.gif", "video", Array[Byte](1, 2, 3))))(
      org.apache.spark.sql.Encoders.product[MultimodalOps.MediaRow])
    val passed = MultimodalOps.sampleFrames(corrupt).collect()
    assert(passed.length == 1 && passed.head.media_kind == "video" &&
      java.util.Arrays.equals(passed.head.blob, Array[Byte](1, 2, 3)))
  }

  test("SRP-LSH embedding near-dup: subset of exact pairs with usable recall") {
    val emb = graft.spark.DocsTables.embeddings(spark, "/root/testdata/sf0.01")
    val exact = graft.spark.TextOps.embeddingNearDup(emb, 0.3, cap = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = graft.spark.TextOps.embeddingNearDupLsh(emb, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), s"LSH produced non-exact pairs: ${(lsh -- exact).take(3)}")
    if (exact.nonEmpty) {
      val recall = lsh.intersect(exact).size.toDouble / exact.size
      assert(recall >= 0.5, s"LSH recall too low: $recall over ${exact.size} pairs")
    }
  }

  test("SQL surface: simhash64 expression + extraction UDFs") {
    graft.spark.SqlSurface.register(spark)
    graft.spark.DocsTables.documents(spark, sf).createOrReplaceTempView("documents_v")
    val r = spark.sql(
      "SELECT doc_id, simhash64(text) AS fp, " +
        "extract_text(concat('<html><body><article><p>', text, '</p></article></body></html>')) AS t " +
        "FROM documents_v LIMIT 5").collect()
    assert(r.length == 5)
    r.foreach { row =>
      assert(!row.isNullAt(1))
      assert(row.getString(2) != null && row.getString(2).nonEmpty)
    }
    // expression value agrees with the kernel function
    val one = spark.sql("SELECT text, simhash64(text) FROM documents_v LIMIT 1").collect()(0)
    assert(one.getLong(1) == graft.hash.SimHash.createHash(one.getString(0)))
  }

  test("hashedShingles (zip_with form) equals shingles+xxhash64 (element_at form)") {
    import org.apache.spark.sql.functions._
    val docs = graft.spark.DocsTables.documents(spark, "/root/testdata/sf0.001")
    val corpus = graft.spark.TextOps.nearDupCorpus(docs)
    val old = corpus.select(col("doc_id"), array_sort(array_distinct(
      transform(graft.spark.TextOps.shingles(col("text")), s => xxhash64(s)))).as("o"))
    val neu = corpus.select(col("doc_id"),
      array_sort(graft.spark.TextOps.hashedShingles(col("text"))).as("n"))
    assert(old.join(neu, "doc_id").filter(col("o") =!= col("n")).count() == 0)
  }

  test("minhash128 expression equals the explode + 128-min-agg formulation") {
    import org.apache.spark.sql.functions._
    graft.spark.SqlSurface.registerVecDot(spark)
    val docs = graft.spark.DocsTables.documents(spark, sf)
    val corpus = graft.spark.TextOps.nearDupCorpus(docs)
      .select(col("doc_id"), graft.spark.TextOps.hashedShingles(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
    val native = corpus.select(col("doc_id"), call_function("minhash128", col("sh")).as("mh"))
    val exploded = corpus.select(col("doc_id"), explode(col("sh")).as("s"))
    val agg = exploded
      .select(col("doc_id") +: (0 until 128).map(i => xxhash64(col("s"), lit(i)).as(s"h$i")): _*)
      .groupBy(col("doc_id"))
      .agg(min(col("h0")).as("m0"), (1 until 128).map(i => min(col(s"h$i")).as(s"m$i")): _*)
      .select(col("doc_id"), array((0 until 128).map(i => col(s"m$i")): _*).as("mh2"))
    val diff = native.join(agg, "doc_id").filter(col("mh") =!= col("mh2")).count()
    assert(diff == 0, s"$diff signature mismatches")
  }

  test("dedupMinhash bucketCap: bounded buckets yield a subset of exact output") {
    val docs = graft.spark.DocsTables.documents(spark, "/root/testdata/sf0.001")
    val full = graft.spark.TextOps.dedupMinhash(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = graft.spark.TextOps.dedupMinhash(docs, bucketCap = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(full), s"capped produced pairs outside exact: ${(capped -- full).take(3)}")
    assert(full.nonEmpty)
  }

  test("dedupNgramJaccard: prefix-filter join matches the LSH path exactly, no minhash in plan") {
    val docs = graft.spark.DocsTables.documents(spark, sf)
    val ngram = graft.spark.TextOps.dedupNgramJaccard(docs)
    val plan = ngram.queryExecution.executedPlan.toString
    assert(!plan.contains("minhash"), "prefix-filter path must not use minhash")
    val a = ngram.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = graft.spark.TextOps.dedupMinhash(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a == b, s"ngram=${a.size} lsh=${b.size}; onlyNgram=${(a -- b).take(3)} onlyLsh=${(b -- a).take(3)}")
    assert(a.nonEmpty)
  }

  test("dedupClusters: labels are exact connected components of the pair graph") {
    val docs = graft.spark.DocsTables.documents(spark, sf)
    val pairs = graft.spark.TextOps.dedupMinhash(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // driver-side union-find reference over the same pair set
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val got = graft.spark.TextOps.dedupClusters(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // every corpus doc is labeled; paired docs get their component's min id,
    // singletons label themselves
    val members = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val roots = members.groupBy(find).map { case (_, m) => m -> m.min }
    roots.foreach { case (m, lbl) => m.foreach(d => assert(got(d) == lbl, s"doc $d")) }
    got.foreach { case (d, lbl) => if (!members.contains(d)) assert(lbl == d, s"singleton $d") }
  }

  test("dedupClusters: chain of diameter ~30 converges in <=10 rounds (O(log d))") {
    import spark.implicits._
    // sliding window over distinct tokens, step 4 of 40: consecutive docs
    // share jaccard 34/42 = 0.81 (a pair-graph edge), two-apart 0.65 (no
    // edge) -> the pair graph is a pure chain of diameter ~30 (plus leaf
    // mutants from nearDupCorpus). Plain min-label propagation needs ~30
    // rounds; star contraction + flatten must land within maxIters = 10 or
    // the require() inside dedupClusters throws.
    val words = (0 until 156).map(i => f"tok$i%04d")
    val docs = (0 until 30).map(i => (i.toLong, words.slice(4 * i, 4 * i + 40).mkString(" ")))
      .toDF("doc_id", "text")
    // localFinishEdges = 0: this test pins the DISTRIBUTED contraction loop
    val out = graft.spark.TextOps.dedupClusters(docs, maxIters = 10, localFinishEdges = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == 60) // 30 docs + 30 mutated copies
    out.foreach { case (d, lbl) => assert(lbl == 0L, s"doc $d labeled $lbl, expected 0") }
  }

  test("dedupClusters: empty pair graph degenerates to all-singleton labels") {
    import spark.implicits._
    // three fully distinct texts -> LSH candidates (if any) die at the exact
    // jaccard>=0.8 verification, so the pair graph is empty
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten eleven"),
      (3L, "red orange yellow green blue indigo violet black white gray"))
      .toDF("doc_id", "text")
    val out = graft.spark.TextOps.dedupClusters(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.nonEmpty)
    out.foreach { case (d, lbl) => assert(d == lbl, s"doc $d labeled $lbl") }
  }

  test("dedupExact plan shuffles hash keys, not text") {
    val docs = graft.spark.DocsTables.documents(spark, sf)
    val plan = graft.spark.TextOps.dedupExact(docs).queryExecution.executedPlan.toString
    assert(plan.contains("xxhash64"), "expected xxhash64 bucket keys in the plan")
    // the aggregate keys are the two hashes; text is pruned before the exchange
    val exchangeDown = plan.split("Exchange").last
    assert(!exchangeDown.contains("text#") || exchangeDown.contains("xxhash64"),
      "text column should not survive past the exchange")
  }

  test("IVF assignment is map-side: no nested-loop join, single window in plan") {
    val emb = graft.spark.DocsTables.embeddings(spark, "/root/testdata/sf0.01")
    val plan = graft.spark.TextOps.annCosineIvf(emb, nQueries = 5, k = 5, nCells = 8, nProbe = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), "keyless centroid join crept back in")
    assert(!plan.contains("CartesianProduct"))
    // exactly one Window NODE (the final top-k; WindowGroupLimit is its
    // pushed-down partial) — the old plan had a second, per-vector argmax one
    val windowNodes = plan.linesIterator.count(_.matches(""".*[+:\-]- Window \[.*"""))
    assert(windowNodes == 1, s"expected 1 Window node, got $windowNodes")
  }

  test("IVF ANN: results overlap brute-force top-k") {
    val emb = graft.spark.DocsTables.embeddings(spark, "/root/testdata/sf0.01")
    val brute = graft.spark.TextOps.annCosineTopK(emb, nQueries = 5, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = graft.spark.TextOps.annCosineIvf(emb, nQueries = 5, k = 5, nCells = 8, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.3, s"IVF recall unusable: $recall")
    assert(ivf.size == brute.size)
  }

  test("tpch_skew_revenue: AQE splits the hot partition (skew=true in the final plan)") {
    val df = SparkEntry.tpchSkewRevenue(spark, "/root/testdata/sf0.01")
    val rows = df.collect()
    assert(rows.nonEmpty)
    // AQE rewrites the plan at runtime; after the action the executed plan
    // must carry the skew-split marker on the sort-merge join
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"), s"no skew split in plan:\n${plan.take(2000)}")
  }

  test("stateful streaming sessionization: parity with the batch window query") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-sessions").toString
    val events = spark.read.parquet(s"$sf/events.parquet")
    events.write.mode("overwrite").parquet(s"$dir/in")
    val stream = spark.readStream.schema(events.schema).parquet(s"$dir/in")
    val q = graft.spark.StreamOps.streamingSessions(stream)
      .writeStream.format("memory").queryName("sessions_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // advance the watermark past every trailing session's end + gap with
      // sentinel far-future events (user -1): the first batch moves the
      // watermark, the second lets the event-time timeouts fire — after
      // which the idle-session flush must have emitted EVERY session
      (1 to 2).foreach { i =>
        events.orderBy(col("ts").desc).limit(1)
          .withColumn("user_id", lit(-1L))
          .withColumn("ts", col("ts") + expr(s"INTERVAL ${30 * i} DAYS"))
          .write.mode("append").parquet(s"$dir/in")
        q.processAllAvailable()
      }
      val streamed = spark.sql(
        "SELECT user_id, n_events, value_sum, start_s, end_s FROM sessions_stream " +
          "WHERE user_id >= 0")
        .collect().map(_.toSeq).toSet
      // exact batch parity INCLUDING each user's last session (flushed by
      // the event-time timeout, not by a successor event)
      val batch = graft.spark.StreamOps.eventSessions(events)
        .select(col("user_id"), col("n_events"), col("value_sum"), col("start_s"), col("end_s"))
        .collect().map(_.toSeq).toSet
      assert(streamed == batch,
        s"streamed=${streamed.size} batch=${batch.size}; " +
          s"onlyStream=${(streamed -- batch).take(2)} onlyBatch=${(batch -- streamed).take(2)}")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming dedup: bounded-state dropDuplicatesWithinWatermark parity with batch") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-sdedup").toString
    // duplicate every doc under a shifted id (same corpus-doubling as
    // dedupExact) with event times inside the watermark delay
    val base = spark.read.parquet(s"$sf/documents.parquet").select(col("doc_id"), col("text"))
    val docs = base.unionAll(
        base.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id") % 60))
    docs.write.mode("overwrite").parquet(s"$dir/in")
    val stream = spark.readStream.schema(
      docs.schema).parquet(s"$dir/in")
    val q = graft.spark.StreamOps.streamingDedup(stream)
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT h1, h2 FROM dedup_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // every in-watermark duplicate dropped: one emission per fingerprint,
      // matching the batch-distinct fingerprint set exactly
      assert(streamed.length == streamed.toSet.size, "stream emitted a duplicate")
      val batch = docs
        .select(xxhash64(col("text")).as("h1"), xxhash64(lit(1), col("text")).as("h2"))
        .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed.toSet == batch,
        s"streamed=${streamed.length} batchDistinct=${batch.size}")
      // and dedup actually removed rows (the doubled corpus halves)
      assert(streamed.length.toLong < docs.count())
      // state is watermark-bounded: the plan carries the within-watermark
      // dedup operator, not an unbounded dropDuplicates
      assert(q.lastProgress.stateOperators.exists(
        _.operatorName.toLowerCase.contains("withinwatermark")),
        q.lastProgress.stateOperators.map(_.operatorName).mkString(","))
    } finally q.stop()
  }

  test("dedupSimhash: banded hamming join equals brute-force all-pairs exactly") {
    import org.apache.spark.sql.functions._
    val docs = DocsTables.documents(spark, sf)
    val got = graft.spark.TextOps.dedupSimhash(spark, docs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force: all corpus fingerprints to the driver, O(n²) hamming scan
    graft.spark.SqlSurface.registerVecDot(spark)
    val fps = graft.spark.TextOps.nearDupCorpus(docs)
      .select(col("doc_id"), call_function("simhash64", col("text")).as("fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      i <- fps.indices.iterator
      j <- (i + 1) until fps.length
      h = java.lang.Long.bitCount(fps(i)._2 ^ fps(j)._2)
      if h <= 3
    } yield {
      val (a, b) = if (fps(i)._1 < fps(j)._1) (fps(i), fps(j)) else (fps(j), fps(i))
      (a._1, b._1, h)
    }).toSet
    // pigeonhole makes the band filter LOSSLESS: exact equality, not subset
    assert(got == brute, s"got=${got.size} brute=${brute.size}; " +
      s"missed=${(brute -- got).take(3)} extra=${(got -- brute).take(3)}")
    assert(got.nonEmpty, "corpus mutation should yield some hamming<=3 pairs")
  }

  test("dedupSimhash bandCap: planted identical-fingerprint flood is dropped, normal pairs intact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val normal = DocsTables.documents(spark, sf).select(col("doc_id"), col("text"))
    val hot = spark.range(2000).select(
      (col("id") + 500000L).as("doc_id"),
      lit("exactly the same ten words of text in every planted document").as("text"))
    val t0 = System.nanoTime()
    val capped = graft.spark.TextOps.dedupSimhash(spark, normal.unionAll(hot), bandCap = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cappedSec = (System.nanoTime() - t0) / 1e9
    val normalOnly = graft.spark.TextOps.dedupSimhash(spark, normal)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == normalOnly, s"capped=${capped.size} normalOnly=${normalOnly.size}")
    assert(cappedSec < 120, s"capped run took ${cappedSec}s — cap not effective")
  }

  test("IVF k-means fit: centroid-independent at nProbe=nCells, map-side plan, usable recall") {
    val emb = graft.spark.DocsTables.embeddings(spark, "/root/testdata/sf0.01")
    // nProbe = nCells probes every cell -> result equals brute REGARDLESS of
    // the quantizer, fitted or not (this is why the driver oracle may pin it)
    val brute = graft.spark.TextOps.annCosineTopK(emb, nQueries = 5, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val fittedFull = graft.spark.TextOps.annCosineIvf(emb, nQueries = 5, k = 5,
        nCells = 8, nProbe = 8, fitIters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(fittedFull == brute)
    // fitted quantizer at nProbe < nCells: plan stays map-side (no join for
    // assignment) and recall clears the same floor as the unfitted one
    val df = graft.spark.TextOps.annCosineIvf(emb, nQueries = 5, k = 5,
      nCells = 8, nProbe = 4, fitIters = 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
    val ivf = df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val bruteQN = brute.map(t => (t._1, t._3))
    val recall = ivf.intersect(bruteQN).size.toDouble / bruteQN.size
    assert(recall >= 0.3, s"fitted-IVF recall unusable: $recall")
  }

  test("dedupNgramJaccard tokenCap: planted hot prefix tokens are dropped, job stays linear") {
    import org.apache.spark.sql.functions._
    // mirror of the bucketCap adversary: 2000 planted docs with IDENTICAL
    // text — every prefix token is shared by all 4000 corpus copies, so the
    // uncapped prefix join would generate O(freq²) candidate rows per token;
    // the cap must anti-join those tokens out and leave normal pairs intact
    val normal = DocsTables.documents(spark, sf).select(col("doc_id"), col("text"))
    val hot = spark.range(2000).select(
      (col("id") + 500000L).as("doc_id"),
      lit("exactly the same ten words of text in every planted document").as("text"))
    val t0 = System.nanoTime()
    val capped = graft.spark.TextOps.dedupNgramJaccard(normal.unionAll(hot), tokenCap = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cappedSec = (System.nanoTime() - t0) / 1e9
    val normalOnly = graft.spark.TextOps.dedupNgramJaccard(normal)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // planted pairs are lost by design (the documented recall trade: their
    // every shared prefix token is hot); normal pairs survive untouched
    assert(capped == normalOnly, s"capped=${capped.size} normalOnly=${normalOnly.size}")
    assert(capped.nonEmpty)
    assert(cappedSec < 120, s"capped run took ${cappedSec}s — cap not effective")
  }

  test("connectedComponents: maxIters hit returns partial refinement labels, converged=false") {
    import spark.implicits._
    // two disjoint chains (diameter 40 each): star contraction needs ~log d
    // rounds, so maxIters=1 must leave residual edges
    val chain = (0L until 40L).sliding(2).map(s => (s.head, s.last)).toSeq ++
      (100L until 140L).sliding(2).map(s => (s.head, s.last)).toSeq
    val pairs = chain.toDF("a", "b")
    val (labels, stats) = graft.spark.TextOps.connectedComponents(pairs, maxIters = 1,
      localFinishEdges = 0)
    assert(!stats.converged && stats.residualEdges > 0 && stats.rounds == 1)
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size == 80)
    // partial labels are a REFINEMENT of the true components: labels only
    // move down within a component, and the two chains never mix
    got.foreach { case (d, l) =>
      assert(l <= d, s"label $l above node $d")
      assert((d < 100) == (l < 100), s"node $d labeled across components: $l")
    }
    // same graph, enough rounds: full convergence to the component minima
    val (full, st2) = graft.spark.TextOps.connectedComponents(pairs, maxIters = 10,
      localFinishEdges = 0)
    assert(st2.converged && st2.residualEdges == 0)
    val fixed = full.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    fixed.foreach { case (d, l) => assert(l == (if (d < 100) 0L else 100L), s"$d -> $l") }
    // refinement formally: nodes sharing a partial label share a final label
    got.groupBy(_._2).values.foreach { grp =>
      assert(grp.keys.map(fixed).toSet.size == 1, s"partial cluster spans components: $grp")
    }
  }

  test("dedupClusters: non-convergence yields partial labels, not an exception") {
    import spark.implicits._
    // the diameter-30 chain corpus from the O(log d) test, but maxIters=2:
    // must return all 60 rows with valid partial labels instead of throwing
    val words = (0 until 156).map(i => f"tok$i%04d")
    val docs = (0 until 30).map(i => (i.toLong, words.slice(4 * i, 4 * i + 40).mkString(" ")))
      .toDF("doc_id", "text")
    val out = graft.spark.TextOps.dedupClusters(docs, maxIters = 2, localFinishEdges = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == 60)
    // partial labels are a refinement of the (single) true component: every
    // label is a member doc's id, only moved downward
    out.foreach { case (d, lbl) => assert(lbl <= d && lbl >= 0, s"$d -> $lbl") }
    assert(out.exists { case (d, lbl) => lbl < d }, "no contraction at all happened")
  }

  test("connectedComponents: reliable checkpoint survives cached-block loss; localCheckpoint does not") {
    import spark.implicits._
    val pairs = (0L until 40L).sliding(2).map(s => (s.head, s.last)).toSeq.toDF("a", "b")
    // local path: blocks live on 'executors' — dropping every persisted
    // block after the run loses the data (lineage is truncated, so the
    // re-collect cannot recompute; this is what executor loss does to a
    // multi-hour clustering job mid-flight)
    val (localLabels, _) = graft.spark.TextOps.connectedComponents(pairs, maxIters = 10,
      localFinishEdges = 0)
    localLabels.count()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    intercept[Exception] { localLabels.collect() }
    // reliable path: with the session checkpoint dir set, every round is
    // written to (shared, on a cluster) storage — the same block loss is
    // survivable. The dir cannot be unset on the shared SparkContext, so the
    // local half above must be the first code in this JVM to run without it
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val (labels, stats) = graft.spark.TextOps.connectedComponents(
      pairs, maxIters = 10, localFinishEdges = 0)
    assert(stats.converged)
    val first = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(first.size == 40 && first.values.forall(_ == 0L))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val again = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(again == first, "post-block-loss re-read from the checkpoint dir diverged")
    // and the checkpoint data actually landed on disk
    def walk(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles.map(walk).sum else 1L
    assert(walk(new java.io.File(dir)) > 0, s"no checkpoint files under $dir")
  }

  test("dedupMinhash and pipeline_dedup re-collect identically after cached-block loss") {
    // the test above left the session checkpoint dir set: the materialized
    // shingle corpus and pipeline input are reliable checkpoints, so losing
    // every cached block (what executor loss does) must not change a result
    assert(spark.sparkContext.getCheckpointDir.isDefined)
    val docs = DocsTables.documents(spark, sf)
    for (df <- Seq(graft.spark.TextOps.dedupMinhash(docs),
        SparkEntry.queries("pipeline_dedup")(spark, sf))) {
      val first = df.collect().map(_.toSeq).toSet
      assert(first.nonEmpty)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      assert(df.collect().map(_.toSeq).toSet == first,
        "post-block-loss re-collect diverged")
    }
  }

  test("watermarked windowed aggregation over the events stream") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-events").toString
    val events = spark.read.parquet(s"$sf/events.parquet")
    events.write.mode("overwrite").parquet(s"$dir/in")
    val stream = spark.readStream.schema(events.schema).parquet(s"$dir/in")
    val agg = graft.spark.StreamOps.windowedEventStats(stream)
    val q = agg.writeStream.format("memory").queryName("event_stats")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // append mode emits only watermark-closed windows; compare against the
      // batch plan over the same input for the emitted subset
      val streamed = spark.sql("SELECT * FROM event_stats")
      val batch = graft.spark.StreamOps.windowedEventStatsBatch(spark, sf)
      val joined = streamed.as("s").join(batch.as("b"),
        Seq("win_start", "event_type"))
        .filter(col("s.n") =!= col("b.n"))
      assert(joined.count() == 0, "streamed window counts disagree with batch")
    } finally q.stop()
  }

  test("pipeline_dedup executes the extraction kernel once: cached scans only in the final plan") {
    // the r4 scale flaw: un-persisted kernel output fed the corpus expansion
    // (2 union branches) and the final labeling (2 more) -> 4x extraction.
    // With cachePipelineInput the kernel output is checkpointed once; every
    // consumer must read it via the checkpoint scan (Scan ExistingRDD), so
    // the final plan may contain NO kernel MapPartitions nodes.
    val df = SparkEntry.queries("pipeline_dedup")(spark, sf)
    // structural traversal: collect() stops at leaf nodes, so any
    // MapPartitions it finds is a genuine re-execution.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val exec = unwrap(df.queryExecution.executedPlan)
    val kernelNodes = exec.collect {
      case m if m.nodeName.contains("MapPartitions") => m
    }
    assert(kernelNodes.isEmpty,
      s"kernel re-execution leaked into the pipeline_dedup plan:\n$exec")
    val cachedScans = exec.collect {
      case s if s.nodeName.contains("ExistingRDD") => s
    }
    assert(cachedScans.nonEmpty,
      s"expected checkpointed kernel output in the pipeline_dedup plan:\n$exec")
    assert(df.count() > 0)
  }

  test("streaming sessions: 10^5-event hot user in one micro-batch completes exactly") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-hotuser").toString
    // one hot user with 100k events in a single batch (unsorted arrival
    // order — ts descending via reversed event ids), sessions split every
    // 10k events by a > gap jump; plus a normal user as a control
    val hot = spark.range(100000).select(
      lit(7L).as("user_id"),
      col("id").as("event_id"),
      timestamp_seconds(lit(1700000000L) +
        (col("id") % 10000) * 2 + floor(col("id") / 10000).cast("long") * 100000).as("ts"),
      lit("click").as("event_type"),
      lit("1.50").as("value"))
    val normal = spark.range(5).select(
      lit(8L).as("user_id"), (col("id") + 200000).as("event_id"),
      timestamp_seconds(lit(1700000000L) + col("id") * 10).as("ts"),
      lit("view").as("event_type"), lit("2.00").as("value"))
    val events = hot.unionAll(normal).orderBy(col("event_id").desc) // adversarial order
    events.write.mode("overwrite").parquet(s"$dir/in")
    val stream = spark.readStream.schema(events.schema).parquet(s"$dir/in")
    val q = graft.spark.StreamOps.streamingSessions(stream)
      .writeStream.format("memory").queryName("hot_sessions")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // sentinel far-future events advance the watermark so timeouts flush
      (1 to 2).foreach { i =>
        events.orderBy(col("ts").desc).limit(1)
          .withColumn("user_id", lit(-1L))
          .withColumn("ts", col("ts") + expr(s"INTERVAL ${30 * i} DAYS"))
          .write.mode("append").parquet(s"$dir/in")
        q.processAllAvailable()
      }
      val got = spark.sql("SELECT user_id, n_events, value_sum, start_s, end_s " +
          "FROM hot_sessions WHERE user_id >= 0")
        .collect().map(_.toSeq).toSet
      val batch = graft.spark.StreamOps.eventSessions(
          spark.read.parquet(s"$dir/in").filter(col("user_id") >= 0))
        .select(col("user_id"), col("n_events"), col("value_sum"), col("start_s"), col("end_s"))
        .collect().map(_.toSeq).toSet
      assert(got == batch, s"streamed=${got.size} batch=${batch.size}")
      // shape sanity: 10 hot sessions of 10k events each + 1 control session
      assert(got.count(_.head == 7L) == 10)
      assert(got.filter(_.head == 7L).forall(_(1) == 10000L))
    } finally q.stop()
  }

  test("multimodal: features are pixel-space — decoded-channel stats, closed-form pix sums") {
    import graft.spark.MultimodalOps
    val feats = MultimodalOps.extractFeatures(MultimodalOps.mediaTable(spark, sf))
      .collect().groupBy(_.media_kind)
    // image: pix_sum is the synth blue-channel sum (closed form) and the
    // blue-mean feature dim is exactly pix_sum normalized
    feats("image").take(5).foreach { f =>
      val (w, h) = (MultimodalOps.imgWidth(f.doc_id), MultimodalOps.imgHeight(f.doc_id))
      val expected = (0 until w * h).map(i =>
        (f.doc_id * 31 + (i % w) * 7 + (i / w) * 13) % 256).sum
      assert(f.pix_sum == expected, s"image ${f.doc_id}")
      assert(math.abs(f.feature(2) - f.pix_sum.toDouble / (w * h) / 255.0) < 1e-6)
      assert(f.feature.forall(v => v >= 0f && v <= 1f))
    }
    // audio: pix_sum is the synth PCM sample sum (closed form); rms/meanAbs
    // dims are sane magnitudes for the full-range synth signal
    feats("audio").take(5).foreach { f =>
      val n = MultimodalOps.audioNumSamples(f.doc_id)
      val expected = (0 until n).map(i => (f.doc_id * 31 + i * 7919) % 65536 - 32768).sum
      assert(f.pix_sum == expected, s"audio ${f.doc_id}")
      assert(f.feature(2) > 0.3f && f.feature(2) <= 1f, "rms out of range")
    }
    // video: real per-frame pixel stats (non-degenerate channel means from
    // the decoded frame stack; GIF palette makes them real-but-not-closed-form)
    feats("video").take(5).foreach { f =>
      assert(f.feature.take(4).exists(_ > 0f), s"video ${f.doc_id}: zero pixel stats")
      assert(f.feature.forall(v => v >= 0f && v <= 1f))
    }
  }

  test("ivf_recall: production nProbe=4/16 clears the documented floor deterministically") {
    val rows = SparkEntry.queries("ivf_recall")(spark, sf).collect()
    assert(rows.length == 1)
    assert(rows.head.getLong(0) == 50, s"n_exact = ${rows.head.getLong(0)}")
    assert(rows.head.getBoolean(1), "recall_ok false: below the 0.7 floor")
    // determinism: a second evaluation hashes identically (fit is fixed-init)
    val again = SparkEntry.queries("ivf_recall")(spark, sf).collect()
    assert(again.head == rows.head)
  }

  test("canonNameCol (native regexp chain) equals canonName on eval-style names") {
    import org.apache.spark.sql.functions._
    val names = Seq(
      "plain-ascii_file.html", "café-menü.html", // 2-byte class
      "ßäöü.html", "日本語ページ.html", // 3-byte
      "résumé � twice�.html", // the JVM's own C-locale char
      "emoji-😀-name.html", // supplementary (4-byte)
      "mix صفحة & рус 100%.html")
    val df = spark.createDataset(names)(org.apache.spark.sql.Encoders.STRING).toDF("f")
    val got = df.select(graft.spark.EvalCorpus.canonNameCol(col("f")).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(got == names.map(graft.spark.EvalCorpus.canonName),
      "native canonNameCol diverged from the Scala canonName")
  }
}
