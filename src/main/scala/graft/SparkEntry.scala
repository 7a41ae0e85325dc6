package graft

import graft.extract.{ExtractorOptions, TrafConfig}
import graft.spark.{DocsTables, ExtractPipeline, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — one query per implemented operator family (SURVEY §2),
  * each with a DuckDB oracle where SQL can express the expected output.
  * The extraction queries run the full kernel over the interleaved docs
  * table synthesized from documents.parquet (DocsTables.pageHtml is
  * deterministic, so the oracle predicts exact span equality). */
object SparkEntry {

  /** Canonical options for the oracle-checked extraction queries. */
  private def kernelOpts = ExtractorOptions(
    config = TrafConfig.Zero, fast = true, images = true)

  private def extracted(s: SparkSession, dir: String) =
    ExtractPipeline.extractDocs(DocsTables.docsTable(s, dir), kernelOpts)

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    extracted(spark, "/root/testdata/sf0.001").toDF()

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- extraction cascade (SURVEY §2.3-2.4): kernel over interleaved docs
    "extract_text" -> ((s, dir) => extracted(s, dir)
      .select(col("doc_id"),
        element_at(filter(col("spans"), x => x.getField("kind") === "p"), 1)
          .getField("text").as("text"))),
    "extract_spans" -> ((s, dir) => extracted(s, dir)
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .select(col("doc_id"), col("s.kind").as("kind"), col("s.text").as("text"),
        col("s.media_ref").as("media_ref"), col("s.offset").as("span_offset"))),
    // --- metadata cascade (SURVEY §2.5)
    "extract_meta" -> ((s, dir) => extracted(s, dir)
      .select(col("doc_id"), col("title"), col("author"))),
    // --- text analysis operators
    "quality_score" -> ((s, dir) => withLongCounts(
      TextOps.qualityScore(DocsTables.documents(s, dir)),
      Seq("n_chars", "n_tokens"))),
    "token_count" -> ((s, dir) => withLongCounts(
      TextOps.tokenCount(DocsTables.documents(s, dir)),
      Seq("ws_tokens", "alnum_tokens", "long_tokens"))),
    "lang_id" -> ((s, dir) => TextOps.langId(DocsTables.documents(s, dir))),
    // --- deduplication family
    "dedup_exact" -> ((s, dir) => TextOps.dedupExact(DocsTables.documents(s, dir))),
    "dedup_minhash" -> ((s, dir) => TextOps.dedupMinhash(DocsTables.documents(s, dir))),
    // exact-guarantee near-dup path: prefix-filtered set-similarity join,
    // no probabilistic machinery (same oracle as minhash — both are exact)
    "dedup_ngram" -> ((s, dir) => TextOps.dedupNgramJaccard(DocsTables.documents(s, dir))),
    // connected components over the near-dup pair graph (canonical doc per
    // duplicate cluster); oracle = recursive-CTE transitive closure
    "dedup_clusters" -> ((s, dir) => TextOps.dedupClusters(DocsTables.documents(s, dir))),
    // simhash determinism shaped for SQL: identical texts under two ids must
    // fingerprint identically -> hamming 0, predictable without blake2b
    "simhash_fp" -> ((s, dir) => TextOps.simhashPairs(s, DocsTables.documents(s, dir))),
    // the SimHash near-dup SCALE path (Manku-style banded hamming join)
    // through an identical-copy corpus: banding is lossless by pigeonhole,
    // so every planted (a, a+1M) hamming-0 pair MUST survive the band join
    // — DuckDB predicts the full set without computing simhash (the mutated-
    // corpus variant is spec-pinned against brute-force all-pairs hamming)
    "dedup_simhash" -> ((s, dir) =>
      TextOps.dedupSimhashCorpus(s, TextOps.duplicatedCorpus(DocsTables.documents(s, dir)),
          maxHamming = 3, bandCap = 0)
        .filter(col("id_b") === col("id_a") + 1000000L)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))),
    // --- end-to-end LLM-pipeline composition: extraction kernel -> near-dup
    // pairs over the EXTRACTED text -> connected components -> canonical doc
    // per cluster with member count. Proves the two halves compose; the
    // kernel's extracted text is oracle-predictable (= documents.text), so
    // DuckDB replays the whole chain with its recursive-CTE closure.
    "pipeline_dedup" -> ((s, dir) => {
      // the kernel output is CHECKPOINTED before fan-out: the corpus expansion
      // and final labeling otherwise re-execute extraction up to 4x (the
      // r4 scale flaw) — plan-pinned by the "pipeline_dedup runs the kernel
      // once" test
      val txt = TextOps.cachePipelineInput(
        extracted(s, dir).select(col("doc_id").cast("long").as("doc_id"),
          element_at(filter(col("spans"), x => x.getField("kind") === "p"), 1)
            .getField("text").as("text")))
      TextOps.dedupClusters(txt)
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"))
        .select(col("cluster_id").as("keep_id"), col("n_members"))
    }),
    // --- similarity search
    "ann_cosine" -> ((s, dir) =>
      TextOps.annCosineTopK(DocsTables.embeddings(s, dir))
        .withColumn("rank", col("rank").cast("long"))),
    // the IVF scale path, pinned to the SAME oracle as brute: nProbe = nCells
    // probes every cell, so candidates = the whole corpus and the ranking
    // cosine is float-identical to annCosineTopK (see annCosineIvf scaladoc)
    "ann_cosine_ivf" -> ((s, dir) =>
      TextOps.annCosineIvf(DocsTables.embeddings(s, dir), nCells = 16, nProbe = 16)
        .withColumn("rank", col("rank").cast("long"))),
    // the IVF PRODUCTION configuration's quality contract (nProbe=4 of 16,
    // fitted centroids): DuckDB recomputes the exact top-k; the row asserts
    // recall >= the documented floor (probed 0.88-0.96, floor 0.7)
    "ivf_recall" -> ((s, dir) => TextOps.ivfRecall(DocsTables.embeddings(s, dir))),
    "emb_near_dup" -> ((s, dir) => TextOps.embeddingNearDup(DocsTables.embeddings(s, dir), 0.5)),
    // the SRP-LSH scale path's quality contract: n_exact is recomputed by
    // DuckDB; precision/recall of the (fixed-seed, deterministic) LSH vs the
    // exact pair set must clear the documented floors
    "emb_lsh_recall" -> ((s, dir) => TextOps.embLshRecall(DocsTables.embeddings(s, dir))),
    // --- multimodal (binary blobs + typed metadata; real JDK codecs end to
    // end, pixel-space features — pix_sum is the closed-form decode invariant)
    "media_features" -> ((s, dir) => graft.spark.MultimodalOps.mediaFeaturesQuery(s, dir)),
    // --- windowed analytics: gap-based sessionization over the events table
    "events_sessions" -> ((s, dir) =>
      graft.spark.StreamOps.eventSessions(s.read.parquet(s"$dir/events.parquet"))),
    // --- window functions: top-3 orders per market segment
    "tpch_top_orders" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      o.join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("c_mktsegment"), col("rnk"), col("o_orderkey"))
    }),
    // --- skewed join + AQE skew-split: 80% of lineitem rows are remapped to
    // one hot order key, so the sort-merge join's hot partition dwarfs the
    // median; AQE (skewJoin.enabled) splits it at runtime — the plan shows
    // `skew=true` on the join (SparkSpec asserts it; PLANS.md carries the
    // shape). Runs in its own newSession() so the lowered skew thresholds
    // (sized for test-scale data) and the disabled broadcast (forcing SMJ,
    // as a 100 TB fact-fact join would be) leak into no other query.
    "tpch_skew_revenue" -> ((s, dir) => tpchSkewRevenue(s, dir)),
    // --- relational surface: 3-way join + agg over the TPC-H-ish tables
    // (nation broadcast, lineitem->orders->customer shuffle joins on keys)
    "tpch_revenue" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      val n = s.read.parquet(s"$dir/nation.parquet")
      // decimal arithmetic: exact + associative, so the sum is identical to
      // DuckDB's regardless of partition/row ordering (doubles would not be)
      val item = col("l_extendedprice").cast("decimal(18,4)") *
        (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(item).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .select(col("n_name"), col("revenue"), col("n_items"))
    })
  )

  private def withLongCounts(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("long")))

  /** Skewed fact→dim join (see the `queries` entry comment). The hot key is
    * the smallest order key — one tiny driver-side scalar read, the same
    * shape as a dimension lookup. */
  def tpchSkewRevenue(s: SparkSession, dir: String): DataFrame = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // thresholds sized for test-scale data; defaults (256 MB) target real
    // clusters — the MECHANISM under test is identical
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    // the split re-shuffles nothing here (the join feeds a partial agg), but
    // the planner's extra-shuffle heuristic is conservative — force it
    s2.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16KB")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val li = s2.read.parquet(s"$dir/lineitem.parquet")
    val o = s2.read.parquet(s"$dir/orders.parquet")
    val hot = o.agg(min(col("o_orderkey"))).collect()(0).getLong(0)
    // a skewed reduce partition is split along MAPPER boundaries; a
    // single-file single-row-group input is one mapper holding every hot
    // row (probed: perMapper=[0,..,515454,..,0]), which is unsplittable.
    // Real 100 TB inputs have many files/row groups — mapper plurality for
    // free — so the round-robin repartition (an extra shuffle) is applied
    // ONLY when the scan lacks it (driver-side file-count check, no job).
    val liMany = if (li.inputFiles.length >= 8) li else li.repartition(8)
    val fact = liMany.select(
      when(col("l_orderkey") % 10 < 8, lit(hot)).otherwise(col("l_orderkey")).as("fk"),
      col("l_extendedprice"))
    fact.join(o, col("fk") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))
      .select(col("o_orderpriority"), col("revenue"), col("n_rows"))
  }

  /** DuckDB oracle SQL per query (column names/types aligned with the Spark
    * outputs; "span_offset" avoids the OFFSET keyword). */
  def oracleSql: Map[String, String] = Map(
    "simhash_fp" ->
      """SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, CAST(0 AS BIGINT) AS hamming
        |FROM documents""".stripMargin,
    "dedup_simhash" ->
      """SELECT CAST(doc_id AS BIGINT) AS id_a, CAST(doc_id + 1000000 AS BIGINT) AS id_b,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM documents""".stripMargin,
    "events_sessions" -> graft.spark.StreamOps.eventSessionsOracle,
    "tpch_top_orders" ->
      """SELECT c_mktsegment, rnk, o_orderkey FROM (
        | SELECT c_mktsegment, o_orderkey,
        |   row_number() OVER (PARTITION BY c_mktsegment
        |     ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        | FROM orders JOIN customer ON o_custkey = c_custkey
        |) WHERE rnk <= 3""".stripMargin,
    "tpch_skew_revenue" ->
      """WITH fact AS (
        |  SELECT CASE WHEN l_orderkey % 10 < 8
        |              THEN (SELECT min(o_orderkey) FROM orders)
        |              ELSE l_orderkey END AS fk,
        |         l_extendedprice
        |  FROM lineitem)
        |SELECT o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_rows
        |FROM fact JOIN orders ON fk = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "tpch_revenue" ->
      """SELECT n_name,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "extract_text" ->
      "SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents",
    "extract_spans" -> (
      "SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'p' AS kind, text, CAST(NULL AS VARCHAR) AS media_ref, 0 AS span_offset FROM documents " +
        "UNION ALL SELECT CAST(doc_id AS VARCHAR), 'graphic', 'illustration ' || CAST(doc_id AS VARCHAR), 'img' || CAST(doc_id AS VARCHAR) || '.jpg', 1 FROM documents WHERE doc_id % 5 = 0 " +
        "UNION ALL SELECT CAST(doc_id AS VARCHAR), 'comment', 'comment ' || CAST(doc_id AS VARCHAR), CAST(NULL AS VARCHAR), 1 + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END FROM documents WHERE doc_id % 7 = 0 " +
        "UNION ALL SELECT CAST(doc_id AS VARCHAR), 'graphic', 'media for doc ' || CAST(doc_id AS VARCHAR), 'blob://' || CAST(doc_id AS VARCHAR) || '/0', 1 + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END FROM documents WHERE doc_id % 11 = 0"),
    "extract_meta" ->
      "SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'Doc ' || CAST(doc_id AS VARCHAR) AS title, 'Jane Doe' AS author FROM documents",
    "quality_score" -> TextOps.qualityScoreOracle,
    "token_count" -> TextOps.tokenCountOracle,
    "lang_id" -> TextOps.langIdOracle,
    "dedup_exact" -> TextOps.dedupExactOracle,
    "dedup_minhash" -> TextOps.dedupMinhashOracle(),
    "dedup_ngram" -> TextOps.dedupMinhashOracle(),
    "dedup_clusters" -> TextOps.dedupClustersOracle(),
    "pipeline_dedup" ->
      s"""WITH clusters AS (
         |  ${TextOps.dedupClustersOracle().replace("\n", "\n  ")}
         |)
         |SELECT cluster_id AS keep_id, COUNT(*) AS n_members
         |FROM clusters GROUP BY cluster_id""".stripMargin,
    "ann_cosine" -> TextOps.annCosineOracle(),
    "ann_cosine_ivf" -> TextOps.annCosineOracle(),
    "ivf_recall" -> TextOps.ivfRecallOracle(),
    "emb_lsh_recall" -> TextOps.embLshRecallOracle(),
    "emb_near_dup" ->
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id AND b.vec_id < 2000
        |  AND list_cosine_similarity(a.embedding, b.embedding) >= 0.5""".stripMargin,
    "media_features" -> graft.spark.MultimodalOps.mediaFeaturesOracle
  )
}
