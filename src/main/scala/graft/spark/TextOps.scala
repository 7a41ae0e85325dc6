package graft.spark

import graft.functions.{minhash128, shingleHashes, simhash64, sortedIntersectCount, srpBuckets,
  vecDot, vecDots, vecUnit}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Large-scale training-data operators over the documents/embeddings tables:
  * deduplication (exact, MinHash+LSH, SimHash), quality scoring, token
  * counting, language-ID heuristic, similarity search. DataFrame/Catalyst
  * only — every transform here is whole-stage-codegen'd column expressions +
  * standard shuffles; no UDFs, so plans scale with partition count.
  *
  * Scale notes per operator:
  *  - exact dedup: one hash-shuffle groupBy on the text (at 100 TB: group by
  *    xxhash64 prefix bucket first, then exact within bucket);
  *  - near-dup joins (MinHash, n-gram prefix filter, banded SimHash, SRP-LSH):
  *    keys are computed scan-side and candidates come from one blocking
  *    self-join, `candidatePairs` — the only quadratic risk is inside a key;
  *    MinHash, n-gram and SimHash cap hot keys (`bucketCap`, `tokenCap`,
  *    `bandCap`), SRP-LSH has no cap;
  *  - ANN: brute-force cosine against a broadcast query set (the baseline);
  *    the scale path is the same join keyed by an IVF/LSH bucket.
  */
object TextOps {

  val StopEn: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")
  val StopDe: Seq[String] = Seq("der", "die", "das", "und", "ist", "von")
  val StopEs: Seq[String] = Seq("el", "la", "de", "que", "los", "es")
  val StopFr: Seq[String] = Seq("le", "les", "des", "est", "et", "une")

  private def words(c: Column): Column = split(c, " ")

  // ----------------------------------------------------------- quality score

  /** Length/punctuation/stopword quality features (SQL-expressible oracle). */
  def qualityScore(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    docs.select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      size(w).as("n_tokens"),
      round(length(regexp_replace(col("text"), "[^.,!?;:]", "")) /
        length(col("text")).cast("double"), 4).as("punct_ratio"),
      round(size(filter(w, t => t.isin(StopEn: _*))) / size(w).cast("double"), 4)
        .as("stopword_ratio"),
      round(size(array_distinct(w)) / size(w).cast("double"), 4).as("distinct_ratio"))
  }

  def qualityScoreOracle: String =
    """SELECT doc_id,
      | length(text) AS n_chars,
      | len(string_split(text,' ')) AS n_tokens,
      | round(length(regexp_replace(text,'[^.,!?;:]','','g')) / CAST(length(text) AS DOUBLE), 4) AS punct_ratio,
      | round(len(list_filter(string_split(text,' '), t -> t IN ('the','a','of','and','to','in','is'))) / CAST(len(string_split(text,' ')) AS DOUBLE), 4) AS stopword_ratio,
      | round(len(list_distinct(string_split(text,' '))) / CAST(len(string_split(text,' ')) AS DOUBLE), 4) AS distinct_ratio
      |FROM documents""".stripMargin

  // ----------------------------------------------------------- token counts

  /** Whitespace + alnum-only token counting (BPE-ish regex split count). */
  def tokenCount(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    docs.select(
      col("doc_id"),
      size(w).as("ws_tokens"),
      size(filter(w, t => t.rlike("^[A-Za-z0-9]+$"))).as("alnum_tokens"),
      size(filter(w, t => length(t) > 4)).as("long_tokens"))
  }

  def tokenCountOracle: String =
    """SELECT doc_id,
      | len(string_split(text,' ')) AS ws_tokens,
      | len(list_filter(string_split(text,' '), t -> regexp_matches(t,'^[A-Za-z0-9]+$'))) AS alnum_tokens,
      | len(list_filter(string_split(text,' '), t -> length(t) > 4)) AS long_tokens
      |FROM documents""".stripMargin

  // ------------------------------------------------------------ language id

  /** SQL-surface language heuristic: argmax over per-language stopword hit
    * counts, deterministic tie-break en>de>es>fr>und. This 4-language toy is
    * the ORACLE-CHECKABLE CONTRACT (every branch is expressible in DuckDB
    * SQL, so the driver verifies it cell-exact); the KERNEL's classifier —
    * what `language_filter` actually runs inside extraction — is the real
    * character-trigram profile model in `graft.extract.LangId` (12 Latin
    * profiles + 7 script ranges, margin-gated; LangIdSpec). */
  def langId(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    def score(s: Seq[String]) = size(filter(w, t => t.isin(s: _*)))
    docs.select(col("doc_id"), score(StopEn).as("s_en"), score(StopDe).as("s_de"),
        score(StopEs).as("s_es"), score(StopFr).as("s_fr"))
      .select(col("doc_id"),
        when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") && col("s_en") >= col("s_fr") && col("s_en") > 0, "en")
          .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr") && col("s_de") > 0, "de")
          .when(col("s_es") >= col("s_fr") && col("s_es") > 0, "es")
          .when(col("s_fr") > 0, "fr")
          .otherwise("und").as("lang_pred"))
  }

  def langIdOracle: String = {
    def inList(s: Seq[String]) = s.map(x => s"'$x'").mkString(",")
    s"""SELECT doc_id,
       | CASE
       |  WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
       |  WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
       |  WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
       |  WHEN s_fr > 0 THEN 'fr'
       |  ELSE 'und' END AS lang_pred
       |FROM (SELECT doc_id,
       |  len(list_filter(string_split(text,' '), t -> t IN (${inList(StopEn)}))) AS s_en,
       |  len(list_filter(string_split(text,' '), t -> t IN (${inList(StopDe)}))) AS s_de,
       |  len(list_filter(string_split(text,' '), t -> t IN (${inList(StopEs)}))) AS s_es,
       |  len(list_filter(string_split(text,' '), t -> t IN (${inList(StopFr)}))) AS s_fr
       | FROM documents)""".stripMargin
  }

  // ------------------------------------------------------------- exact dedup

  /** Near-dup corpus shared with the DuckDB oracle: the documents plus a
    * mutated copy (id+1000000, last 3 words dropped) — deterministic. */
  def nearDupCorpus(docs0: DataFrame): DataFrame = {
    // fanOut first (guide §2.5) so everything downstream runs at session
    // parallelism instead of the 1-2 tasks a small scan yields
    val docs = DocsTables.fanOut(docs0)
    val w = words(col("text"))
    // ONE scan, no union: each doc explodes into its (original, mutated)
    // pair. The unionAll form planned TWO separate exchanges — the
    // optimizer pushes each branch's projection below the fanOut
    // repartition, the branches stop being the same exchange (no reuse),
    // and the mutated-text computation lands on the unparallelized scan
    // side (measured r06: two 0.85 MB exchange maps, one a 952 ms
    // single-task stage). A generator cannot be pushed through the
    // repartition, so the explode keeps one scan, one exchange, and the
    // mutation work post-shuffle. Row set identical.
    docs.select(explode(array(
        struct(col("doc_id").cast("long").as("doc_id"), col("text")),
        struct((col("doc_id") + 1000000L).cast("long").as("doc_id"),
          concat_ws(" ", slice(w, lit(1), size(w) - 3)).as("text")))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))
  }

  val nearDupCorpusSql: String =
    """(SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 1000000 AS doc_id,
      |   array_to_string(list_slice(string_split(text,' '), 1, len(string_split(text,' ')) - 3), ' ') AS text
      | FROM documents)""".stripMargin

  /** The identical-copy corpus: every doc twice, under doc_id and
    * doc_id + 1000000, with the same text. */
  private[graft] def duplicatedCorpus(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .unionAll(docs.select((col("doc_id") + 1000000L).cast("long").as("doc_id"), col("text")))

  /** Exact dedup over the duplicated corpus (documents ∪ documents).
    * 100 TB plan: the shuffle key is two INDEPENDENT 64-bit hashes of the
    * text (16 bytes/row), never the text itself — a (h1,h2) bucket equals the
    * exact-text equality class up to a ~2^-128 per-pair collision, so the
    * result is identical to grouping by text while the shuffle stays
    * key-sized. h2 chains the seed BEFORE the string (xxhash64(1, text)):
    * the string hash then runs from a different state, making h2 independent
    * of h1 — the suffix form xxhash64(text, 1) is hashInt(1, h1), a bijection
    * of h1 that adds no entropy (collision odds would stay ~n²/2^65 at
    * 10^10 docs). Map-side partial agg still applies (one shuffle total). */
  def dedupExact(docs: DataFrame): DataFrame =
    duplicatedCorpus(docs)
      .select(col("doc_id"),
        xxhash64(col("text")).as("h1"), xxhash64(lit(1), col("text")).as("h2"))
      .groupBy(col("h1"), col("h2"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  val dedupExactOracle: String =
    """SELECT min(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM (SELECT doc_id, text FROM documents
      |      UNION ALL SELECT doc_id + 1000000, text FROM documents)
      |GROUP BY text""".stripMargin

  // ------------------------------------------------------------ MinHash LSH

  val MinhashPerms = 128
  val LshBands = 32
  val LshRows = 4 // 32 bands x 4 rows: P(miss | j=0.8) ≈ 4.6e-8 per pair

  /** 3-word shingles as a distinct set. */
  private[graft] def shingles(textCol: Column): Column = {
    val w = split(textCol, " ")
    array_distinct(transform(sequence(lit(1), size(w) - 2),
      i => concat_ws(" ", element_at(w, i), element_at(w, i + 1), element_at(w, i + 2))))
  }

  /** 3-word shingles hashed to int64, via zip_with over shifted slices:
    * O(words) per row with ~3 splits total. The naive
    * `transform(sequence, i => ...element_at(w,i)...)` form re-inlines the
    * `split` per element (CollapseProject), costing O(words²) per row — 4×
    * slower end-to-end at sf0.1. Equivalence with `shingles` + xxhash64 is
    * test-verified. */
  private[graft] def hashedShingles(textCol: Column): Column = {
    val ws = split(textCol, " ")
    val pairs = zip_with(ws, slice(ws, lit(2), size(ws)), (a, b) => concat(a, lit(" "), b))
    val triples = zip_with(pairs, slice(ws, lit(3), size(ws)),
      (ab, c) => xxhash64(concat(ab, lit(" "), c)))
    array_distinct(slice(triples, lit(1), greatest(size(ws) - 2, lit(0))))
  }

  /** Computes `df` once, eagerly, and returns a DataFrame that reads the
    * result with no lineage behind it: the one materialization policy of
    * these operators. With `spark.checkpoint.dir` set (a cluster sets it on
    * shared storage) this is a reliable checkpoint, so a lost executor costs
    * a re-read, not the job; otherwise a local checkpoint into executor
    * blocks. No module state holds the result: Spark's ContextCleaner frees
    * local blocks once the returned DataFrame is unreachable (reliable
    * checkpoint files as `spark.cleaner.referenceTracking.cleanCheckpoints`
    * says). The result is also a projection barrier: the optimizer cannot
    * see through it. */
  private def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** The near-dup corpus as (doc_id, sh) with `sh` the SORTED set of hashed
    * 3-shingles, materialized once — the MinHash and n-gram joins read it
    * from four subtrees each (both candidate sides, both verify sides),
    * which otherwise each re-ran the shingle scan (measured r06):
    *  - as a projection barrier it stops CollapseProject inlining the
    *    shingle expression both as the verify column and as minhash128's
    *    child — two full evaluations per row (measured r06);
    *  - sorting once at the scan turns the per-pair verify into the native
    *    allocation-free merge count (sorted_intersect_count); minhash128
    *    takes per-permutation MINIMA, so it is order-independent and
    *    bit-identical over the sorted set;
    *  - EAGER materialization stops the band subtree and the two verify-side
    *    reads racing on first execution — independent stages of one job
    *    each computed the not-yet-materialized partitions, running the
    *    shingle scan up to 3x concurrently (measured r06).
    * shingle_hashes = array_sort(array_distinct(hashed 3-shingles)) as ONE
    * native zero-copy pass over the text bytes (each shingle is a byte slice
    * of the original string — see the expression's scaladoc); bit-identical
    * to the interpreted zip_with tree (VecExprsEquivalenceSpec). */
  private def shingleCorpus(docs: DataFrame): DataFrame =
    materialize(nearDupCorpus(docs)
      .select(col("doc_id"), shingleHashes(col("text")).as("sh"))
      .filter(size(col("sh")) > 0))

  /** Materializes an EXPENSIVE dedup-pipeline input (e.g. the extraction
    * kernel's output) so every downstream consumer reads one copy. The
    * near-dup corpus expansion and the final cluster labeling both read the
    * source, so an un-materialized kernel input re-executes extraction up to
    * 4x per pipeline run — invisible at bench scale where extraction is
    * ~60 µs/doc, a scale-killer at 100 TB where extraction dominates
    * (VERDICT r4). In the production pipeline the equivalent move is staging
    * extracted text via the commit-log table (ExtractPipeline); this is the
    * in-query form. Eager, so the copy is built in one dedicated simple job
    * rather than as a side effect of whichever dependent subtree runs
    * first. */
  def cachePipelineInput(df: DataFrame): DataFrame = materialize(df)

  /** MinHash+LSH near-dup pairs with exact-Jaccard verification:
    * signatures (map-only) -> band explode -> equi-join on (band, hash) ->
    * exact 3-shingle Jaccard >= threshold. The final filter makes the output
    * exact (LSH only prunes), so a cross-join DuckDB oracle verifies it.
    *
    * Scale shape: every shingle string is hashed to int64 ONCE at the scan
    * (`xxhash64(s)`); the 128 permutation hashes then hash 8-byte longs (not
    * strings), and the verify joins ship long arrays (8 B/shingle) instead of
    * string arrays. Jaccard over the hashed sets equals Jaccard over the
    * string sets up to 64-bit collisions inside one pair's shingle union
    * (~n²/2^64, negligible at any per-doc shingle count).
    *
    * `bucketCap > 0` is the 100 TB degenerate-bucket guard: LSH buckets with
    * more than `bucketCap` members are dropped from candidate generation
    * (bucket list computed once, broadcast anti-join). A pair that only
    * collided in a dropped bucket is lost — acceptable recall trade at scale
    * (a j≥0.8 pair collides in ~13 of 32 bands in expectation); keep 0 for
    * the exact oracle path. */
  def dedupMinhash(docs: DataFrame, threshold: Double = 0.8,
      bucketCap: Int = 0): DataFrame = {
    val corpus = shingleCorpus(docs)
    // Signatures stay PURE MAP-SIDE work: minhash128 computes all 128
    // permutation mins in one pass (bit-identical to the explode +
    // 128×min(xxhash64(s,i)) + groupBy form, equivalence test-pinned) with
    // NO shuffle — at 100 TB the old shape shipped |corpus shingles| rows ×
    // 128 hash columns through an aggregation exchange.
    // NOT materialized — A/B-measured r06 (4 paired same-window legs):
    // caching (doc_id, mh) flips the band self-join from broadcast to SMJ on
    // the IMR's larger stats (two 4 MB exchanges, no stage reuse, +1
    // eager-count job) and regressed dedup_minhash/clusters/pipeline by
    // 0.3-0.6 s each; recomputing the native minhash128 once per band side
    // from the materialized sorted-shingle corpus is cheaper than the extra
    // plan machinery.
    val sigs = corpus.select(col("doc_id"),
      minhash128(col("sh")).as("mh"))
    // band keys: explode the band INDEX first, then slice+hash the cached
    // signature in a plain codegen'd projection. The previous
    // `posexplode(transform(sequence, b => hash(slice(mh, ...))))` evaluated
    // the whole band array through the INTERPRETED higher-order-function
    // path — ~15 µs/element, 5-7 s of executor time per join side at sf0.1
    // (measured r06); `hash` and `slice` outside a lambda are
    // whole-stage-codegen expressions and the same values cost <1 s. bhash
    // values are bit-identical (same hash over the same slice), so the
    // candidate set and the verified output are unchanged.
    val bands = sigs
      .select(col("doc_id"), col("mh"),
        explode(sequence(lit(0), lit(LshBands - 1))).as("band"))
      .select(col("doc_id"), col("band"),
        hash(slice(col("mh"), col("band") * LshRows + 1, lit(LshRows))).as("bhash"))
    val candidates = candidatePairs(bands, Seq("band", "bhash"), bucketCap, None)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    jaccardVerify(candidates, corpus, threshold)
  }

  /** The blocking self-join of the near-dup family. `rows` are
    * `(id, key…, payload…)`, id first; returns the `a`/`b` self-join on equal
    * `keys`, `a.id < b.id` and `extra` (a condition over both sides, kept in
    * the join so a failing pair is never materialized). A pair sharing m
    * keys comes back m times: callers project and deduplicate.
    * `cap > 0` is the 100 TB hot-key guard: keys held by more than `cap`
    * rows are counted once and removed by a broadcast anti-join (a pair
    * sharing only such keys is lost); `cap <= 0` keeps every key. */
  private def candidatePairs(rows: DataFrame, keys: Seq[String], cap: Int,
      extra: Option[Column]): DataFrame = {
    val kept =
      if (cap <= 0) rows
      else {
        val hot = rows.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("bsz")).filter(col("bsz") > cap)
          .select(keys.map(col): _*)
        rows.join(broadcast(hot), keys, "left_anti")
      }
    val id = rows.columns.head
    val onKeys = keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
      col(s"a.$id") < col(s"b.$id")
    kept.as("a").join(kept.as("b"), extra.fold(onKeys)(onKeys && _))
  }

  /** Exact 3-shingle Jaccard verify of `(id_a, id_b)` candidates against the
    * sorted shingle corpus (`shingleCorpus`), keeping pairs >= `threshold`.
    * The joins ship long arrays (8 B/shingle) only for candidate rows.
    * jaccard = |I| / (|A| + |B| - |I|): the union size falls out of the set
    * sizes, and |I| is the native sorted-merge count, which builds no hash
    * set or result array per candidate pair. */
  private def jaccardVerify(cands: DataFrame, corpus: DataFrame,
      threshold: Double): DataFrame = {
    val inter = sortedIntersectCount(col("sh_a"), col("sh_b"))
    cands
      .join(corpus.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(corpus.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(inter / (size(col("sh_a")) + size(col("sh_b")) - inter)
          .cast("double"), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  def dedupMinhashOracle(threshold: Double = 0.8): String =
    s"""WITH corpus AS (
       | SELECT doc_id, list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
       |   i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS sh
       | FROM $nearDupCorpusSql corpus_in
       | WHERE len(string_split(text,' ')) >= 3
       |)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  round(len(list_intersect(a.sh, b.sh)) / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 4) AS jaccard
       |FROM corpus a, corpus b
       |WHERE a.doc_id < b.doc_id
       |  AND len(list_intersect(a.sh, b.sh)) / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= $threshold""".stripMargin

  /** Convergence/robustness facts of a connectedComponents run. */
  final case class ClusterStats(converged: Boolean, rounds: Int, residualEdges: Long)

  /** Connected components over an (a, b) long-keyed edge DataFrame via star
    * contraction + pointer-hop label flatten (see dedupClusters scaladoc for
    * the algorithm). Returns (labels(doc_id, label), stats).
    *
    * Checkpointing: lineage MUST be truncated each round — the flatten
    * self-join doubles the logical plan per iteration, so without a cut the
    * analyzer's work grows exponentially in the round count. Every round
    * goes through `materialize`: without a session checkpoint dir that is a
    * `localCheckpoint` (executor-block storage: fast, but a lost executor
    * mid-iteration kills the job — fine on a single box); with
    * `spark.checkpoint.dir` on shared storage (HDFS/S3) it is a RELIABLE
    * checkpoint, so a multi-hour 100 TB clustering survives executor loss,
    * paying one distributed write per round of the (monotonically
    * shrinking) edge set.
    *
    * Non-convergence: if maxIters rounds leave residual edges the PARTIAL
    * labels are returned with `converged = false` instead of throwing — each
    * partial cluster is a refinement of a true component (labels only ever
    * merge), so downstream dedup keeps strictly more docs than the fixpoint
    * would, never corrupts. At 100 TB, hours of work surviving as a usable
    * refinement + a metric beats an exception. (maxIters = 20 covers any
    * real graph: rounds are O(log d) in component diameter, so 20 rounds
    * resolve diameters ~2^20 — non-convergence in practice means a
    * pathologically low maxIters, as in the pinned test.) */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20,
      localFinishEdges: Int = 100000): (DataFrame, ClusterStats) = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // checkpoint the pair DAG ONCE before mirroring: unionAll(p, p.swap)
    // over the raw DataFrame executes the (expensive) pair-generation
    // subtree twice — measured r06: the whole MinHash candidate+verify plan
    // ran twice inside the first CC job. The union of the materialized
    // checkpoint is then a cheap double read of local blocks.
    // FAST PATH: when the pair set already fits the local finish (pairs
    // are strict a<b, so mirrored edges = 2x pairs exactly), ONE bounded
    // limit-collect over the RAW pair DAG — it stops tasks early and is
    // ≤ ~0.8 MB at the default threshold, scale-safe at any corpus size —
    // replaces the checkpoint job, the count job, the distributed
    // identity-label init and the broadcast-fix join: the union-find
    // result IS the label table (union-find is direction-agnostic, so the
    // un-mirrored pairs suffice, with nodes = both endpoint sets). Same
    // labels as the distributed path: min-id-root union-find assigns each
    // node its component minimum, the fixpoint the contraction loop
    // converges to. The pair DAG executes exactly ONCE on this path.
    if (localFinishEdges > 0) {
      val maxPairs = localFinishEdges / 2
      val probe = pairs.limit(maxPairs + 1).collect()
      if (probe.length <= maxPairs) {
        val roots = minIdRoots(probe)
        val nodes = probe.iterator.flatMap(r => Iterator(r.getLong(0), r.getLong(1))).toSet
        val labelsLocal = nodes.iterator.map(n => (n, roots.getOrElse(n, n))).toSeq
          .toDF("doc_id", "label")
        return (labelsLocal, ClusterStats(converged = true, 0, 0))
      }
    }
    val p0 = materialize(pairs)
    var edges = p0.unionAll(p0.select(col("b").as("a"), col("a").as("b")))
    var nEdges = edges.count()
    var labels = materialize(edges.select(col("a").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("label")))
    var iter = 0
    // LOCAL FINISH (the standard production tail move — Kiveris et al. end
    // the same way): once the contracted edge set fits the driver
    // (localFinishEdges, default 100k edges = ~1.6 MB), solving it locally
    // with union-find and broadcast-composing the fix into the labels beats
    // 2-3 more full distributed rounds of 4-job overhead each. At 100 TB
    // the loop contracts billions of edges down to this size in O(log d)
    // rounds and the tail is then free. 0 disables (pure distributed loop —
    // the spec chain tests pin that path).
    def localFinish(): Unit = {
      val fix = minIdRoots(edges.select(col("a"), col("b")).collect())
        .toSeq.toDF("label", "root")
      // ONE composition suffices even though mid-run labels are not yet
      // idempotent (pointer chains can survive the one-hop flatten):
      // every label value is either (a) a node of the remaining contracted
      // edge set — any value written by upd/flatten is an endpoint of those
      // edges, and union-find resolves every such node STRAIGHT to its
      // final root (components of the contracted graph are exactly the
      // unresolved merge groups, and each group's min id is always a
      // surviving representative because adoption only moves downward) —
      // or (b) an already-final root untouched by the remaining edges,
      // which the left join passes through. Pinned by the mid-run
      // local-finish test (chains forced through >=1 distributed round).
      labels = labels.join(broadcast(fix), Seq("label"), "left")
        .select(col("doc_id"), coalesce(col("root"), col("label")).as("label"))
      nEdges = 0
    }
    while (nEdges > localFinishEdges.max(0) && iter < maxIters) {
      // contract both endpoints to their representatives, drop self-loops
      // (round 1 skips it: labels are still the identity map there)
      val contracted = if (iter == 0) edges else materialize(edges
        .join(labels.select(col("doc_id").as("a"), col("label").as("la")), Seq("a"))
        .join(labels.select(col("doc_id").as("b"), col("label").as("lb")), Seq("b"))
        .select(col("la").as("a"), col("lb").as("b"))
        .filter(col("a") =!= col("b")).distinct())
      // every representative adopts its smallest neighboring representative
      val upd = contracted
        .select(greatest(col("a"), col("b")).as("label"), least(col("a"), col("b")).as("m"))
        .groupBy("label").agg(min(col("m")).as("m"))
      val stepped = labels.join(upd, Seq("label"), "left")
        .select(col("doc_id"), coalesce(col("m"), col("label")).as("label"))
      // flatten one pointer hop: L := L∘L (this is what makes rounds O(log d))
      val next = materialize(stepped.alias("s")
        .join(stepped.select(col("doc_id").as("label"), col("label").as("ll")).alias("t"),
          Seq("label"), "left")
        .select(col("doc_id"), coalesce(col("ll"), col("label")).as("label")))
      nEdges = contracted.count()
      edges = contracted; labels = next; iter += 1
    }
    // the loop exits either converged (nEdges == 0), at the local-finish
    // threshold, or at maxIters with a too-big residual (stays partial)
    if (nEdges > 0 && localFinishEdges > 0 && nEdges <= localFinishEdges) localFinish()
    (labels, ClusterStats(nEdges == 0, iter, nEdges))
  }

  /** Min-id-root union-find over (a, b) long edge rows: maps every node that
    * is not its component's smallest id to that smallest id (roots, and
    * nodes in no edge, are absent). */
  private def minIdRoots(edges: Array[Row]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { row =>
      val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // min-id root
    }
    parent.keys.map(k => (k, find(k))).toMap
  }

  /** Near-dup CLUSTERS: connected components over the MinHash near-dup
    * pair graph, labeling every corpus doc with the smallest doc_id in its
    * component (singletons label themselves) — the "keep one canonical doc
    * per duplicate cluster" step a production dedup pipeline runs after
    * pair generation.
    *
    * Algorithm: star contraction with label flattening. Each round (1)
    * contracts every edge through the current labels and drops self-loops,
    * (2) lowers each representative to its minimum neighboring
    * representative, (3) flattens labels one pointer hop (L := L∘L).
    * Contraction + flattening compound, so a chain of diameter d resolves
    * in O(log d) rounds — the Kiveris et al. star-contraction family, the
    * published shape for trillion-edge connected components — while plain
    * min-label propagation (GraphX-style Pregel) needs d rounds. The
    * iteration runs only over the near-dup MEMBER subgraph (nodes with at
    * least one pair); the full corpus is labeled once at the end with a
    * left join, so per-round cost is O(pairs), not O(corpus). At 100 TB
    * the contracted edge set shrinks monotonically and every join key is
    * an 8-byte id; AQE handles the skew a mega-component would create. */
  def dedupClusters(docs: DataFrame, threshold: Double = 0.8,
      maxIters: Int = 20, localFinishEdges: Int = 100000): DataFrame = {
    val pairs = dedupMinhash(docs, threshold)
      .select(col("id_a").as("a"), col("id_b").as("b"))
    val (labels, stats) = connectedComponents(pairs, maxIters, localFinishEdges)
    if (!stats.converged)
      Console.err.println(s"[dedupClusters] NOT CONVERGED after ${stats.rounds} " +
        s"rounds (${stats.residualEdges} residual edges) — returning partial " +
        "labels (a refinement of the true components)")
    // label the full corpus: members take their component min, singletons
    // self. The id set of nearDupCorpus is constructible WITHOUT the mutated
    // text (ids are docs ∪ docs+1e6) — the previous nearDupCorpus call paid
    // the fanOut exchange + text synthesis only to have every column but
    // doc_id pruned away.
    // ONE read, no union: the unionAll form gave each branch its own
    // TableCacheQueryStage over the source (the pipeline's cached kernel
    // output, or two parquet scans on the plain path); a generator reads it
    // once (same move as nearDupCorpus) and halves the final stage's width.
    // Row multiset identical. Kernel work was NOT the cost — a doc counter
    // proves extraction runs once per invocation in both forms — the
    // paired A/B wall win is the leaner stage structure.
    docs.select(col("doc_id").cast("long").as("doc_id"))
      .select(explode(array(col("doc_id"), col("doc_id") + 1000000L)).as("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster_id"))
  }

  /** DuckDB oracle: transitive closure via a recursive CTE, min reachable
    * id per node over the same exact-verified pair graph. */
  def dedupClustersOracle(threshold: Double = 0.8): String =
    s"""WITH RECURSIVE pairs AS (
       |  ${dedupMinhashOracle(threshold).replace("\n", "\n  ")}
       |), edges AS (
       |  SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs
       |), nodes AS (
       |  SELECT doc_id FROM $nearDupCorpusSql n
       |), reach(src, dst) AS (
       |  SELECT doc_id, doc_id FROM nodes
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
       |)
       |SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src""".stripMargin

  // ----------------------------------------------------- n-gram Jaccard dup

  /** Direct (non-probabilistic) n-gram Jaccard near-dup via PREFIX
    * FILTERING (Bayardo/Chaudhuri-style set-similarity join): sort each
    * doc's hashed 3-shingle set under one global order, emit only the first
    * `|S| - ceil(t*|S|) + 1` tokens as join keys — any pair with jaccard >=
    * t must share a token in BOTH prefixes, so joining prefix-to-prefix is
    * a lossless candidate filter. Candidates are then verified with the
    * exact set jaccard, making the output identical to dedupMinhash (which
    * this is test-pinned against) and to the cross-join DuckDB oracle —
    * but with zero probabilistic machinery: this is the exact-guarantee
    * path when LSH's (tiny) miss probability is not acceptable. At 100 TB:
    * join keys are 8-byte hashes; prefix length shrinks as threshold rises
    * (t=0.8 keeps ~20% of tokens); AQE handles hot-token skew.
    *
    * `tokenCap > 0` is the 100 TB hot-token guard (mirror of dedupMinhash's
    * bucketCap): a prefix token shared by more than `tokenCap` docs would
    * generate O(freq²) candidate pairs from one join key — the token list is
    * computed once and removed by a broadcast anti-join. RECALL TRADE: unlike
    * bucketCap (where a true pair collides in ~13 of 32 bands), the prefix
    * filter is the ONLY candidate source here, so a pair whose every shared
    * prefix token is hot is lost for good; at t=0.8 a near-dup pair shares
    * ~20% of its tokens as prefix, so in practice loss needs a pair composed
    * almost entirely of corpus-wide boilerplate shingles — exactly the pairs
    * a dedup pipeline prefers to drop. Keep 0 for the exact oracle path. */
  def dedupNgramJaccard(docs: DataFrame, threshold: Double = 0.8,
      tokenCap: Int = 0): DataFrame = {
    val corpus = shingleCorpus(docs)
    val prefixLen = (size(col("sh")) -
      ceil(size(col("sh")) * lit(threshold)).cast("int") + 1)
    val tokens = corpus
      .select(col("doc_id"), size(col("sh")).as("sz"),
        explode(slice(col("sh"), lit(1), prefixLen)).as("tok"))
    // LENGTH FILTER at the candidate join (Bayardo/Xiao set-similarity-join
    // staple): J(A,B) >= t forces t*|A| <= |B| and t*|B| <= |A| (the
    // intersection is bounded by the smaller set, the union bounded below by
    // the larger), so size-mismatched pairs can be dropped INSIDE the join
    // before the candidate explosion — lossless, the exact-jaccard verify
    // output is unchanged. Kills the freq² pair blow-up of corpus-wide
    // boilerplate prefix tokens shared across differently-sized docs.
    val lengthFilter = col("b.sz") >= col("a.sz") * lit(threshold) &&
      col("a.sz") >= col("b.sz") * lit(threshold)
    val cands = candidatePairs(tokens, Seq("tok"), tokenCap, Some(lengthFilter))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b")).distinct()
    jaccardVerify(cands, corpus, threshold)
  }

  // --------------------------------------------------------------- simhash

  /** SimHash shaped for a SQL oracle: fingerprint the duplicated corpus
    * (every text twice, under doc_id and doc_id+1000000 — two independent
    * hash computations), join the copies back on id, and emit the hamming
    * distance between the two fingerprints. Identical texts must produce
    * identical 64-bit simhashes, so DuckDB predicts every row —
    * (id, id+1000000, 0) — without being able to compute blake2b itself.
    * Map-only fingerprinting; the self-join keys on the 8-byte id. */
  def simhashPairs(docs: DataFrame): DataFrame = {
    // native simhash64 expression: the old typed .map deserialized every row
    // (Deserialize/SerializeFromObject around an otherwise all-codegen plan)
    val fps = duplicatedCorpus(docs).select(col("doc_id"),
      simhash64(col("text")).as("fp"))
    fps.filter(col("doc_id") < 1000000L).as("a")
      .join(fps.filter(col("doc_id") >= 1000000L).as("b"),
        col("a.doc_id") === col("b.doc_id") - 1000000L)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).cast("long").as("hamming"))
  }

  /** SimHash NEAR-DUP pairs at scale (Manku/Google-style banded hamming
    * join): fingerprint every doc map-side (native simhash64), split the 64
    * bits into `maxHamming + 1` bands and equi-join per band — by
    * pigeonhole, any pair within hamming `maxHamming` agrees EXACTLY on at
    * least one band, so the band join is a LOSSLESS candidate filter (the
    * simhash analogue of prefix filtering); verify with bit_count(xor).
    * Join keys are (band, 16-bit band value) — fixed-width, never text.
    * Degenerate bands (e.g. a corpus-wide all-zero band from short docs)
    * create hot keys; `bandCap` drops them through candidatePairs' cap, as
    * dedupMinhash's bucketCap does (recall trade: a dropped pair must
    * have collided ONLY in capped bands). Spec-pinned against a capped
    * brute-force all-pairs hamming join. */
  def dedupSimhash(docs: DataFrame, maxHamming: Int = 3,
      bandCap: Int = 0): DataFrame =
    dedupSimhashCorpus(nearDupCorpus(docs), maxHamming, bandCap)

  /** Core banded-hamming join over an explicit (doc_id, text) corpus —
    * dedupSimhash feeds it the standard mutated near-dup corpus; the driver
    * oracle query feeds an identical-copy corpus instead (hamming-0 planted
    * pairs are then DuckDB-predictable without computing simhash in SQL). */
  private[graft] def dedupSimhashCorpus(corpusDocs: DataFrame,
      maxHamming: Int, bandCap: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7, "bands are 64/(maxHamming+1) bits")
    val nBands = maxHamming + 1
    val bandBits = 64 / nBands
    // NOTE: a fanOut here was measured SLOWER twice (0.60 -> 0.78 s at
    // sf0.1): the simhash pass is cheap enough that the extra exchange +
    // 32-way task overhead exceeds the parallelism gain. Left on the
    // scan's natural splits deliberately.
    val corpus = corpusDocs
      .select(col("doc_id"), simhash64(col("text")).as("fp"))
    val bands = corpus.select(col("doc_id"), col("fp"),
      posexplode(array((0 until nBands).map { b =>
        // unsigned slice of bandBits bits (last band takes the remainder)
        val lo = b * bandBits
        val width = if (b == nBands - 1) 64 - lo else bandBits
        shiftrightunsigned(col("fp"), lo).bitwiseAND(
          lit((1L << width) - 1 | (if (width == 64) -1L else 0L)))
      }: _*)).as(Seq("band", "bval")))
    candidatePairs(bands, Seq("band", "bval"), bandCap, None)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------------------ ANN cosine

  /** Brute-force cosine top-k: broadcast the query set, one pass over the
    * corpus, per-query top-k via window. The IVF/LSH-bucketed variant keys
    * the same join on a coarse-quantizer bucket instead of a cross join. */
  def annCosineTopK(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val base = embeddings.select(col("vec_id"), vecUnit(col("embedding")).as("u"))
    val queries = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("u").as("qu"))
    val scored = base.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), vecDot(col("qu"), col("u")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"))
  }

  def annCosineOracle(nQueries: Int = 10, k: Int = 5): String =
    s"""SELECT qid, rank, nid FROM (
       | SELECT a.vec_id AS qid, b.vec_id AS nid,
       |   row_number() OVER (PARTITION BY a.vec_id
       |     ORDER BY list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) DESC, b.vec_id ASC) AS rank
       | FROM embeddings a, embeddings b
       | WHERE a.vec_id < $nQueries AND b.vec_id <> a.vec_id
       |) WHERE rank <= $k""".stripMargin

  /** Embedding-cosine near-dup pairs above a threshold (symmetric, a<b).
    * Exact brute-force baseline, capped to the first `cap` vectors so the
    * quadratic cost stays bounded at bench scale (the scale path is
    * embeddingNearDupLsh below; this exact variant feeds the DuckDB oracle). */
  def embeddingNearDup(embeddings: DataFrame, threshold: Double = 0.5,
      cap: Int = 2000): DataFrame = {
    val base = DocsTables.fanOut(embeddings)
      .select(col("vec_id"), vecUnit(col("embedding")).as("u"))
      .filter(col("vec_id") < cap)
    // the cosine threshold lives IN the join condition: the nested-loop
    // join then evaluates one codegen'd predicate per pair and only
    // MATERIALIZES the ~0.2% of pairs that pass — the previous
    // join -> project(cos) -> filter shape built every candidate pair as a
    // joined row carrying both 512 B unit vectors first. Same predicate,
    // same NaN semantics, identical pair set.
    base.select(col("vec_id").as("a_id"), col("u").as("a_u"))
      .join(base.select(col("vec_id").as("b_id"), col("u").as("b_u")),
        col("a_id") < col("b_id") &&
          vecDot(col("a_u"), col("b_u")) >= threshold)
      .select(col("a_id"), col("b_id"))
  }

  /** Sign-random-projection LSH near-dup (the 100 TB path): L hash tables of
    * k deterministic Gaussian hyperplanes bucket the vectors; candidates are
    * generated per (table, bucket) equi-join and verified with the exact
    * cosine — recall < 1 by construction (tunable via k, L), cost linear in
    * rows + bucket-local pairs instead of the full cross product. */
  def embeddingNearDupLsh(embeddings: DataFrame, threshold: Double = 0.5,
      dim: Int = 64, k: Int = 4, tables: Int = 8): DataFrame = {
    val rnd = new java.util.Random(42) // fixed seed: deterministic plan
    val hyper = Array.fill(tables, k, dim)(rnd.nextGaussian())
    // fanOut: tables*k literal-hyperplane dots per row run scan-side
    val base = DocsTables.fanOut(embeddings).select(col("vec_id"), col("embedding"))
    // ALL tables*k hyperplane dots + bit packing in ONE fused native pass
    // (srp_buckets): a projection of 96 separate vec_dot expressions
    // measured ~7 µs PER DOT (r06 — too large to JIT, row
    // re-walked per dot); the fused expression reads the vector once and
    // streams the plane matrix over it. Bucket values bit-identical,
    // including SQL NaN ordering and null-element semantics.
    val planes = (0 until tables).flatMap(t => (0 until k).map(i => hyper(t)(i).toSeq))
    // candidate generation ships IDS ONLY (the dedupMinhash shape): the
    // bucket self-join + distinct move 16-byte pairs, and the embedding
    // arrays are joined back only for surviving candidates — carrying two
    // 64-float arrays per candidate through the dedup shuffle made the
    // recall query ~25x slower at sf0.1 (1.5 GB of array traffic)
    val tagged = base.select(col("vec_id"),
      posexplode(srpBuckets(col("embedding"), planes, k))
        .as(Seq("tbl", "bucket")))
    // NO distinct here: a pair colliding in m tables flows through the
    // verify as m rows and is deduped AFTER it. The pre-verify distinct
    // shuffled ALL ~600 k candidate rows (10 MB exchange + hash agg,
    // measured r06 — the query's single biggest shuffle); the verify joins
    // are broadcast (no exchange) and the per-row native dot is ~100 ns, so
    // pushing the duplicates through them is far cheaper than the exchange,
    // and the post-verify distinct shuffles only surviving pairs. Output
    // pair set identical: verification is deterministic per pair, so
    // dedup-before and dedup-after commute.
    // cap 0: no caller sets an SRP cap, so none is offered
    val cand = candidatePairs(tagged, Seq("tbl", "bucket"), 0, None)
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
    // verify with the SAME float formulation as embeddingNearDup (normalize
    // each side ONCE at the scan, then dot per pair): every emitted pair
    // satisfies the exact path's predicate bit-for-bit, so precision vs the
    // exact set is exactly 1. Normalizing after the join instead would run
    // `transform`'s interpreted lambda — with its embedded norm — per
    // CANDIDATE row rather than per corpus row (~10x on this query).
    val baseU = base.select(col("vec_id"), vecUnit(col("embedding")).as("u"))
    // cosine threshold as the second join's residual condition (see
    // embeddingNearDup): failing candidates are never materialized
    val withA = cand
      .join(baseU.select(col("vec_id").as("a_id"), col("u").as("a_u")), Seq("a_id"))
    val bSide = baseU.select(col("vec_id").as("bid"), col("u").as("b_u"))
    withA
      .join(bSide, withA("b_id") === bSide("bid") &&
        vecDot(col("a_u"), col("b_u")) >= threshold)
      .select(col("a_id"), col("b_id"))
      .distinct()
  }

  /** Oracle-checkable quality contract for the SRP-LSH scale path: one row
    * with the exact-pair count (DuckDB recomputes it), `precision_ok` (LSH
    * emitted no pair outside the exact set — guaranteed by construction, the
    * verify step applies the exact predicate) and `recall_ok` (LSH found at
    * least `recallFloor` of the exact pairs — deterministic: hyperplanes are
    * fixed-seed, so the driver hash-compares TRUE/TRUE stably). */
  def embLshRecall(embeddings: DataFrame, threshold: Double = 0.35,
      cap: Int = 2000, recallFloor: Double = 0.9): DataFrame = {
    // NOT cached: a cap-bounded persist of the shared embeddings input was
    // measured SLOWER (1.03 -> 1.65 s) once vec_dots/srp_buckets made the
    // recompute cheap — InMemoryRelation deserialization of float arrays
    // costs more than re-scanning half a megabyte of parquet. The six
    // subtree reads are fine now that each is one fused pass.
    val embCapped = embeddings.filter(col("vec_id") < cap)
    val exact = embeddingNearDup(embCapped, threshold, cap)
      .select(col("a_id"), col("b_id"), lit(1).as("in_exact"))
    // 24 tables: probed recall 0.98-0.99 at t=0.35 on the synthetic
    // embeddings (0.69 at the default 8 — recall/cost is THE tunable here);
    // the floor keeps ~8 points of margin for corpus drift
    val lsh = embeddingNearDupLsh(embCapped, threshold, tables = 24)
      .select(col("a_id"), col("b_id"), lit(1).as("in_lsh"))
    exact.join(lsh, Seq("a_id", "b_id"), "full_outer")
      .agg(
        coalesce(sum(col("in_exact")), lit(0)).cast("long").as("n_exact"),
        coalesce(sum(when(col("in_exact").isNotNull && col("in_lsh").isNotNull, 1)), lit(0))
          .cast("double").as("n_hit"),
        coalesce(sum(when(col("in_exact").isNull, 1)), lit(0)).as("n_false"))
      .select(col("n_exact"),
        (col("n_false") === 0).as("precision_ok"),
        // degenerate n_exact=0 guard: non-ANSI divide yields NULL and the
        // oracle predicts TRUE — zero exact pairs means trivially-met recall
        when(col("n_exact") === 0, lit(true))
          .otherwise(col("n_hit") / col("n_exact") >= recallFloor).as("recall_ok"))
  }

  // The oracles cast to DOUBLE[] because the Spark side computes cosines in
  // double: over FLOAT[] DuckDB returns a FLOAT cosine, which rounds a pair
  // just under the threshold (0.34999998) onto it.
  def embLshRecallOracle(threshold: Double = 0.35, cap: Int = 2000): String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_exact,
       |  TRUE AS precision_ok, TRUE AS recall_ok
       |FROM embeddings a, embeddings b
       |WHERE a.vec_id < b.vec_id AND a.vec_id < $cap AND b.vec_id < $cap
       |  AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= $threshold""".stripMargin

  /** Spherical k-means centroid fit for the IVF quantizer: Lloyd iterations
    * expressed as DataFrame jobs — assign each vector to its nearest current
    * centroid MAP-SIDE (argmax over literal-baked unit-centroid dots, the
    * same no-join shape as assignment in annCosineIvf), then recompute each
    * cell's mean via posexplode + groupBy(cell, dim) avg. Only the
    * nCells x dim centroid matrix ever reaches the driver (per iteration) —
    * the classic `KMeans.fit` collect shape, scan-linear per iteration at
    * 100 TB. Deterministic init: the first nCells vectors. Empty cells keep
    * their previous centroid. Returns L2-normalized centroids. */
  def fitIvfCentroids(embeddings: DataFrame, nCells: Int = 16,
      iters: Int = 3): Array[Array[Double]] = {
    // NOTE on determinism: avg() sums floats in partition order, so the
    // input layout can move centroids at the last bit; the published
    // ivf_recall contract absorbs this by design (recall floor 0.7 vs
    // probed 0.88-0.96) and nProbe=nCells correctness is centroid-
    // independent (every cell probed).
    val base = embeddings.select(col("vec_id"), col("embedding"))
    def normalize(a: Array[Double]): Array[Double] = {
      val n = math.sqrt(a.iterator.map(x => x * x).sum)
      if (n == 0) a else a.map(_ / n)
    }
    var cents: Array[Array[Double]] = base.filter(col("vec_id") < nCells)
      .collect()
      .sortBy(_.getLong(0))
      .map(r => normalize(r.getSeq[Float](1).iterator.map(_.toDouble).toArray))
    var it = 0
    while (it < iters) {
      // fused native pass over all nCells centroids (see vec_dots note)
      val dotArr = vecDots(col("embedding"), cents.map(_.toSeq).toSeq)
      val assigned = base.select(
        (array_position(dotArr, array_max(dotArr)).cast("int") - 1).as("cell"),
        col("embedding"))
      val means = assigned
        .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("cell"), col("dim")).agg(avg(col("v")).as("m"))
        .collect()
      val next = cents.map(_.clone())
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
      }
      cents = next.map(normalize)
      it += 1
    }
    cents
  }

  /** Oracle-checkable quality contract for the IVF scale path at its
    * PRODUCTION configuration (nProbe < nCells, fitted centroids) — the
    * recall/cost point a 100 TB user actually runs, as opposed to the
    * machinery-validating nProbe=nCells row which is provably ≡ brute force
    * (ann_cosine_ivf). Shape mirrors embLshRecall: DuckDB recomputes the
    * exact top-k (annCosineOracle), the row asserts the IVF result found at
    * least `recallFloor` of it. Deterministic: the k-means fit is
    * fixed-init/fixed-iteration and ties break on nid, so the driver
    * hash-compares (n_exact, TRUE) stably. Floor chosen from probed recall
    * 0.88 / 0.88 / 0.96 at nProbe=4 of 16 on sf0.001/0.01/0.1 (full nProbe
    * curve in BASELINE.md), leaving ≥18 points of corpus-drift margin. */
  def ivfRecall(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      nCells: Int = 16, nProbe: Int = 4, fitIters: Int = 3,
      recallFloor: Double = 0.7): DataFrame = {
    val exact = annCosineTopK(embeddings, nQueries, k)
      .select(col("qid"), col("nid"), lit(1).as("in_exact"))
    val ivf = annCosineIvf(embeddings, nQueries, k, nCells, nProbe, fitIters)
      .select(col("qid"), col("nid"), lit(1).as("in_ivf"))
    exact.join(ivf, Seq("qid", "nid"), "full_outer")
      .agg(
        coalesce(sum(col("in_exact")), lit(0)).cast("long").as("n_exact"),
        coalesce(sum(when(col("in_exact").isNotNull && col("in_ivf").isNotNull, 1)), lit(0))
          .cast("double").as("n_hit"))
      .select(col("n_exact"),
        when(col("n_exact") === 0, lit(true))
          .otherwise(col("n_hit") / col("n_exact") >= recallFloor).as("recall_ok"))
  }

  def ivfRecallOracle(nQueries: Int = 10, k: Int = 5): String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_exact, TRUE AS recall_ok
       |FROM (${annCosineOracle(nQueries, k).replace("\n", "\n  ")}) exact_topk""".stripMargin

  /** IVF-style ANN: coarse quantizer = the first `nCells` vectors as fixed
    * centroids (deterministic); vectors are assigned to their nearest
    * centroid scan-side, queries probe the `nProbe` nearest cells, and the
    * exact cosine ranks candidates inside the probed cells. Sub-linear in
    * corpus size per query at the cost of recall (tunable via nProbe).
    *
    * Scale shape: the centroids are collected to the driver ONCE (this is a
    * model-fit step — O(nCells·dim) bytes, the same shape as `KMeans.fit`)
    * and baked into the plan as L2-normalized literal arrays, so centroid
    * assignment is a pure map-side argmax over nCells literal dot products:
    * no join, no ×nCells row blow-up, no window shuffle — `explain` shows no
    * Exchange before the probe⋈cell join. argmax over dot(v, ĉ_i) equals
    * argmax over cos(v, c_i) because ‖v‖ is a common positive factor. */
  def annCosineIvf(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      nCells: Int = 16, nProbe: Int = 4, fitIters: Int = 0): DataFrame = {
    val base = embeddings.select(col("vec_id"), col("embedding"))
    // fitIters > 0 swaps the deterministic first-nCells quantizer for a real
    // spherical k-means fit (fitIvfCentroids). Correctness at nProbe=nCells
    // is centroid-INDEPENDENT (every cell is probed -> candidates = corpus),
    // which is why the driver oracle pins that configuration; fitted
    // centroids only move the recall/cost curve at nProbe < nCells.
    val cents: Array[(Int, Array[Double])] =
      if (fitIters > 0) fitIvfCentroids(embeddings, nCells, fitIters).zipWithIndex.map(_.swap)
      else base.filter(col("vec_id") < nCells)
        .collect()
        .map { r =>
          val arr = r.getSeq[Float](1).iterator.map(_.toDouble).toArray
          val n = math.sqrt(arr.iterator.map(x => x * x).sum)
          (r.getLong(0).toInt, arr.map(_ / n))
        }
        .sortBy(_._1)
    // native vec_dot against the literal centroid — bit-identical to the
    // aggregate(zip_with) form (probeStructs below runs over nQueries rows
    // only, so the per-expression cost is irrelevant there)
    def dotLit(cn: Array[Double]): Column =
      vecDot(col("embedding"), array(cn.map(lit): _*))
    // map-side argmax: first index of the max dot (ties -> lowest cell_id,
    // matching the previous window tie-break ccos desc / cell_id asc).
    // ALL nCells dots in one fused native pass (vec_dots — see
    // embeddingNearDupLsh): element p is bit-identical to dotLit(cents(p)).
    val dotArr = vecDots(col("embedding"), cents.map(_._2.toSeq).toSeq)
    val cellIds = array(cents.map { case (id, _) => lit(id) }: _*)
    // `u` computed at the scan (once per corpus row): the ranking dot after
    // the probe join then reads a ready array instead of re-running the
    // interpreted normalize-transform per candidate row
    val assigned = base.withColumn("cell_id",
        element_at(cellIds, array_position(dotArr, array_max(dotArr)).cast("int")))
      .withColumn("u", vecUnit(col("embedding")))
    // queries probe their nProbe nearest cells: map-side sort of the nCells
    // (−dot, cell_id) structs, slice, explode — still no shuffle
    val probeStructs = array_sort(array(cents.map { case (id, cn) =>
      struct((-dotLit(cn)).as("negd"), lit(id).as("cell_id"))
    }: _*))
    val probes = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), vecUnit(col("embedding")).as("qu"),
        explode(slice(probeStructs, 1, nProbe)).as("pr"))
      .select(col("qid"), col("qu"), col("pr.cell_id").as("cell_id"))
    // rank candidates inside probed cells (the one genuine shuffle). The
    // ranking cosine uses the SAME float formulation as annCosineTopK
    // (normalize each side, then dot) so an nProbe = nCells configuration is
    // bit-identically the brute-force result — which is how the driver
    // oracle pins this scale path (SparkEntry "ann_cosine_ivf").
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    probes.join(assigned, Seq("cell_id"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        vecDot(col("qu"), col("u")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"))
  }
}
