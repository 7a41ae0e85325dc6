"""Names, units and directions of the benchmark's metrics; BENCHMARK.json
lists the same (a test keeps them in step)."""

WORKLOADS = {
    "runner": "the README runbook (16 buckets, standard mode, html backup) on sf0.1; "
              "per-bucket job overhead and bucket pool changes show only here",
    "extract_real": "standard-mode extractDocs over seeded variants of the 3 in-repo real pages; "
                    "big DOMs and the fallback cascade",
    "queries": "the 23 SparkEntry queries at sf0.1 in seeded order; job/stage overhead, "
               "shuffle and codegen, checked against DuckDB",
}

# name: (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "wall_s": ("s", "lower", 0.25),
    "docs_per_s": ("1/s", "higher", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.15),
}

QUERIES = sorted("""extract_text extract_spans extract_meta quality_score token_count lang_id
dedup_exact dedup_minhash dedup_ngram dedup_clusters simhash_fp dedup_simhash pipeline_dedup
ann_cosine ann_cosine_ivf ivf_recall emb_near_dup emb_lsh_recall media_features events_sessions
tpch_top_orders tpch_skew_revenue tpch_revenue""".split())

# kernel phase span name -> metric
PHASES = {
    "parse": "parse.us_per_doc",
    "meta": "meta.us_per_doc",
    "dom.copy": "dom.copy_us_per_doc",
    "clean.tree": "clean.tree_us_per_doc",
    "clean.convert": "clean.convert_us_per_doc",
    "extract.comments": "extract.comments_us_per_doc",
    "extract.content": "extract.content_us_per_doc",
    "extract.compare": "extract.compare_us_per_doc",
    "extract.baseline": "extract.baseline_us_per_doc",
    "out": "out.us_per_doc",
    "hash": "hash.us_per_doc",
}

# name: (unit, better)
PER_LAYER = {
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.executor_busy_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.lane_util": ("ratio", "higher"),
    "spark.driver_gap_s": ("s", "lower"),
    "spark.shuffle_bytes": ("B", "lower"),
    "spark.scan_bytes": ("B", "lower"),
    "spark.task_skew": ("ratio", "lower"),
    "spark.codegen_compiles": ("count", "lower"),
    "spark.codegen_s": ("s", "lower"),
    "spark.unattributed_jobs": ("count", "lower"),
    **{m: ("us", "lower") for m in PHASES.values()},
    "parse.nodes_per_doc": ("count", "lower"),
    "extract.fallback_used_frac": ("ratio", "higher"),
    "extract.baseline_frac": ("ratio", "lower"),
    "extract.dup_text_frac": ("ratio", "lower"),
    "kernel.us_per_doc": ("us", "lower"),
    "kernel.phase_cover_frac": ("ratio", "higher"),
    "kernel.trace_overhead_frac": ("ratio", "lower"),
    "runner.stage_s": ("s", "lower"),
    "runner.bucket_s.p50": ("s", "lower"),
    "runner.bucket_s.max": ("s", "lower"),
    "runner.jobs_per_bucket": ("count", "lower"),
    "runner.bytes_written_per_doc": ("B", "lower"),
    "error_frac": ("ratio", "lower"),
    "op.p50_ms": ("ms", "lower"),
    "op.tail_ms": ("ms", "lower"),
    **{f"query.{q}_s": ("s", "lower") for q in QUERIES},
    **{f"query.{q}.jobs": ("count", "lower") for q in QUERIES},
    **{f"query.{q}.codegen_compiles": ("count", "lower") for q in QUERIES},
}
