"""The benchmark's metrics: name, unit, which way is better, and, for a
per-layer metric, the end-to-end metric (workload/metric) it should
move. BENCHMARK.json lists the same names; ``test_smoke`` keeps the two
in step.

A layer a workload does not exercise reports 0 for its per-layer
metrics (no calls, no time busy).
"""

END_TO_END = [
    # name, unit, better
    ("setup_s", "s", "lower"),
    ("query_p50_ms", "ms", "lower"),
    ("query_p99_ms", "ms", "lower"),
    ("qps", "1/s", "higher"),
    ("fleet_query_p50_ms", "ms", "lower"),
    ("fresh_lag_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("index_bytes_per_input_byte", "ratio", "lower"),
]

PER_LAYER = [
    # name, unit, better, target end-to-end metric(s)
    # serve tier
    ("serving.local.search_ms", "ms", "lower", "serve/query_p50_ms, serve/qps"),
    ("serving.local.search_phrase_ms", "ms", "lower", "serve/query_p50_ms, serve/qps"),
    ("serving.local.search_bm25_ms", "ms", "lower", "serve/query_p50_ms, serve/qps"),
    ("serving.local.wand_topk_ms", "ms", "lower", "serve/query_p50_ms, serve/qps"),
    ("serving.local.wand.pruned_fraction", "share", "higher", "serve/query_p50_ms"),
    ("serving.local.wand.blocks_read", "count", "lower", "serve/query_p50_ms"),
    ("serving.local.wand.fallback_share", "share", "lower", "serve/query_p50_ms"),
    # render
    ("operators.snippets.construct_introduction_ms", "ms", "lower", "serve/query_p50_ms"),
    ("operators.snippets.construct_introduction.calls", "count", "lower", "serve/query_p50_ms"),
    ("operators.scoring.score_page_ms", "ms", "lower", "serve/query_p50_ms"),
    ("operators.scoring.score_page.calls", "count", "lower", "serve/query_p50_ms"),
    ("operators.scoring.results_per_scored", "share", "higher", "serve/query_p50_ms"),
    ("functions.tokenizer.tokenize_ms", "ms", "lower", "serve/query_p50_ms"),
    # reader open
    ("serving.local.open_s", "s", "lower", "serve/setup_s, serve/peak_rss_mb"),
    # fleet
    ("serving.fleet.make_term_shards_s", "s", "lower", "serve/setup_s"),
    ("serving.fleet.search_ms", "ms", "lower", "serve/fleet_query_p50_ms"),
    ("serving.fleet.search_bm25_ms", "ms", "lower", "serve/fleet_query_p50_ms"),
    # ingest and maintenance
    ("streaming.incremental.append_batch_s", "s", "lower", "ingest/fresh_lag_s"),
    ("streaming.incremental.refresh_stats_s", "s", "lower", "ingest/fresh_lag_s"),
    ("serving.local.refresh_s", "s", "lower", "ingest/fresh_lag_s, serve/fresh_lag_s"),
    ("serving.local.first_query_after_refresh_ms", "ms", "lower", "ingest/query_p99_ms"),
    ("operators.deletes.delete_docs_s", "s", "lower", "ingest/fresh_lag_s"),
    ("operators.compaction.compact_index_s", "s", "lower", "ingest/index_bytes_per_input_byte"),
    ("operators.compaction.bytes_before", "bytes", "lower", "ingest/index_bytes_per_input_byte"),
    ("operators.compaction.bytes_after", "bytes", "lower", "ingest/index_bytes_per_input_byte"),
    # build
    ("sources.transcripts.turns", "count", "higher", "base of the ratios"),
    # warm rebuild on ingest; the cold set-up build on serve
    ("operators.index_build.turns_per_s", "1/s", "higher", "ingest/setup_s, serve/setup_s"),
    ("operators.index_build.docs_s", "s", "lower", "ingest/setup_s, serve/setup_s"),
    ("operators.index_build.segment_s", "s", "lower", "ingest/setup_s, serve/setup_s"),
    ("operators.index_build.merged_s", "s", "lower", "ingest/setup_s, serve/setup_s"),
    *[
        (f"index.{t}.{k}", u, "lower",
         "index_bytes_per_input_byte, ingest/fresh_lag_s")
        for t in ("docs", "term_positions", "postings", "blocks", "term_stats")
        for k, u in (("bytes", "bytes"), ("files", "count"))
    ],
    # Spark query tier (ingest, over the compacted index)
    ("operators.search.warm_s", "s", "lower", "none (Spark tier warm-up)"),
    ("operators.batch.qps", "1/s", "higher", "none (Spark batch throughput)"),
    ("operators.batch.search_many_s", "s", "lower", "operators.batch.qps"),
    ("operators.batch.search_bm25_many_s", "s", "lower", "operators.batch.qps"),
    ("operators.search.search_ms", "ms", "lower", "none (single-probe Spark)"),
    ("operators.bm25.search_bm25_ms", "ms", "lower", "none (single-probe Spark)"),
    ("spark.jobs_per_query", "count", "lower", "operators.search.search_ms"),
    # run level
    ("failed_share", "share", "lower", "all (also in the result's failed/attempted)"),
    ("trace.overhead_ms", "ms", "lower", "none (traced minus untraced p50, per query shape)"),
    ("host.steal_pct", "%", "lower", "none (host interference)"),
]

UNITS = {n: u for n, u, *_ in END_TO_END + PER_LAYER}
TARGETS = {n: t for n, _, _, t in PER_LAYER}
