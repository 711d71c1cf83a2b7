"""Benchmark harness (driver contract).

Builds the inverted index over transcripts synthesized from
``$SPARK_GRAFT_SF_DIR/documents.parquet`` on ``local[$SPARK_GRAFT_CPUS]``,
runs the headline query suite against the persisted index, and prints ONE
JSON line:

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {...per-stage sec...}, "sf": ...}

Extra detail (throughput, p95 latency, corpus size) rides inside the JSON.
Works both as a plain script and under ``spark-submit --py-files``.
Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, BENCH_REPLICATE,
BENCH_SEGMENTS, BENCH_QUERY_REPS, BENCH_MASTER.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from search_engine_spark.config import DEMO_STOP_WORDS, EngineConfig, ScoreWeights
from search_engine_spark.operators.index_build import build_index
from search_engine_spark.operators.search import SearchEngine
from search_engine_spark.session import get_spark
from search_engine_spark.sources.transcripts import (
    corpus_from_transcripts,
    synthesize_transcripts,
)

def _cpu_ticks() -> tuple | None:
    """(steal, total) jiffies snapshot from /proc/stat's aggregate cpu
    line — the co-tenant CPU-steal evidence BENCH.md's noise notes rely
    on, now sampled around every build rep so each timing carries its
    own interference measurement."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [int(x) for x in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        return steal, sum(vals)
    except (OSError, ValueError, IndexError):
        return None


def _steal_pct(before, after) -> float | None:
    if not before or not after:
        return None
    ds, dt = after[0] - before[0], after[1] - before[1]
    return round(100.0 * ds / dt, 1) if dt > 0 else None


HEADLINE_QUERIES = {
    # reference-parity path (conjunctive AND, scored, snippets)
    "search_conjunctive": lambda e: e.search("window merge", max_count=10),
    # phrase + extra word (the reference's published phrase benchmark shape)
    "search_phrase": lambda e: e.search('"table scan" merge', max_count=10),
    # BM25 disjunctive top-10 (scale path)
    "bm25_topk": lambda e: e.search_bm25("filter join window", k=10),
    # BM25 conjunctive
    "bm25_conjunctive": lambda e: e.search_bm25(
        "filter join window", k=10, conjunctive=True
    ),
    # extended boolean filter (exclusion + prefix, one pushed scan)
    "search_boolean": lambda e: e.search_boolean(
        "window -merge sc*", max_count=10
    ),
}


def run(master: str | None = None, sf_dir: str | None = None,
        out_dir: str | None = None) -> dict:
    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    master = master or os.environ.get("BENCH_MASTER", f"local[{cpus}]")
    # 32x replication (~160k turns at sf0.1): large enough that build
    # throughput reflects the engine rather than per-job fixed costs,
    # small enough for a sub-minute default run
    replicate = int(os.environ.get("BENCH_REPLICATE", "32"))
    # 2 segments: per-segment lineage still exercised, but segment-barrier
    # fixed costs don't dominate the small default corpus (a production
    # corpus sizes segments to be individually substantial)
    segments = int(os.environ.get("BENCH_SEGMENTS", "2"))
    reps = int(os.environ.get("BENCH_QUERY_REPS", "5"))

    spark = get_spark(master=master)
    cfg = EngineConfig(stop_words=DEMO_STOP_WORDS, score_weights=ScoreWeights())

    index_dir = out_dir or tempfile.mkdtemp(prefix="bench_idx_")
    shutil.rmtree(index_dir, ignore_errors=True)

    # Build-noise protocol (fixed, r05): this host has bursty 0-70%
    # co-tenant CPU steal (NOTES.md), so a single-shot build time
    # conflates engine cost with whoever else is on the box. The
    # identical build runs BENCH_BUILD_REPS times; the FIRST run is
    # discarded as the cold-JVM warmup (it has paid class-loading /
    # codegen costs no steady-state build pays — the one 100.8 s
    # outlier in r04 was exactly this), and the headline is the MEDIAN
    # of the remaining runs, each annotated with the CPU-steal fraction
    # measured around it (/proc/stat). Every per-rep number rides in
    # detail.build_all_runs_sec / build_steal_pct so the artifact is
    # self-contained.
    build_reps = max(1, int(os.environ.get("BENCH_BUILD_REPS", "3")))
    tx = synthesize_transcripts(
        spark, f"{sf_dir}/documents.parquet", replicate=replicate
    )
    corpus = corpus_from_transcripts(tx)
    build_runs: list[float] = []
    build_steal: list = []
    result = None
    for rep in range(build_reps):
        shutil.rmtree(index_dir, ignore_errors=True)
        tick0 = _cpu_ticks()
        t0 = time.time()
        result = build_index(
            spark, corpus, index_dir, config=cfg, segments=segments
        )
        build_runs.append(time.time() - t0)
        build_steal.append(_steal_pct(tick0, _cpu_ticks()))
    steady = build_runs[1:] if len(build_runs) > 1 else build_runs
    build_sec = statistics.median(steady)

    engine = SearchEngine(spark, index_dir, config=cfg)
    t_warm = time.time()
    # BENCH_PIN_DOCS=0 exercises the 100 TB warm shape: stats/vocab maps
    # pinned but the docs table NOT cached — queries fetch pages through
    # pruned parquet scans, which is the only viable mode when the docs
    # table exceeds cluster memory
    pin_docs = os.environ.get("BENCH_PIN_DOCS", "1") == "1"
    if os.environ.get("BENCH_WARM", "1") == "1":
        # hot-index serving mode: index pinned in executor memory (like the
        # reference's resident in-memory index, memory-storage.ts) and AQE
        # replanning disabled for the interactive query phase
        engine.warm(pin_docs=pin_docs).serve_mode()
    warm_sec = time.time() - t_warm
    # warm time counts toward the headline total — the query latencies
    # below depend on it, so excluding it would move cost out of the metric
    timings: dict[str, float] = {
        "index_build": round(build_sec, 3),
        "index_warm": round(warm_sec, 3),
    }
    lat_ms: dict[str, dict] = {}
    for name, fn in HEADLINE_QUERIES.items():
        samples = []
        for _ in range(reps):
            tq = time.time()
            fn(engine).collect()
            samples.append(time.time() - tq)
        samples.sort()
        timings[name] = round(statistics.median(samples), 3)
        lat_ms[name] = {
            "p50_ms": round(1000 * statistics.median(samples), 1),
            "p95_ms": round(1000 * samples[max(0, int(len(samples) * 0.95) - 1)], 1),
            "best_ms": round(1000 * samples[0], 1),
        }

    # serving-tier latency: the Spark-BUILT index answered by an
    # in-process pyarrow reader with NO Spark job (and no JVM) in the
    # query path (serving/local.py) — the single-probe serving shape.
    # A Spark action pays a ~0.2-0.5 s scheduling floor per query on
    # this host (NOTES.md), which three rounds of plan work could not
    # go below because it is not plan cost; the serving tier is the
    # architectural answer: Spark builds/maintains the index, serving
    # nodes read it. Measured two ways: "pinned" (resident postings +
    # docs — the equal-semantics comparison with the reference's
    # in-memory engine, memory-storage.ts) and "cold_docs" (postings
    # pinned, ≤100-id doc fetches through row-group-pruned parquet
    # reads — the beyond-node-RAM / 100 TB shape). Parity with the
    # Spark paths is pytest-gated (tests/test_serving_local.py).
    serve_stats = None
    if os.environ.get("BENCH_SERVE_LOCAL", "1") == "1":
        from search_engine_spark.serving import LocalIndexReader

        serve_queries = {
            "search_conjunctive": lambda r: r.search(
                "window merge", max_count=10
            ),
            "search_phrase": lambda r: r.search(
                '"table scan" merge', max_count=10
            ),
            "bm25_topk": lambda r: r.search_bm25("filter join window", k=10),
            "bm25_conjunctive": lambda r: r.search_bm25(
                "filter join window", k=10, conjunctive=True
            ),
            # Block-Max WAND: answers from pruned BLOCK reads (never the
            # pinned posting arrays), so its latency is the cold-mode
            # (beyond-node-RAM) serving shape in every reader mode
            "wand_topk": lambda r: r.wand_topk("filter join window", k=10),
        }
        serve_reps = int(os.environ.get("BENCH_SERVE_REPS", "20"))

        def _serve_lat(reader) -> dict:
            stats = {}
            for name, fn in serve_queries.items():
                fn(reader)  # warm the positional LRU once, like any tier
                samples = []
                for _ in range(serve_reps):
                    tq = time.time()
                    fn(reader)
                    samples.append(time.time() - tq)
                samples.sort()
                stats[name] = {
                    "p50_ms": round(
                        1000 * statistics.median(samples), 3
                    ),
                    "p95_ms": round(
                        1000 * samples[max(0, int(len(samples) * 0.95) - 1)],
                        3,
                    ),
                }
            return stats

        t_open = time.time()
        pinned_reader = LocalIndexReader(index_dir, config=cfg, pin_docs=True)
        serve_open_sec = time.time() - t_open
        timings["serve_local_open"] = round(serve_open_sec, 3)
        cold_reader = LocalIndexReader(index_dir, config=cfg, pin_docs=False)
        serve_stats = {
            "open_sec": round(serve_open_sec, 3),
            "pinned": _serve_lat(pinned_reader),
            "cold_docs": _serve_lat(cold_reader),
            # pruning diagnostics of the last wand_topk above (uniform
            # headline corpus — the skewed-vocabulary pruning evidence is
            # tools/wand_zipf_bench.py's serve_tier section)
            "wand_stats": dict(cold_reader.last_wand_stats),
        }
        for name, st in serve_stats["pinned"].items():
            timings[f"serve_{name}"] = round(st["p50_ms"] / 1000, 4)

        # reference-scale point: the reference's published latencies
        # (BASELINE.md: 3.85 ms 2-word AND, 6.18 ms phrase+word) are at
        # 50k docs — build a 50k-turn index (replicate=10) and measure
        # the serve tier at EQUAL corpus size so the parity ratio is
        # apples-to-apples, not 160k-vs-50k
        if os.environ.get("BENCH_REF_POINT", "1") == "1":
            ref_dir = tempfile.mkdtemp(prefix="bench_ref50k_")
            shutil.rmtree(ref_dir, ignore_errors=True)
            ref_tx = synthesize_transcripts(
                spark, f"{sf_dir}/documents.parquet", replicate=10
            )
            ref_res = build_index(
                spark, corpus_from_transcripts(ref_tx), ref_dir,
                config=cfg, segments=segments,
            )
            ref_reader = LocalIndexReader(ref_dir, config=cfg, pin_docs=True)
            serve_stats["ref_scale"] = {
                "n_turns": ref_res.n_docs,
                **_serve_lat(ref_reader),
            }
            for name, st in serve_stats["ref_scale"].items():
                if isinstance(st, dict):
                    timings[f"serve50k_{name}"] = round(
                        st["p50_ms"] / 1000, 4
                    )
            shutil.rmtree(ref_dir, ignore_errors=True)

    # skewed-vocabulary WAND headline point: the flat synthetic corpus
    # is the WORST case for block-max pruning (near-uniform block maxima
    # — the adaptive fallback now answers it at exhaustive-BM25 cost,
    # visible in serve_local.wand_stats.fallback above); THIS row is the
    # design-case evidence the driver artifact carries — a deterministic
    # Zipf tail (sources/transcripts.py tail_vocab) where θ beats block
    # bounds and pruning does real work, with inline losslessness vs the
    # exhaustive serve-tier BM25 on the same index.
    if serve_stats is not None and             os.environ.get("BENCH_WAND_SKEW", "1") == "1":
        from search_engine_spark.serving import LocalIndexReader

        skew_dir = tempfile.mkdtemp(prefix="bench_skew_")
        shutil.rmtree(skew_dir, ignore_errors=True)
        # tail_stride=256 gives the tail terms ingest-order topical
        # locality (a topic burst = consecutive events), and the build
        # orders by EVENT TIME so that locality survives into the
        # doc-id space — the structure doc-range block bounds exploit.
        # Without it (stride=1, uniform residues) every term's blocks
        # span the whole doc-id space and range pruning is structurally
        # starved at any df — measured and documented in BENCH.md.
        skew_tx = synthesize_transcripts(
            spark, f"{sf_dir}/documents.parquet", replicate=10,
            tail_vocab=1000, tail_stride=256,
        )
        build_index(
            spark, corpus_from_transcripts(skew_tx), skew_dir,
            config=cfg, segments=segments,
            order_cols=("ts", "conv_id", "turn_idx"),
        )
        skew_reader = LocalIndexReader(
            skew_dir, config=cfg, pin_postings=False
        )
        dfm = sorted(
            skew_reader._df_map.items(), key=lambda kv: (-kv[1], kv[0])
        )
        head = dfm[0][0]
        # rare-but-not-degenerate tail: the first tail term with
        # df >= 100 (else the most frequent one), so the true top-k is
        # tail-dominated and θ clears the flat head-only bound. A tail
        # with df < k leaves θ at the head level — honestly unprunable
        # (the adaptive fallback's case), which would showcase the wrong
        # regime here. An index without tail_ terms skips the row.
        tail_by_df = sorted(
            (df, t) for t, df in skew_reader._df_map.items()
            if t.startswith("tail_")
        )
        rare_tail = next(
            (t for df, t in tail_by_df if df >= 100),
            tail_by_df[-1][1] if tail_by_df else None,
        )
        if rare_tail is None:
            serve_stats["wand_skew"] = {"skipped": "no tail_ terms"}
        else:
            qskew = f"{head} {rare_tail}"
            exact = skew_reader.search_bm25(qskew, k=10)
            wand_pdf = skew_reader.wand_topk(qskew, k=10)
            lossless = (
                list(exact["doc_id"]) == list(wand_pdf["doc_id"])
                and list(exact["score"]) == list(wand_pdf["score"])
            )
            st = dict(skew_reader.last_wand_stats)
            skew_samples: list[float] = []
            bm_samples: list[float] = []
            for _ in range(int(os.environ.get("BENCH_SERVE_REPS", "20"))):
                tq = time.time()
                skew_reader.wand_topk(qskew, k=10)
                skew_samples.append(time.time() - tq)
                tq = time.time()
                skew_reader.search_bm25(qskew, k=10)
                bm_samples.append(time.time() - tq)
            skew_samples.sort()
            bm_samples.sort()
            wand_p50 = statistics.median(skew_samples)
            serve_stats["wand_skew"] = {
                "query_shape": "head + clustered tail term, "
                               "tail_vocab=1000 stride=256, ts-ordered",
                "n_turns": skew_reader.count(),
                "lossless": lossless,
                "blocks_total": st["blocks_total"],
                "surviving_blocks": st["surviving_blocks"],
                "pruned_fraction": round(
                    1.0 - st["surviving_blocks"] / max(1, st["blocks_total"]),
                    4,
                ),
                "blocks_read": st["blocks_read"],
                "fallback": st["fallback"],
                "wand_p50_ms": round(1000 * wand_p50, 3),
                "exhaustive_bm25_p50_ms": round(
                    1000 * statistics.median(bm_samples), 3
                ),
            }
            timings["serve_skew_wand_topk"] = round(wand_p50, 4)
        shutil.rmtree(skew_dir, ignore_errors=True)

    # batch serving throughput: N queries fused into ONE plan
    # (operators/batch.py) — the 100 TB serving shape, where the Spark
    # job floor amortizes across the in-flight query set. Reported as
    # amortized ms/query + QPS next to the single-probe latencies above.
    batch_n = int(os.environ.get("BENCH_BATCH", "64"))
    batch_stats = None
    if batch_n:
        # 64 DISTINCT queries (the synthetic vocabulary is small, so
        # every query hits head terms): identical in-flight queries
        # would be answered once by the canonical-signature dedup in
        # operators/batch.py, which would make the amortized number
        # trivial — distinct queries measure the real fused-plan work
        import itertools

        # secondary sort on term: equal-df ties would otherwise make the
        # picked query set nondeterministic across runs (ADVICE r03),
        # weakening round-over-round comparability
        from pyspark.sql import functions as F

        vocab = [
            r["term"]
            for r in engine.term_stats()
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(512)
            .collect()
        ]
        pairs = list(itertools.combinations(vocab, 2))
        n_conj = max(0, batch_n - 16)
        texts = [f"{a} {b}" for a, b in pairs[:n_conj]]
        texts += [f'"table scan" {t}' for t in vocab[:8]]  # phrase + word
        texts += list(vocab[8:16])  # single-term
        texts = texts[:batch_n]
        samples = []
        for _ in range(max(1, min(reps, 3))):
            tb = time.time()
            engine.search_many(texts, max_count=10).collect()
            samples.append(time.time() - tb)
        bsec = statistics.median(samples)
        samples_bm = []
        for _ in range(max(1, min(reps, 3))):
            tb = time.time()
            engine.search_bm25_many(texts, k=10).collect()
            samples_bm.append(time.time() - tb)
        bmsec = statistics.median(samples_bm)
        timings[f"batch_search_{batch_n}"] = round(bsec, 3)
        timings[f"batch_bm25_{batch_n}"] = round(bmsec, 3)
        batch_stats = {
            "n_queries": batch_n,
            "search_batch_sec": round(bsec, 3),
            "search_amortized_ms_per_query": round(1000 * bsec / batch_n, 2),
            "search_qps": round(batch_n / bsec, 1),
            "bm25_batch_sec": round(bmsec, 3),
            "bm25_amortized_ms_per_query": round(1000 * bmsec / batch_n, 2),
            "bm25_qps": round(batch_n / bmsec, 1),
        }

    # larger batch point: amortization is the 100 TB serving story, so
    # show it SCALING — at 4× the in-flight query set the fused plan's
    # fixed costs (scheduling, scan setup, Arrow stage spin-up) spread
    # 4× thinner. One rep each (the number only has to beat the 64-point,
    # not win a noise contest).
    batch_large = int(os.environ.get("BENCH_BATCH_LARGE", "256"))
    if batch_n and batch_large > batch_n:
        ltexts = [f"{a} {b}" for a, b in pairs[: batch_large - 16]]
        ltexts += [f'"table scan" {t}' for t in vocab[:8]]
        ltexts += list(vocab[8:16])
        ltexts = ltexts[:batch_large]
        tb = time.time()
        engine.search_many(ltexts, max_count=10).collect()
        lsec = time.time() - tb
        tb = time.time()
        engine.search_bm25_many(ltexts, k=10).collect()
        lbmsec = time.time() - tb
        timings[f"batch_search_{batch_large}"] = round(lsec, 3)
        timings[f"batch_bm25_{batch_large}"] = round(lbmsec, 3)
        if batch_stats is not None:
            batch_stats["large_point"] = {
                "n_queries": batch_large,
                "search_batch_sec": round(lsec, 3),
                "search_amortized_ms_per_query": round(
                    1000 * lsec / batch_large, 2
                ),
                "search_qps": round(batch_large / lsec, 1),
                "bm25_batch_sec": round(lbmsec, 3),
                "bm25_amortized_ms_per_query": round(
                    1000 * lbmsec / batch_large, 2
                ),
                "bm25_qps": round(batch_large / lbmsec, 1),
            }

    # streaming serving (streaming/serving.py): queries drained from a
    # file source through foreachBatch into the SAME fused plan —
    # sustained QPS including the stream's own micro-batch overhead,
    # i.e. the end-to-end serving-tier number
    stream_stats = None
    n_stream = int(os.environ.get("BENCH_STREAM", "256"))
    stream_file_q = int(os.environ.get("BENCH_STREAM_FILE_Q", "64"))
    if n_stream and batch_n:
        import json as _json

        from search_engine_spark.streaming.serving import serve_query_stream

        sdir = tempfile.mkdtemp(prefix="bench_srv_")
        qdir = os.path.join(sdir, "queries")
        os.makedirs(qdir)
        # 64-query files (vs r03's 32): per-micro-batch fixed costs
        # (foreachBatch setup, checkpoint commit, parquet write) amortize
        # over the file size — the same lever the fused batch path pulls
        stream_file_q = max(1, stream_file_q)
        stexts = [f"{a} {b}" for a, b in pairs[:n_stream]]
        chunks = [
            stexts[i:i + stream_file_q]
            for i in range(0, len(stexts), stream_file_q)
        ]
        for fi, chunk in enumerate(chunks):
            with open(os.path.join(qdir, f"drop{fi}.json"), "w") as f:
                for qi, text in enumerate(chunk):
                    f.write(_json.dumps(
                        {"query_id": fi * stream_file_q + qi, "text": text}
                    ) + "\n")
        smetrics: list[dict] = []
        ts = time.time()
        serve_query_stream(
            engine, qdir, os.path.join(sdir, "out"),
            os.path.join(sdir, "ckpt"), mode="search", max_count=10,
            max_files_per_trigger=1, metrics=smetrics,
        )
        ssec = time.time() - ts
        served = sum(m["n_queries"] for m in smetrics)
        timings["stream_serve"] = round(ssec, 3)
        # steady-state excludes batch 0's sink wall (first-batch Arrow
        # worker spin-up + stream start) but charges the tail EVERYTHING
        # else — inter-batch trigger/checkpoint overhead included — by
        # subtracting from total stream wall rather than summing per-
        # batch sink times (which would silently drop ~1s/run of stream
        # machinery a long-running tier pays every batch)
        if len(smetrics) > 1:
            tail = smetrics[1:]
            tail_sec = ssec - smetrics[0]["wall_sec"]
        else:
            tail = smetrics
            tail_sec = ssec
        tail_q = sum(m["n_queries"] for m in tail)
        stream_stats = {
            "n_queries": served,
            "micro_batches": len(smetrics),
            "wall_sec": round(ssec, 3),
            "sustained_qps": round(served / ssec, 1),
            "ms_per_query_end_to_end": round(1000 * ssec / max(1, served), 2),
            "steady_state_qps": round(tail_q / max(tail_sec, 1e-9), 1),
            "steady_state_ms_per_query": round(
                1000 * tail_sec / max(1, tail_q), 2
            ),
            "per_batch": smetrics,
        }
        shutil.rmtree(sdir, ignore_errors=True)

    # WAND pruning evidence: the Spark WAND plan (θ, blocks total and
    # surviving under the range-aware and the global bound; the planner
    # is operators/block_bounds.py, shared with the serve tier) for three
    # query shapes; equality to exhaustive BM25 is pytest-gated in
    # test_wand. The synthetic corpus is deliberately worst-case for
    # pruning — a ~50-term vocabulary where every doc scores near-max for
    # every head term — so the all-head-terms shape honestly prunes ~0
    # while the asymmetric and single-term shapes show the bounds doing
    # real work.
    # BENCH_WAND=0 skips the diagnostic (used by the scaling harness,
    # whose metric is build throughput — the three prune-stat probes
    # only add wall time at the 2-core N level)
    wand_stats = None
    if os.environ.get("BENCH_WAND", "1") == "1":
        from search_engine_spark.operators.wand import wand_prune_stats

        # local import: the batch block's identical import is skipped
        # when BENCH_BATCH=0
        from pyspark.sql import functions as F

        ts_rows = (
            engine.term_stats()
            .orderBy(F.desc("df"), F.asc("term"))
            .collect()
        )
        w_common, w_rare = ts_rows[0]["term"], ts_rows[-1]["term"]

        def plan(q: str) -> dict:
            st = wand_prune_stats(engine, q, k=10)
            total = max(1, st["blocks_total"])
            return {
                **st,
                "pruned_fraction": round(
                    1.0 - st["surviving_blocks"] / total, 4
                ),
                "global_pruned_fraction": round(
                    1.0 - st["global_surviving_blocks"] / total, 4
                ),
            }

        wand_stats = {
            "head_terms": plan("filter join window"),
            "asymmetric": plan(f"{w_common} {w_rare}"),
            "single_term": plan(w_common),
        }

    # two-cluster-size scaling evidence, measured separately by
    # tools/scaling_bench.py (1 vs 4 executor JVMs via spark-submit
    # --py-files, interleaved best-of reps) and recorded in BENCH.md
    scaling = None
    bench_md = Path(__file__).resolve().parent / "BENCH.md"
    if bench_md.exists():
        import re

        m = re.search(r"```json\n(\{.*?\})\n```", bench_md.read_text(), re.S)
        if m:
            try:
                s = json.loads(m.group(1))
                scaling = {
                    k: s[k]
                    for k in (
                        "throughput_turns_per_sec", "speedup", "efficiency",
                        "levels", "n_turns", "via", "commit", "measured_at",
                    )
                    if k in s
                }
                # the scaling run is a separate, slower harness — flag
                # (don't silently reuse) numbers measured on OLDER CODE
                # than what is being benchmarked right now. Stale means
                # engine/harness SOURCE changed since the recorded
                # commit; doc-only commits (BENCH.md itself, NOTES,
                # COVERAGE) cannot invalidate a measurement, and a plain
                # `commit != HEAD` test would mark every scaling run
                # stale forever — the commit that records the result in
                # BENCH.md necessarily moves HEAD past it.
                import subprocess

                repo = str(Path(__file__).resolve().parent)
                try:
                    changed = subprocess.run(
                        ["git", "-C", repo, "diff", "--name-only",
                         f"{scaling.get('commit')}..HEAD", "--",
                         "search_engine_spark", "tools", "bench.py",
                         "__spark_entry__.py"],
                        capture_output=True, text=True, check=True,
                    ).stdout.strip()
                    stale = bool(changed)
                except (OSError, subprocess.CalledProcessError):
                    # unknown provenance (no/unresolvable recorded
                    # commit) is reported as stale, never as current
                    changed, stale = None, True
                scaling["stale_vs_head"] = stale
                if stale and changed:
                    scaling["stale_source_files"] = changed.split("\n")[:8]
            except (ValueError, KeyError):
                scaling = None

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "index-build + top-k query suite (persisted index)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir.rstrip("/").split("sf")[-1],
        "detail": {
            "master": master,
            "n_turns": result.n_docs,
            "n_postings": result.n_postings,
            "build_turns_per_sec": round(result.n_docs / max(build_sec, 1e-9), 1),
            "build_all_runs_sec": [round(s, 3) for s in build_runs],
            "build_steal_pct": build_steal,
            "build_protocol": "discard first (cold JVM), median of rest",
            "build_reps": build_reps,
            "warm_sec": round(warm_sec, 3),
            "latency": lat_ms,
            "replicate": replicate,
            "segments": segments,
            "pin_docs": pin_docs,
            "serve_local": serve_stats,
            "batch_serving": batch_stats,
            "stream_serving": stream_stats,
            "wand_pruning": wand_stats,
            "scaling_n_vs_4n": scaling,
        },
    }
    if out_dir is None:
        shutil.rmtree(index_dir, ignore_errors=True)
    return out


def compact_summary(out: dict, detail_file: str | None) -> dict:
    """Driver-visible summary: the driver's artifact keeps only the TAIL
    of stdout (BENCH_r03.json captured 2000 chars of a multi-KB line and
    recorded ``parsed: null``), so the LAST stdout line must be a small,
    self-contained JSON — headline metric, per-query p50/p95, build
    best-of + all reps, batch/stream amortized ms/query, scaling
    efficiency + provenance commit. Bulky diagnostics (wand pruning
    plans, per-batch arrays) live in the sidecar ``detail_file``."""
    d = out["detail"]
    lat = d.get("latency") or {}
    summary: dict = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "queries": out["queries"],
        "detail": {
            "n_turns": d["n_turns"],
            "build_sec_median": out["queries"]["index_build"],
            "build_all_runs_sec": d["build_all_runs_sec"],
            "build_steal_pct": d.get("build_steal_pct"),
            "build_turns_per_sec": d["build_turns_per_sec"],
            "p95_ms": {q: v["p95_ms"] for q, v in lat.items()},
            "detail_file": detail_file,
        },
    }
    b = d.get("batch_serving")
    if b:
        summary["detail"]["batch_ms_per_q"] = {
            f"search_{b['n_queries']}": b["search_amortized_ms_per_query"],
            f"bm25_{b['n_queries']}": b["bm25_amortized_ms_per_query"],
        }
        lp = b.get("large_point")
        if lp:
            summary["detail"]["batch_ms_per_q"][
                f"search_{lp['n_queries']}"
            ] = lp["search_amortized_ms_per_query"]
            summary["detail"]["batch_ms_per_q"][
                f"bm25_{lp['n_queries']}"
            ] = lp["bm25_amortized_ms_per_query"]
    sv = d.get("serve_local")
    if sv:
        # compact keeps the pinned + reference-scale p50s (the parity
        # comparison); the cold_docs mode and p95s live in the sidecar
        summary["detail"]["serve_local_ms"] = {
            "pinned_p50": {
                q: v["p50_ms"] for q, v in sv["pinned"].items()
            },
            "open_sec": sv["open_sec"],
        }
        rs = sv.get("ref_scale")
        if rs:
            summary["detail"]["serve_local_ms"]["ref_scale_p50"] = {
                q: v["p50_ms"]
                for q, v in rs.items()
                if isinstance(v, dict)
            }
        ws = sv.get("wand_skew")
        if ws and "skipped" not in ws:
            summary["detail"]["wand_skew"] = {
                "pruned_fraction": ws["pruned_fraction"],
                "lossless": ws["lossless"],
                "wand_p50_ms": ws["wand_p50_ms"],
                "bm25_p50_ms": ws["exhaustive_bm25_p50_ms"],
            }
        flat = (sv.get("wand_stats") or {}).get("fallback")
        if flat is not None:
            summary["detail"]["flat_wand_fallback"] = flat
    s = d.get("stream_serving")
    if s:
        summary["detail"]["stream"] = {
            "qps": s["sustained_qps"],
            "steady_qps": s.get("steady_state_qps"),
            "ms_per_q": s["ms_per_query_end_to_end"],
            "steady_ms_per_q": s.get("steady_state_ms_per_query"),
            "n_queries": s["n_queries"],
        }
    sc = d.get("scaling_n_vs_4n")
    if sc:
        summary["detail"]["scaling_n_vs_4n"] = {
            "efficiency": sc.get("efficiency"),
            "speedup": sc.get("speedup"),
            "levels": sc.get("levels"),
            "stale_vs_head": sc.get("stale_vs_head"),
            "commit": (sc.get("commit") or "")[:12],
        }
    try:
        import subprocess

        summary["detail"]["commit"] = subprocess.run(
            ["git", "-C", str(Path(__file__).resolve().parent),
             "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, check=True,
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        pass
    # hard size guard: the driver tail-captures ~2000 chars — degrade by
    # dropping the least essential blocks rather than ever exceeding it
    # (steal%, the skew-WAND row and the fallback marker are the r05
    # evidence the artifact must carry, so they drop LAST)
    for drop in ("p95_ms", "stream", "batch_ms_per_q", "serve_local_ms",
                 "wand_skew", "build_steal_pct", "flat_wand_fallback"):
        if len(json.dumps(summary, separators=(",", ":"))) <= 1800:
            break
        summary["detail"].pop(drop, None)
    return summary


if __name__ == "__main__":
    result = run()
    if os.environ.get("BENCH_FULL_JSON") == "1":
        # full single-line JSON for in-process consumers that parse the
        # whole detail dict (tools/scaling_bench.py) — the DRIVER path
        # below stays compact because its artifact tail-truncates
        print(json.dumps(result))
    else:
        sidecar = Path(__file__).resolve().parent / "BENCH_DETAIL.json"
        try:
            sidecar.write_text(json.dumps(result, indent=1))
            detail_file = str(sidecar)
        except OSError:
            detail_file = None
        # ONE compact line, guaranteed last on stdout
        print(json.dumps(compact_summary(result, detail_file),
                         separators=(",", ":")))
