"""WAND pruning under a realistic (heavy-tailed) term distribution.

The default synthetic corpus has ~50 uniformly-hot terms — worst case
for block-max pruning, so the headline bench honestly reports ~0 pruned
blocks for all-head-term queries. This harness builds the SAME corpus
with the deterministic `tail_vocab` long-tail knob
(sources/transcripts.py) and reports, per mixed head+tail query shape,
the pruned-block fractions of the shared WAND plan
(operators/block_bounds.py), an equality check against exhaustive BM25
(the same losslessness pytest gates at small scale), the Spark WAND and
exhaustive wall seconds (median of 3 warm runs), and the serve tier's
p50 beside them.

Usage: python tools/wand_zipf_bench.py [sf_dir] [replicate] [tail_vocab]
Prints one JSON line; paste-able into BENCH.md.
"""

from __future__ import annotations

import json
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from search_engine_spark.config import (  # noqa: E402
    DEMO_STOP_WORDS,
    EngineConfig,
    ScoreWeights,
)
from search_engine_spark.operators.index_build import build_index  # noqa: E402
from search_engine_spark.operators.search import SearchEngine  # noqa: E402
from search_engine_spark.operators.wand import wand_prune_stats  # noqa: E402
from search_engine_spark.serving import LocalIndexReader  # noqa: E402
from search_engine_spark.session import get_spark  # noqa: E402
from search_engine_spark.sources.transcripts import (  # noqa: E402
    corpus_from_transcripts,
    synthesize_transcripts,
)


def main() -> dict:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    replicate = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    tail_vocab = int(sys.argv[3]) if len(sys.argv) > 3 else 1000

    spark = get_spark(master="local[16]")
    cfg = EngineConfig(stop_words=DEMO_STOP_WORDS, score_weights=ScoreWeights())
    tx = synthesize_transcripts(
        spark, f"{sf_dir}/documents.parquet",
        replicate=replicate, tail_vocab=tail_vocab,
    )
    idx = tempfile.mkdtemp(prefix="wand_zipf_")
    shutil.rmtree(idx, ignore_errors=True)
    res = build_index(
        spark, corpus_from_transcripts(tx), idx, config=cfg, segments=2
    )
    eng = SearchEngine(spark, idx, config=cfg)
    eng.warm(pin_docs=False)

    # query shapes over the skewed vocabulary: tail_1 is the hottest
    # tail term (~50% df), tail_20 mid (~0.2% df), tail_200 rare
    shapes = {
        "head_terms": "filter join window",
        "head_plus_mid_tail": "filter tail_20",
        "head_plus_rare_tail": "filter join tail_200",
        "two_tails": "tail_20 tail_200",
        "single_mid_tail": "tail_20",
    }
    def spark_rows(df) -> list:
        return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]

    def timed(run) -> tuple:
        got, secs = None, []
        for _ in range(3):
            t0 = time.perf_counter()
            got = run()
            secs.append(time.perf_counter() - t0)
        return got, round(statistics.median(secs), 3)

    def fraction(st: dict, key: str) -> float:
        return round(1.0 - st[key] / max(1, st["blocks_total"]), 4)

    reader = LocalIndexReader(idx, config=cfg, pin_postings=False)
    out = {"n_turns": res.n_docs, "tail_vocab": tail_vocab, "shapes": {}}
    for name, q in shapes.items():
        exact, exact_s = timed(
            lambda: spark_rows(eng.search_bm25(q, k=10))
        )
        pruned, wand_s = timed(
            lambda: spark_rows(eng.search_bm25(q, k=10, use_wand=True))
        )
        st = wand_prune_stats(eng, q, k=10)

        # serve tier (serving/local.py wand_topk): the same plan answered
        # in-process from block reads
        exact_pdf = reader.search_bm25(q, k=10)
        wand_pdf = reader.wand_topk(q, k=10)
        serve = dict(reader.last_wand_stats)
        samples = []
        for _ in range(20):
            tq = time.perf_counter()
            reader.wand_topk(q, k=10)
            samples.append(time.perf_counter() - tq)
        out["shapes"][name] = {
            "query": q,
            "lossless": exact == pruned,
            "blocks_total": st["blocks_total"],
            "pruned_fraction": fraction(st, "surviving_blocks"),
            "global_pruned_fraction": fraction(
                st, "global_surviving_blocks"
            ),
            "would_fallback": st["would_fallback"],
            "spark_wand_s": wand_s,
            "spark_exhaustive_s": exact_s,
            "serve_p50_ms": round(1000 * statistics.median(samples), 3),
            "serve_lossless": (
                list(exact_pdf["doc_id"]) == list(wand_pdf["doc_id"])
                and list(exact_pdf["score"]) == list(wand_pdf["score"])
            ),
            "serve_blocks_read": serve["blocks_read"],
            "serve_read_fraction": round(
                serve["blocks_read"] / max(1, serve["blocks_total"]), 4
            ),
        }
    shutil.rmtree(idx, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(json.dumps(main()))
