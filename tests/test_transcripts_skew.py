"""The tail_vocab knob: deterministic heavy-tailed term distribution.

Default off must leave the synthesis byte-identical (the strict DuckDB
oracle `transcripts_synth` covers the default path; here we assert the
structural invariants), and the skewed corpus must (a) show the
heavy-tail df ordering, (b) keep every WAND path lossless, (c) never let
the range-aware bound prune fewer blocks than the global bound.
"""

import pytest

from pyspark.sql import functions as F

from search_engine_spark.config import DEMO_STOP_WORDS, EngineConfig
from search_engine_spark.operators.index_build import build_index
from search_engine_spark.operators.search import SearchEngine
from search_engine_spark.sources.transcripts import (
    corpus_from_transcripts,
    synthesize_transcripts,
)

SF_DIR = "/root/testdata/sf0.001"


def test_default_has_no_tail_terms(spark):
    tx = synthesize_transcripts(spark, f"{SF_DIR}/documents.parquet")
    assert tx.filter(F.col("text").contains("tail_")).count() == 0


def test_tail_vocab_off_matches_default(spark):
    """tail_vocab=0 must be the identity — same rows as no knob at all."""
    a = synthesize_transcripts(spark, f"{SF_DIR}/documents.parquet")
    b = synthesize_transcripts(
        spark, f"{SF_DIR}/documents.parquet", tail_vocab=0
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_tail_df_is_heavy_tailed(spark):
    tx = synthesize_transcripts(
        spark, f"{SF_DIR}/documents.parquet", tail_vocab=100
    )
    df = (
        tx.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w").startswith("tail_"))
        .groupBy("w")
        .count()
        .collect()
    )
    counts = {r["w"]: r["count"] for r in df}
    assert counts["tail_1"] > counts.get("tail_3", 0) > counts.get(
        "tail_20", 0
    ), counts
    # every turn got exactly one tail token
    assert sum(counts.values()) == tx.count()


@pytest.fixture(scope="module")
def skewed_engine(spark, tmp_path_factory):
    cfg = EngineConfig(stop_words=DEMO_STOP_WORDS)
    idx = tmp_path_factory.mktemp("skew_idx")
    tx = synthesize_transcripts(
        spark, f"{SF_DIR}/documents.parquet", replicate=8, tail_vocab=100
    )
    build_index(
        spark, corpus_from_transcripts(tx), str(idx), config=cfg, segments=2
    )
    return SearchEngine(spark, str(idx), config=cfg)


@pytest.mark.parametrize(
    "query",
    ["filter tail_3", "filter join tail_20", "tail_1 window", "tail_3"],
)
def test_wand_lossless_and_no_looser_on_skewed_corpus(skewed_engine, query):
    from search_engine_spark.operators.wand import (
        wand_prune_stats,
        wand_topk,
    )

    def rows(df):
        return [
            (r["doc_id"], round(r["score"], 9), r["n_terms"])
            for r in df.collect()
        ]

    exact = rows(skewed_engine.search_bm25(query, k=10))
    assert rows(wand_topk(skewed_engine, query, k=10)) == exact

    stats = wand_prune_stats(skewed_engine, query, k=10)
    assert stats["surviving_blocks"] <= stats["global_surviving_blocks"], \
        stats


def test_tail_stride_one_is_identity(spark):
    """tail_stride=1 must be byte-identical to the plain tail_vocab
    output (the default path's strict oracle still covers stride-free
    synthesis)."""
    a = synthesize_transcripts(
        spark, f"{SF_DIR}/documents.parquet", tail_vocab=100
    )
    b = synthesize_transcripts(
        spark, f"{SF_DIR}/documents.parquet", tail_vocab=100,
        tail_stride=1,
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_clustered_tail_prunes_blocks_at_serve_time(spark, tmp_path):
    """The headline skew-bench shape: tail_stride clustering + an
    event-time-ordered build give tail terms narrow doc-id ranges, and
    serve-tier WAND must prune a large block fraction (>= 0.2, the
    driver-artifact bar) while staying bitwise lossless. With stride=1
    (uniform residues) the same query prunes ~nothing — both regimes
    asserted so the bench row's meaning is pinned."""
    from search_engine_spark.serving import LocalIndexReader

    def build(stride):
        tx = synthesize_transcripts(
            spark, f"{SF_DIR}/documents.parquet", replicate=8,
            tail_vocab=200, tail_stride=stride,
        )
        idx = str(tmp_path / f"stride{stride}")
        build_index(
            spark, corpus_from_transcripts(tx), idx,
            config=EngineConfig(stop_words=DEMO_STOP_WORDS,
                                block_size=64),
            segments=2, order_cols=("ts", "conv_id", "turn_idx"),
        )
        return LocalIndexReader(
            idx,
            config=EngineConfig(stop_words=DEMO_STOP_WORDS,
                                block_size=64),
            pin_postings=False,
        )

    def probe(reader):
        dfm = sorted(
            reader._df_map.items(), key=lambda kv: (-kv[1], kv[0])
        )
        head = dfm[0][0]
        tail_by_df = sorted(
            (df, t) for t, df in reader._df_map.items()
            if t.startswith("tail_")
        )
        tail = next(
            (t for df, t in tail_by_df if df >= 100), tail_by_df[-1][1]
        )
        q = f"{head} {tail}"
        exact = reader.search_bm25(q, k=10)
        wand = reader.wand_topk(q, k=10)
        assert list(exact["doc_id"]) == list(wand["doc_id"]), q
        assert list(exact["score"]) == list(wand["score"]), q
        st = reader.last_wand_stats
        return 1.0 - st["surviving_blocks"] / max(1, st["blocks_total"])

    clustered = probe(build(64))
    assert clustered >= 0.2, clustered
