"""Segment compaction: many log-structured segments merge into one
range-laid segment with ZERO observable change to query results — the
read-side invariant Iceberg-style rewrites must keep. Also covers the
commit protocol: a crash after staging is completed idempotently by the
next run (same redo contract as the build's resume test).
"""

import json
import os

import numpy as np
import pytest

from pyspark.sql import functions as F

from search_engine_spark import fsio
from search_engine_spark.config import (
    DEMO_STOP_WORDS,
    EngineConfig,
    ScoreWeights,
)
from search_engine_spark.operators.compaction import (
    _segments,
    compact_index,
)
from search_engine_spark.operators.index_build import (
    build_index,
    read_manifest,
    stop_word_filter,
)
from search_engine_spark.operators.search import SearchEngine
from search_engine_spark.operators.wand import wand_topk
from search_engine_spark.sources.transcripts import (
    corpus_from_transcripts,
    synthesize_transcripts,
)
from search_engine_spark.streaming.incremental import append_batch, refresh_stats

SF_DIR = "/root/testdata/sf0.001"
QUERIES = ["the government of", "war", '"in the" city']


def _corpus(spark):
    tx = synthesize_transcripts(spark, f"{SF_DIR}/documents.parquet")
    return corpus_from_transcripts(tx)


def _snapshot(engine):
    out = {}
    for q in QUERIES:
        out[f"search:{q}"] = [
            (r["url"], r["introduction"]) for r in engine.search(q).collect()
        ]
        out[f"bm25:{q}"] = [
            (r["doc_id"], round(r["score"], 9))
            for r in engine.search_bm25(q.replace('"', ""), k=10).collect()
        ]
    out["wand"] = [
        (r["doc_id"], round(r["score"], 9))
        for r in wand_topk(engine, "government war", k=10).collect()
    ]
    out["count"] = engine.count()
    return out


@pytest.fixture(scope="module")
def multi_seg_index(spark, tmp_path_factory):
    """A 3-batch-segment index plus one streamed append — 4 segments."""
    cfg = EngineConfig(stop_words=DEMO_STOP_WORDS)
    idx = str(tmp_path_factory.mktemp("compact_idx") / "index")
    corpus = _corpus(spark).persist()
    head = corpus.filter("turn_idx < 6")
    tail = corpus.filter("turn_idx >= 6")
    build_index(spark, head, idx, config=cfg, segments=3)
    n = append_batch(spark, tail, idx, "stream0", config=cfg)
    assert n > 0
    refresh_stats(spark, idx, config=cfg)
    corpus.unpersist()
    return idx, cfg


def test_compact_preserves_results_and_merges_segments(
    spark, multi_seg_index
):
    idx, cfg = multi_seg_index
    engine = SearchEngine(spark, idx, config=cfg)
    before = _snapshot(engine)
    stats_before = sorted(
        tuple(r) for r in engine.term_stats().collect()
    )
    assert len(_segments(idx, "blocks")) == 4

    res = compact_index(spark, idx, config=cfg)
    assert res.compacted and res.label == "c0"
    assert sorted(res.replaced) == sorted(
        ["seg=0", "seg=1", "seg=2", "seg=stream0"]
    )
    for table in ("docs", "term_positions", "blocks"):
        assert _segments(idx, table) == ["seg=c0"], table
    assert not fsio.exists(f"{idx}/_compact_staging")

    # fresh engine over the compacted index: bit-identical results
    engine2 = SearchEngine(spark, idx, config=cfg)
    assert _snapshot(engine2) == before
    assert sorted(tuple(r) for r in engine2.term_stats().collect()) == (
        stats_before
    )

    entries = [e for e in read_manifest(idx) if e["stage"] == "compact"]
    assert len(entries) == 1 and entries[0]["ok"]
    assert entries[0]["n_postings"] == res.n_postings > 0
    assert entries[0]["bytes_after"] > 0

    # idempotent: single segment -> no-op, no new lineage entry
    res2 = compact_index(spark, idx, config=cfg)
    assert not res2.compacted
    assert len(
        [e for e in read_manifest(idx) if e["stage"] == "compact"]
    ) == 1


def test_compact_if_needed_policy(spark, tmp_path):
    """The streaming-ingest compaction policy: below the segment
    threshold it is a no-op; correctness debts (pending tombstones)
    force a run regardless; above the threshold it compacts."""
    from search_engine_spark.operators.compaction import compact_if_needed
    from search_engine_spark.operators.deletes import (
        delete_docs,
        read_tombstones,
    )

    cfg = EngineConfig(stop_words=DEMO_STOP_WORDS)
    idx = str(tmp_path / "index")
    build_index(spark, _corpus(spark), idx, config=cfg, segments=3)

    # 3 segments <= threshold 4 -> layout is fine, nothing runs
    assert not compact_if_needed(spark, idx, max_segments=4, config=cfg).compacted
    assert len(_segments(idx, "blocks")) == 3

    # a pending tombstone is a correctness debt -> runs despite threshold
    victim = SearchEngine(spark, idx, config=cfg).search("window").collect()[0]
    assert delete_docs(spark, idx, urls=[victim["url"]]) == 1
    assert compact_if_needed(spark, idx, max_segments=4, config=cfg).compacted
    assert read_tombstones(spark, idx) is None
    assert len(_segments(idx, "blocks")) == 1

    # grow past the threshold -> compacts on count alone
    corpus = _corpus(spark)
    assert append_batch(
        spark, corpus.filter("turn_idx >= 6"), idx, "sA", config=cfg
    ) > 0
    assert not compact_if_needed(spark, idx, max_segments=2, config=cfg).compacted
    assert append_batch(
        spark, corpus.filter("turn_idx = 5"), idx, "sB", config=cfg
    ) > 0
    assert len(_segments(idx, "blocks")) == 3
    assert compact_if_needed(spark, idx, max_segments=2, config=cfg).compacted
    assert len(_segments(idx, "blocks")) == 1


def test_compact_crash_after_staging_resumes(spark, tmp_path):
    cfg = EngineConfig(stop_words=DEMO_STOP_WORDS)
    idx = str(tmp_path / "index")
    build_index(spark, _corpus(spark), idx, config=cfg, segments=3)
    engine = SearchEngine(spark, idx, config=cfg)
    before = _snapshot(engine)

    with pytest.raises(RuntimeError, match="injected failure"):
        compact_index(spark, idx, config=cfg, fail_after_staging=True)
    # marker exists; live segments untouched (crash hit the window
    # BEFORE any swap step)
    marker = json.loads(
        fsio.read_text(f"{idx}/_compact_staging/_STAGED.json")
    )
    assert marker["label"] == "c0"
    assert len(_segments(idx, "blocks")) == 3

    # rerun completes the swap from the marker without restaging
    res = compact_index(spark, idx, config=cfg)
    assert res.compacted and res.label == "c0"
    assert _segments(idx, "blocks") == ["seg=c0"]
    engine2 = SearchEngine(spark, idx, config=cfg)
    assert _snapshot(engine2) == before


def test_append_refresh_compact_leaves_one_block_copy(spark, tmp_path):
    """append_batch -> delete_docs -> refresh_stats -> compact_index
    (the order stream_build(auto_compact_segments=...) and an ingest
    loop run) must leave every live posting in exactly one block: the
    blocks table holds only the compacted segment, the postings its
    files hold (all of them, as the serve tier reads them) are exactly
    the non-stop term_positions rows, and serve-tier WAND still equals
    exhaustive BM25 on a query that prunes. Blocks written outside the
    segment directories would survive compaction beside seg=c0 and be
    read twice."""
    import pyarrow.dataset as pads

    from search_engine_spark.operators.deletes import delete_docs
    from search_engine_spark.serving import LocalIndexReader

    cfg = EngineConfig(
        stop_words=DEMO_STOP_WORDS, score_weights=ScoreWeights(),
        block_size=64,
    )
    tx = synthesize_transcripts(
        spark, f"{SF_DIR}/documents.parquet", replicate=8, tail_vocab=400,
    )
    corpus = corpus_from_transcripts(tx)
    idx = str(tmp_path / "index")
    build_index(spark, corpus.filter("turn_idx < 6"), idx, config=cfg,
                segments=2)
    assert append_batch(
        spark, corpus.filter("turn_idx >= 6"), idx, "s0", config=cfg
    ) > 0
    assert delete_docs(
        spark, idx, doc_ids=list(range(1, 3000, 7)), config=cfg
    ) > 0
    refresh_stats(spark, idx, config=cfg)
    assert compact_index(spark, idx, config=cfg).compacted

    assert sorted(os.listdir(os.path.join(idx, "blocks"))) == ["seg=c0"]
    n_blocked = sum(
        pads.dataset(f"{idx}/blocks", format="parquet",
                     partitioning="hive").to_table(columns=["n"])["n"]
        .to_pylist()
    )
    n_nonstop = spark.read.parquet(f"{idx}/term_positions").filter(
        stop_word_filter(F.col("term"), cfg.stop_words)).count()
    assert n_blocked == n_nonstop

    reader = LocalIndexReader(idx, config=cfg, pin_postings=False)
    dfm = sorted(reader._df_map.items(), key=lambda kv: (-kv[1], kv[0]))
    q = f"{dfm[0][0]} {dfm[-1][0]}"
    want = reader.search_bm25(q, k=10)
    got = reader.wand_topk(q, k=10)
    s = reader.last_wand_stats
    assert s["surviving_blocks"] < s["blocks_total"], s
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert np.array_equal(
        got["score"].to_numpy(dtype="float64"),
        want["score"].to_numpy(dtype="float64"),
    )
