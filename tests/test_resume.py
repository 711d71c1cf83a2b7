"""Resumable build: kill mid-build, rerun, index identical to a clean build.

Scale-up of the reference's `last-url` checkpoint + skippingMode replay
(/root/reference/src/demo.ts:112-131,151-153) to per-segment lineage: the
manifest records completed stages/segments; a rerun skips them and the
final index content is identical to an uninterrupted build.
"""

import pytest

from search_engine_spark.config import DEMO_STOP_WORDS, EngineConfig
from search_engine_spark.operators.index_build import (
    build_index,
    decode_blocks,
    read_manifest,
)
from search_engine_spark.operators.search import SearchEngine
from search_engine_spark.sources.transcripts import (
    corpus_from_transcripts,
    synthesize_transcripts,
)

SF_DIR = "/root/testdata/sf0.001"


def _corpus(spark):
    tx = synthesize_transcripts(spark, f"{SF_DIR}/documents.parquet")
    return corpus_from_transcripts(tx)


def _table_rows(spark, path, order_cols):
    df = spark.read.parquet(path)
    return [tuple(r) for r in df.orderBy(*order_cols).collect()]


def test_kill_rerun_identical(spark, tmp_path):
    cfg = EngineConfig(stop_words=DEMO_STOP_WORDS)
    corpus = _corpus(spark)

    clean_dir = str(tmp_path / "clean")
    build_index(spark, corpus, clean_dir, config=cfg, segments=3)

    crash_dir = str(tmp_path / "crashed")
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(
            spark, corpus, crash_dir, config=cfg, segments=3,
            fail_after_segment=0,
        )
    # only segment 0 completed before the crash
    m = read_manifest(crash_dir)
    done = [e["segment"] for e in m if e["stage"] == "segment" and e["ok"]]
    assert done == [0]

    result = build_index(spark, corpus, crash_dir, config=cfg, segments=3)
    assert result.n_docs == 500

    # rerun did NOT redo segment 0 (manifest has each segment exactly once)
    m = read_manifest(crash_dir)
    segs = sorted(e["segment"] for e in m if e["stage"] == "segment" and e["ok"])
    assert segs == [0, 1, 2]
    assert len([e for e in m if e["stage"] == "docs"]) == 1

    # index content identical to the uninterrupted build; postings are
    # compared decoded, since where a range partition boundary cuts a
    # term's blocks follows the sampled layout, not the content
    def postings(d):
        p = decode_blocks(spark.read.parquet(f"{d}/blocks"))
        return [tuple(r) for r in p.orderBy("term", "doc_id").collect()]

    assert postings(crash_dir) == postings(clean_dir)
    for table, order in [
        ("term_stats", ("term",)),
        ("docs", ("doc_id",)),
    ]:
        assert _table_rows(spark, f"{crash_dir}/{table}", order) == _table_rows(
            spark, f"{clean_dir}/{table}", order
        ), table

    # per-segment lineage metrics recorded (north rule: postings/sec, bytes)
    for e in m:
        if e["stage"] == "segment":
            assert e["postings_per_sec"] > 0
            assert e["bytes"] > 0
            assert e["doc_id_range"][0] < e["doc_id_range"][1]

    # and the two engines answer identically
    a = SearchEngine(spark, clean_dir, config=cfg)
    b = SearchEngine(spark, crash_dir, config=cfg)
    qa = [tuple(r) for r in a.search_bm25("filter join window", k=10).collect()]
    qb = [tuple(r) for r in b.search_bm25("filter join window", k=10).collect()]
    assert qa == qb
