"""Document deletion lifecycle (operators/deletes.py):

- tombstones mask deleted docs from EVERY query path immediately
  (parity search cold + warmed, BM25, WAND) with no table rewrite;
- deletes are idempotent and by-url or by-doc_id;
- compaction applies tombstones physically: rows gone from all tables,
  corpus_stats/term_stats refreshed, tombstone files cleared;
- doc ids of deleted-then-compacted docs are never reused by a later
  streamed append (manifest high-water mark).
"""

import pytest

from search_engine_spark import fsio
from search_engine_spark.config import DEMO_STOP_WORDS, EngineConfig
from search_engine_spark.operators.compaction import compact_index
from search_engine_spark.operators.deletes import (
    delete_docs,
    read_tombstones,
)
from search_engine_spark.operators.index_build import build_index, read_manifest
from search_engine_spark.operators.search import SearchEngine
from search_engine_spark.operators.wand import wand_topk
from search_engine_spark.sources.transcripts import (
    corpus_from_transcripts,
    synthesize_transcripts,
)
from search_engine_spark.streaming.incremental import append_batch

SF_DIR = "/root/testdata/sf0.001"
QUERY = "window"


def _corpus(spark):
    tx = synthesize_transcripts(spark, f"{SF_DIR}/documents.parquet")
    return corpus_from_transcripts(tx)


@pytest.fixture()
def index(spark, tmp_path):
    cfg = EngineConfig(stop_words=DEMO_STOP_WORDS)
    idx = str(tmp_path / "index")
    build_index(spark, _corpus(spark), idx, config=cfg, segments=2)
    return idx, cfg


def _result_ids(engine, query=QUERY):
    return {r["doc_id"] for r in engine.search(query).collect()}


def test_delete_masks_every_query_path(spark, index):
    idx, cfg = index
    engine = SearchEngine(spark, idx, config=cfg)
    n_before = engine.count()
    hits = engine.search(QUERY).collect()
    assert hits
    victim_id, victim_url = hits[0]["doc_id"], hits[0]["url"]

    assert delete_docs(spark, idx, urls=[victim_url]) == 1
    # idempotent: same url again, and a never-existing one, add nothing
    assert delete_docs(spark, idx, urls=[victim_url, "no-such-url"]) == 0

    fresh = SearchEngine(spark, idx, config=cfg)
    assert victim_id not in _result_ids(fresh)
    assert fresh.count() == n_before - 1
    assert victim_id not in {
        r["doc_id"] for r in fresh.search_bm25(QUERY, k=100).collect()
    }
    assert victim_id not in {
        r["doc_id"] for r in wand_topk(fresh, QUERY, k=100).collect()
    }
    # a fresh warm pins the post-delete snapshot: the fused single-job
    # path masks too
    fresh.warm(pin_docs=True)
    assert victim_id not in _result_ids(fresh)
    # the pre-delete engine's FIRST warm pins its init-time snapshot
    # (documented contract: warm serves the snapshot it warmed) — the
    # victim is still visible; a RE-warm re-lists files and tombstones
    # and advances past the delete
    engine.warm(pin_docs=True)
    assert victim_id in _result_ids(engine)
    engine.warm(pin_docs=True)
    assert victim_id not in _result_ids(engine)

    # lineage records the delete
    assert any(
        e["stage"] == "delete" and e["n_deleted"] == 1
        for e in read_manifest(idx)
    )


def test_compaction_applies_tombstones_physically(spark, index):
    idx, cfg = index
    engine = SearchEngine(spark, idx, config=cfg)
    n_before = engine.count()
    hits = engine.search(QUERY).collect()
    assert len(hits) >= 2
    by_url, by_id = hits[0]["url"], hits[1]["doc_id"]

    assert delete_docs(spark, idx, urls=[by_url]) == 1
    assert delete_docs(spark, idx, doc_ids=[by_id]) == 1
    masked = SearchEngine(spark, idx, config=cfg)
    # parity-path results are stats-independent -> must survive the
    # rewrite bit-identically
    want = [
        (r["url"], r["introduction"]) for r in masked.search(QUERY).collect()
    ]

    res = compact_index(spark, idx, config=cfg)
    assert res.compacted
    assert read_tombstones(spark, idx) is None

    after = SearchEngine(spark, idx, config=cfg)
    assert [
        (r["url"], r["introduction"]) for r in after.search(QUERY).collect()
    ] == want
    assert after.count() == n_before - 2
    # physically gone + stats refreshed, not just masked
    assert int(after.corpus_stats["n_docs"]) == n_before - 2
    docs = spark.read.parquet(f"{idx}/docs")
    assert docs.filter(docs.doc_id.isin([hits[0]["doc_id"], by_id])).count() == 0
    assert docs.count() == n_before - 2
    # BM25 over refreshed stats still agrees with WAND (pruning bounds
    # rebuilt against the recomputed avgdl)
    bm = [
        (r["doc_id"], round(r["score"], 9))
        for r in after.search_bm25(QUERY, k=10).collect()
    ]
    wd = [
        (r["doc_id"], round(r["score"], 9))
        for r in wand_topk(after, QUERY, k=10).collect()
    ]
    assert bm == wd

    entry = next(e for e in read_manifest(idx) if e["stage"] == "compact")
    assert entry["n_tombstone_files_applied"] >= 1

    # a pure no-op now: one segment, no pending tombstones
    assert not compact_index(spark, idx, config=cfg).compacted


def test_deleted_doc_ids_are_never_reused(spark, tmp_path):
    cfg = EngineConfig(stop_words=DEMO_STOP_WORDS)
    idx = str(tmp_path / "index")
    corpus = _corpus(spark).persist()
    build_index(
        spark, corpus.filter("turn_idx < 6"), idx, config=cfg, segments=2
    )
    docs = spark.read.parquet(f"{idx}/docs")
    hwm = docs.agg({"doc_id": "max"}).first()[0]

    # delete the NEWEST doc, compact it away -> physical max shrinks
    assert delete_docs(spark, idx, doc_ids=[hwm]) == 1
    assert compact_index(spark, idx, config=cfg).compacted
    assert (
        spark.read.parquet(f"{idx}/docs").agg({"doc_id": "max"}).first()[0]
        < hwm
    )

    n = append_batch(
        spark, corpus.filter("turn_idx >= 6"), idx, "s0", config=cfg
    )
    corpus.unpersist()
    assert n > 0
    appended_min = (
        spark.read.parquet(f"{idx}/docs/seg=s0")
        .agg({"doc_id": "min"})
        .first()[0]
    )
    assert appended_min == hwm + 1  # dead id not recycled


def test_no_match_delete_leaves_no_tombstones(spark, index):
    """A delete matching nothing must not create tombstone files — an
    empty part file would read as a pending backlog and force the
    compaction policy to rewrite the index forever."""
    from search_engine_spark.operators.compaction import compact_if_needed

    idx, cfg = index
    assert delete_docs(spark, idx, urls=["no-such"], doc_ids=[10**12]) == 0
    assert read_tombstones(spark, idx) is None
    assert not compact_if_needed(spark, idx, max_segments=8, config=cfg).compacted


def test_masked_scan_keeps_term_pushdown(spark, index):
    """The tombstone anti-join must not cost the blocks scan its pushed
    term IN-list — Catalyst pushes the query's term filter below the
    left-anti join and the block decode to the scan, so a 100 TB posting
    store is still pruned to the query-term slivers with deletes
    pending."""
    idx, cfg = index
    engine = SearchEngine(spark, idx, config=cfg)
    victim = engine.search(QUERY).collect()[0]
    assert delete_docs(spark, idx, urls=[victim["url"]]) == 1

    fresh = SearchEngine(spark, idx, config=cfg)
    df = fresh.candidates(["window", "merge"], [], ["window", "merge"])
    qe = df._jdf.queryExecution()
    plan = qe.toString() + "\n" + qe.executedPlan().toString()
    assert any(
        "FileScan" in ln and "doc_deltas" in ln and "In(term" in ln
        for ln in plan.splitlines()
    ), plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "BatchEvalPython" not in plan


def test_delete_then_crash_compaction_still_applies(spark, index):
    idx, cfg = index
    engine = SearchEngine(spark, idx, config=cfg)
    victim = engine.search(QUERY).collect()[0]
    assert delete_docs(spark, idx, urls=[victim["url"]]) == 1

    with pytest.raises(RuntimeError, match="injected failure"):
        compact_index(spark, idx, config=cfg, fail_after_staging=True)
    # crash inside the commit window: tombstone files still present
    assert read_tombstones(spark, idx) is not None

    res = compact_index(spark, idx, config=cfg)  # completes from marker
    assert res.compacted
    assert read_tombstones(spark, idx) is None
    after = SearchEngine(spark, idx, config=cfg)
    assert victim["doc_id"] not in _result_ids(after)
    assert not fsio.exists(f"{idx}/_compact_staging")
