"""Serving-tier parity: LocalIndexReader (pyarrow, no Spark job in the
query path) must be row-, rank-, and score-identical to the Spark engine
paths over the same Spark-built index — parity search (reference suite
corpora), BM25 (bit-identical scores), tombstoned indexes, metadata
gates, and the unpinned (cold) read modes."""

import pyarrow.dataset as pads
import pyarrow.compute as pc
import pytest
from pyspark.sql import functions as F

from search_engine_spark.config import (
    DEMO_STOP_WORDS, EngineConfig, ScoreWeights,
)
from search_engine_spark.operators.block_bounds import empty_stats
from search_engine_spark.serving import LocalIndexReader
from search_engine_spark.serving.local import (
    BM25_COLUMNS, BM25_RESULT_COLUMNS,
)
from conftest import build_fixture_engine
from fixtures_data import CARL_MEMORY, RANK_HABER

CFG = EngineConfig(score_weights=ScoreWeights())

PARITY_QUERIES = [
    "gauss",
    "carl friedrich",
    '"carl friedrich"',
    '"carl friedrich" gauss',
    "Friedrich V",
    "mathematician",
    "no such words anywhere",
    "",
]


def spark_rows(df):
    return [
        (r["doc_id"], r["score"], r["title"], r["introduction"], r["url"])
        for r in df.collect()
    ]


def local_rows(pdf):
    return [tuple(t) for t in pdf.itertuples(index=False)]


@pytest.fixture(scope="module")
def carl(spark, tmp_path_factory):
    idx = tmp_path_factory.mktemp("carl_serve_idx")
    engine = build_fixture_engine(spark, CARL_MEMORY, idx, config=CFG)
    return engine, str(idx)


def test_parity_search_pinned(carl):
    engine, idx = carl
    reader = LocalIndexReader(idx, config=CFG, pin_docs=True)
    for q in PARITY_QUERIES:
        assert local_rows(reader.search(q)) == spark_rows(engine.search(q)), q


def test_parity_search_cold(carl):
    """pin_postings=False / pin_docs=False: every read is a pruned
    parquet scan — the beyond-node-RAM mode; identical results."""
    engine, idx = carl
    reader = LocalIndexReader(idx, config=CFG, pin_postings=False)
    for q in PARITY_QUERIES:
        assert local_rows(reader.search(q)) == spark_rows(engine.search(q)), q


def assert_bm25_equal(local, spark_r, ctx):
    """Rank-identical (doc_id, n_terms) and scores equal to within a few
    ULPs: the fold order matches the Spark aggregate exactly, but libm's
    log and the JVM's Math.log may differ by 1 ULP in the idf."""
    assert [(d, n) for d, _, n in local] == [(d, n) for d, _, n in spark_r], ctx
    for (_, ls, _), (_, ss, _) in zip(local, spark_r):
        assert ls == pytest.approx(ss, rel=1e-14), ctx


def test_bm25_rank_identical(carl):
    engine, idx = carl
    reader = LocalIndexReader(idx, config=CFG)
    for q, conj in [
        ("carl friedrich", False),
        ("carl friedrich", True),
        ("gauss mathematician prince", False),
        ("gauss mathematician prince", True),
        ("absentterm gauss", True),  # conjunctive w/ unknown term: empty
    ]:
        s = [
            (r["doc_id"], r["score"], r["n_terms"])
            for r in engine.search_bm25(q, k=10, conjunctive=conj).collect()
        ]
        l = [
            (int(r.doc_id), float(r.score), int(r.n_terms))
            for r in reader.search_bm25(q, k=10, conjunctive=conj).itertuples(
                index=False
            )
        ]
        assert_bm25_equal(l, s, (q, conj))


def test_bm25_with_results(carl):
    engine, idx = carl
    reader = LocalIndexReader(idx, config=CFG)
    q = "carl friedrich"
    s = [
        (r["doc_id"], r["score"], r["n_terms"], r["title"],
         r["introduction"], r["url"])
        for r in engine.search_bm25(q, k=5, with_results=True).collect()
    ]
    l = [
        (int(r.doc_id), float(r.score), int(r.n_terms), r.title,
         r.introduction, r.url)
        for r in reader.search_bm25(q, k=5, with_results=True).itertuples(
            index=False
        )
    ]
    assert [(t[0], *t[2:]) for t in l] == [(t[0], *t[2:]) for t in s]
    for lt, st in zip(l, s):
        assert lt[1] == pytest.approx(st[1], rel=1e-14)


def test_heuristic_scores_and_stop_words(spark, tmp_path):
    cfg = EngineConfig(
        stop_words=DEMO_STOP_WORDS,
        score_weights=ScoreWeights(
            title_exact_match=10, title_begins=5,
            title_contains_in_beginning=1, url_contains=1,
        ),
    )
    engine = build_fixture_engine(
        spark, RANK_HABER, tmp_path / "idx", config=cfg
    )
    reader = LocalIndexReader(str(tmp_path / "idx"), config=cfg)
    for q in ["process", "haber", "haber process", "the", ""]:
        assert local_rows(reader.search(q)) == spark_rows(engine.search(q)), q


def test_allowed_ids_matches_where(carl):
    """allowed_ids (serving-node precomputed filter frame) ≡ the Spark
    path's where= metadata gate: both apply BEFORE the intersection cap."""
    engine, idx = carl
    reader = LocalIndexReader(idx, config=CFG, pin_docs=True)
    pred = F.col("url").contains("Gauss")
    docs = pads.dataset(f"{idx}/docs", format="parquet", partitioning="hive")
    tbl = docs.to_table(columns=["doc_id", "url"])
    allowed = [
        int(i)
        for i, u in zip(tbl["doc_id"].to_pylist(), tbl["url"].to_pylist())
        if "Gauss" in u
    ]
    for q in ["carl friedrich", '"carl friedrich"', "gauss"]:
        assert local_rows(reader.search(q, allowed_ids=allowed)) == spark_rows(
            engine.search(q, where=pred)
        ), q


def test_tombstones_and_count(spark, tmp_path):
    from search_engine_spark.operators.deletes import delete_docs
    from search_engine_spark.operators.search import SearchEngine

    idx = tmp_path / "idx"
    engine = build_fixture_engine(spark, CARL_MEMORY, idx, config=CFG)
    top = engine.search('"carl friedrich"').collect()[0]
    delete_docs(spark, str(idx), doc_ids=[top["doc_id"]], config=CFG)
    engine2 = SearchEngine(spark, str(idx), config=CFG)  # fresh snapshot
    for pin in (True, False):
        reader = LocalIndexReader(str(idx), config=CFG, pin_postings=pin)
        assert reader.count() == engine2.count()
        for q in ['"carl friedrich"', "gauss", "carl friedrich gauss"]:
            assert local_rows(reader.search(q)) == spark_rows(
                engine2.search(q)
            ), (q, pin)
        s = [
            (r["doc_id"], r["score"], r["n_terms"])
            for r in engine2.search_bm25("carl friedrich", k=10).collect()
        ]
        l = [
            (int(r.doc_id), float(r.score), int(r.n_terms))
            for r in reader.search_bm25(
                "carl friedrich", k=10
            ).itertuples(index=False)
        ]
        assert_bm25_equal(l, s, pin)


def test_positions_cache_bound(carl):
    """Phrase serving memory stays bounded: the per-term positional LRU
    never exceeds its cap."""
    import search_engine_spark.serving.local as sl

    _, idx = carl
    reader = LocalIndexReader(idx, config=CFG)
    old = sl.POSITIONS_CACHE_TERMS
    sl.POSITIONS_CACHE_TERMS = 2
    try:
        for q in ['"carl friedrich"', '"friedrich gauss"', '"carl gauss"']:
            reader.search(q)
        assert len(reader._pos_cache) <= 2
    finally:
        sl.POSITIONS_CACHE_TERMS = old


def test_refuses_blocks_files_outside_segments(carl, tmp_path):
    """An index whose ``blocks/`` holds a ``part-*`` file beside the
    ``seg=`` directories (the layout older refresh/compaction cycles
    left behind) is refused at open and at refresh — pyarrow would read
    that file's postings a second time — and fleet shard views, which
    open through the same reader, inherit the refusal."""
    import shutil

    from search_engine_spark.serving.fleet import FleetReader, make_term_shards

    _, idx = carl
    copy = tmp_path / "idx"
    shutil.copytree(idx, copy)
    reader = LocalIndexReader(str(copy), config=CFG)
    seg_file = next((copy / "blocks").glob("seg=*/part-*.parquet"))
    shutil.copy(seg_file, copy / "blocks" / seg_file.name)
    with pytest.raises(ValueError, match="rebuild into a fresh directory"):
        LocalIndexReader(str(copy), config=CFG)
    with pytest.raises(ValueError, match="outside seg= directories"):
        reader.refresh(force=True)
    shards = make_term_shards(str(copy), str(tmp_path / "shards"), n_shards=1)
    with pytest.raises(ValueError, match="outside seg= directories"):
        FleetReader(shards, config=CFG)


BM25_RESULT_DTYPES = ["int64", "float64", "int64", "object", "object",
                      "object"]


def test_topk_cut_equals_full_ranking_prefix(carl):
    """Top-k by selection (the k-th score by partition, then a sort of
    the rows at or above it) returns exactly the first k rows of the
    full ranking, also where tied scores straddle the cut — for
    search_bm25 and for wand_topk (plain, conjunctive, allowed_ids)."""
    _, idx = carl
    reader = LocalIndexReader(idx, config=CFG)
    q, cut = "en wikipedia", 5
    full = local_rows(reader.search_bm25(q, k=1 << 30))
    n = len(full)
    assert full[cut - 1][1] == full[cut][1]  # a tie straddles the cut
    ks = [0, 1, cut - 1, cut, cut + 1, n - 1, n, n + 1, 1 << 30]
    for k in ks:
        assert local_rows(reader.search_bm25(q, k=k)) == full[:k], k
    # every doc but the top one and one of the docs tied at the cut
    allowed = [d for d, _, _ in full if d not in (full[0][0], full[cut][0])]
    fallbacks = set()
    for conj, allowed_ids in ((False, None), (True, None), (False, allowed)):
        want = local_rows(reader.search_bm25(
            q, k=1 << 30, conjunctive=conj, allowed_ids=allowed_ids))
        for k in ks:
            got = local_rows(reader.wand_topk(
                q, k=k, conjunctive=conj, allowed_ids=allowed_ids))
            assert got == want[:k], (conj, allowed_ids is not None, k)
            fallbacks.add(reader.last_wand_stats["fallback"])
    assert None in fallbacks  # some cuts were ranked from pruned blocks
    for answer in (reader.search_bm25, reader.wand_topk):
        for k in (cut, 1 << 30):
            got = answer(q, k=k, with_results=True)
            assert [str(t) for t in got.dtypes] == BM25_RESULT_DTYPES
            assert [r[:3] for r in local_rows(got)] == full[:k], k


def test_negative_k_refused_and_zero_k_empty(carl):
    """k < 0 raises, as Spark's ``limit`` does (the serve tier used to
    return every row but |k|); k = 0 is the empty frame, and wand_topk
    returns it before planning."""
    _, idx = carl
    reader = LocalIndexReader(idx, config=CFG)
    for answer in (reader.search_bm25, reader.wand_topk):
        with pytest.raises(ValueError, match="k must be >= 0"):
            answer("en wikipedia", k=-1)
        for with_results, cols in ((False, BM25_COLUMNS),
                                   (True, BM25_RESULT_COLUMNS)):
            out = answer("en wikipedia", k=0, with_results=with_results)
            assert out.empty and list(out.columns) == cols
    assert reader.last_wand_stats == empty_stats()
