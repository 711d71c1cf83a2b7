"""Metadata-filtered ranked retrieval (where=) and the user-facing result
projection (with_results=) on the BM25/WAND scale path.

The reference's user-facing result is {title, introduction, url}
(/root/reference/src/engine.ts:141-150, src/@types/index.d.ts:18-22); the
parity search() path has always projected it, these tests pin the same
contract onto the ranked path a large-corpus user would actually serve
from — plus the filter semantics: where= gates candidates BEFORE the
top-k (fill k from the filtered set, full-corpus statistics).
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

QUERIES = ["filter join window", "table scan merge", "spark"]


def role_pred():
    # built lazily — a Column literal at module scope would need an
    # active SparkContext at collection time
    return F.col("title").startswith("assistant:")


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    cfg = EngineConfig(stop_words=DEMO_STOP_WORDS)
    idx = tmp_path_factory.mktemp("rankedf_idx")
    tx = synthesize_transcripts(spark, f"{SF_DIR}/documents.parquet")
    build_index(
        spark, corpus_from_transcripts(tx), str(idx), config=cfg, segments=2
    )
    return SearchEngine(spark, str(idx), config=cfg)


@pytest.fixture(scope="module")
def warm_engine(spark, tmp_path_factory):
    cfg = EngineConfig(stop_words=DEMO_STOP_WORDS)
    idx = tmp_path_factory.mktemp("rankedf_warm_idx")
    tx = synthesize_transcripts(spark, f"{SF_DIR}/documents.parquet")
    build_index(
        spark, corpus_from_transcripts(tx), str(idx), config=cfg, segments=2
    )
    return SearchEngine(spark, str(idx), config=cfg).warm()


def rows(df):
    return [
        (r["doc_id"], round(r["score"], 9), r["n_terms"]) for r in df.collect()
    ]


def brute_force_filtered(engine, query, k, conjunctive=False):
    """Oracle: unfiltered BM25 over ALL docs (k=corpus size), then apply
    the metadata filter and slice k — scores must keep full-corpus
    stats, so the filter may only ever REMOVE rows from the exhaustive
    ranking."""
    allowed = {
        r["doc_id"]
        for r in engine.docs.filter(role_pred()).select("doc_id").collect()
    }
    full = engine.search_bm25(query, k=100000, conjunctive=conjunctive)
    kept = [t for t in rows(full) if t[0] in allowed]
    return kept[:k]


@pytest.mark.parametrize("query", QUERIES)
def test_filtered_bm25_matches_brute_force(engine, query):
    got = rows(engine.search_bm25(query, k=10, where=role_pred()))
    assert got == brute_force_filtered(engine, query, 10)
    assert got  # the filtered set is non-trivial on this corpus


@pytest.mark.parametrize("query", QUERIES)
def test_filtered_wand_matches_filtered_bm25(engine, query):
    exact = rows(engine.search_bm25(query, k=10, where=role_pred()))
    pruned = rows(
        engine.search_bm25(query, k=10, where=role_pred(), use_wand=True)
    )
    assert pruned == exact


def test_filtered_bm25_warm_matches_cold(engine, warm_engine):
    q = QUERIES[0]
    cold = rows(engine.search_bm25(q, k=10, where=role_pred()))
    warm = rows(warm_engine.search_bm25(q, k=10, where=role_pred()))
    assert warm == cold
    warm_w = rows(
        warm_engine.search_bm25(q, k=10, where=role_pred(), use_wand=True)
    )
    assert warm_w == cold


def test_filtered_fills_k_from_filtered_set(engine):
    """The gate sits BEFORE the top-k: filtered results are NOT simply
    the unfiltered top-k minus non-matching rows when the unfiltered
    head is dominated by other roles."""
    q = QUERIES[0]
    unfiltered = rows(engine.search_bm25(q, k=10))
    filtered = rows(engine.search_bm25(q, k=10, where=role_pred()))
    assert len(filtered) == 10
    # every filtered hit satisfies the predicate
    ids = [t[0] for t in filtered]
    titles = {
        r["doc_id"]: r["title"]
        for r in engine.docs.filter(F.col("doc_id").isin(ids)).collect()
    }
    assert all(titles[i].startswith("assistant:") for i in ids)
    # and at least one is a doc the unfiltered top-10 didn't surface
    assert set(ids) - {t[0] for t in unfiltered}


def check_projection(e, query, use_wand=False, where=None):
    bare = rows(e.search_bm25(query, k=10, use_wand=use_wand, where=where))
    proj = e.search_bm25(
        query, k=10, use_wand=use_wand, where=where, with_results=True
    ).collect()
    # same ranking, same scores
    assert [(r["doc_id"], round(r["score"], 9), r["n_terms"]) for r in proj] \
        == bare
    # title/url consistent with the docs table (the search() fetch source)
    ids = [r["doc_id"] for r in proj]
    meta = {
        r["doc_id"]: (r["title"], r["url"])
        for r in e.docs.filter(F.col("doc_id").isin(ids)).collect()
    }
    for r in proj:
        assert (r["title"], r["url"]) == meta[r["doc_id"]]
    # introduction comes from the same snippet builder as search():
    # recompute driver-side per doc and compare verbatim
    from search_engine_spark.functions.tokenizer import tokenize
    from search_engine_spark.operators.snippets import construct_introduction

    words, quotes = tokenize(query)
    page_words = {
        r["doc_id"]: r["words"]
        for r in e.docs.filter(F.col("doc_id").isin(ids)).collect()
    }
    for r in proj:
        expected = construct_introduction(
            words, quotes, page_words[r["doc_id"]]
        )
        assert r["introduction"] == expected


@pytest.mark.parametrize("query", QUERIES)
def test_with_results_projection_cold(engine, query):
    check_projection(engine, query)


def test_with_results_projection_warm(warm_engine):
    check_projection(warm_engine, QUERIES[0])
    check_projection(warm_engine, QUERIES[1], use_wand=True)
    check_projection(warm_engine, QUERIES[0], where=role_pred())


def test_with_results_empty_query(engine):
    out = engine.search_bm25("zzzznotaterm", k=10, with_results=True)
    assert out.count() == 0
    assert set(out.columns) == {
        "doc_id", "score", "n_terms", "title", "introduction", "url"
    }


@pytest.mark.parametrize("warmed", [False, True])
def test_bm25_many_with_results_matches_single(
    engine, warm_engine, warmed
):
    """Batch projection ≡ N single-query projections, row for row."""
    e = warm_engine if warmed else engine
    texts = QUERIES + ['"table scan" merge']
    batch = e.search_bm25_many(texts, k=5, with_results=True).collect()
    by_qid: dict[int, list] = {}
    for r in batch:
        by_qid.setdefault(r["query_id"], []).append(r)
    for qid, text in enumerate(texts):
        single = e.search_bm25(text, k=5, with_results=True).collect()
        got = [
            (
                r["doc_id"], round(r["score"], 9), r["n_terms"],
                r["title"], r["introduction"], r["url"],
            )
            for r in by_qid.get(qid, [])
        ]
        want = [
            (
                r["doc_id"], round(r["score"], 9), r["n_terms"],
                r["title"], r["introduction"], r["url"],
            )
            for r in single
        ]
        assert got == want, text


# ---- round-4 review regressions ------------------------------------------


def test_batch_single_n_terms_schema_union(engine):
    """Batch and single-query projected results carry the SAME n_terms
    type (long) — unionByName/parquet-append across the two paths must
    not fail on a type mismatch."""
    from search_engine_spark.operators.batch import bm25_many

    q = QUERIES[0]
    single = engine.search_bm25(q, k=5, with_results=True)
    batch = bm25_many(engine, [q], k=5, with_results=True).drop(
        "query_id", "rank"
    )
    assert dict(single.dtypes)["n_terms"] == dict(batch.dtypes)["n_terms"]
    # must not raise
    single.unionByName(batch).collect()


def test_allowed_ids_cached_and_invalidated(warm_engine):
    """_allowed_ids persists + reuses the (doc_id) frame per predicate
    (the WAND seed and repeated filtered queries stop re-scanning docs)
    and re-warm drops the cache with the old snapshot."""
    pred = "title = 'user:'"
    a1 = warm_engine._allowed_ids(pred)
    a2 = warm_engine._allowed_ids(pred)
    assert a1 is a2
    assert a1.storageLevel.useMemory or a1.storageLevel.useDisk
    warm_engine.warm()  # re-warm advances the snapshot
    assert pred not in warm_engine._allowed_cache or (
        warm_engine._allowed_ids(pred) is not a1
    )
    # results stay correct through the cache
    got = warm_engine.search_bm25(QUERIES[0], k=5, where=pred)
    for r in got.collect():
        assert r["doc_id"] is not None


def test_remap_broadcast_fallback_matches_literal(spark, engine, monkeypatch):
    """Above REMAP_LITERAL_MAX in-flight queries the stream remap
    switches from a literal map to a broadcast join — same rows, same
    column order."""
    from search_engine_spark.streaming import serving
    from search_engine_spark.operators.batch import bm25_many

    texts = [QUERIES[0], QUERIES[1]]
    ext_ids = [1007, 42]
    res = bm25_many(engine, texts, k=3)
    lit_out = serving._remap_query_ids(spark, res, ext_ids)
    monkeypatch.setattr(serving, "REMAP_LITERAL_MAX", 0)
    join_out = serving._remap_query_ids(spark, res, ext_ids)
    assert lit_out.columns == join_out.columns
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(map(tuple, lit_out.collect()), key=lambda t: (t[0], t[1])) == \
        sorted(map(tuple, join_out.collect()), key=lambda t: (t[0], t[1]))
