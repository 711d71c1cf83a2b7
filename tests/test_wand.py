"""Block-max WAND must be rank- AND score-identical to exhaustive BM25.

The reference's analogous guarantee is its top-k early exit returning the
same pages a full scan would (/root/reference/src/engine.ts:391-431); here
the exhaustive DataFrame BM25 (bm25.py) is the oracle and the pruned path
(wand.py) must match it exactly on a real 500-doc corpus.
"""

import pytest

from search_engine_spark.config import DEMO_STOP_WORDS, EngineConfig
from search_engine_spark.operators.index_build import build_index
from search_engine_spark.operators.search import SearchEngine
from search_engine_spark.sources.transcripts import (
    corpus_from_transcripts,
    synthesize_transcripts,
)

SF_DIR = "/root/testdata/sf0.001"

QUERIES = [
    "filter join window",
    "table scan merge",
    "spark",
    "customer batch stream hash",
    "the small query",  # 'the' is a stop word in DEMO_STOP_WORDS
]


@pytest.fixture(scope="module")
def corpus_engine(spark, tmp_path_factory):
    cfg = EngineConfig(stop_words=DEMO_STOP_WORDS)
    idx = tmp_path_factory.mktemp("wand_idx")
    tx = synthesize_transcripts(spark, f"{SF_DIR}/documents.parquet")
    build_index(
        spark, corpus_from_transcripts(tx), str(idx), config=cfg, segments=2
    )
    return SearchEngine(spark, str(idx), config=cfg)


def rows(df):
    return [(r["doc_id"], round(r["score"], 9), r["n_terms"]) for r in df.collect()]


@pytest.mark.parametrize("query", QUERIES)
def test_wand_matches_exhaustive_disjunctive(corpus_engine, query):
    exact = rows(corpus_engine.search_bm25(query, k=10))
    pruned = rows(corpus_engine.search_bm25(query, k=10, use_wand=True))
    assert pruned == exact


@pytest.mark.parametrize("query", QUERIES[:3])
def test_wand_matches_exhaustive_conjunctive(corpus_engine, query):
    exact = rows(corpus_engine.search_bm25(query, k=10, conjunctive=True))
    pruned = rows(
        corpus_engine.search_bm25(query, k=10, conjunctive=True, use_wand=True)
    )
    assert pruned == exact


def test_wand_empty_query(corpus_engine):
    assert corpus_engine.search_bm25("the", k=10, use_wand=True).count() == 0


def test_wand_warm_parity(spark, tmp_path_factory):
    """wand_topk must return identical rows on a warmed engine, where df
    comes from the driver-pinned vocabulary and the block metadata from
    the pinned blocks table."""
    cfg = EngineConfig(stop_words=DEMO_STOP_WORDS)
    idx = tmp_path_factory.mktemp("wand_warm_idx")
    tx = synthesize_transcripts(spark, f"{SF_DIR}/documents.parquet")
    build_index(
        spark, corpus_from_transcripts(tx), str(idx), config=cfg, segments=2
    )
    eng = SearchEngine(spark, str(idx), config=cfg)
    cold = {
        q: rows(eng.search_bm25(q, k=10, use_wand=True)) for q in QUERIES
    }
    eng.warm(pin_docs=False)
    for q in QUERIES:
        assert rows(eng.search_bm25(q, k=10, use_wand=True)) == cold[q], q


def test_wand_driver_entry_answers_through_engine_wand(spark, monkeypatch):
    """The driver-checked ``wand_topk`` entry runs the engine's block-max
    WAND (asked for WAND_K + 1 rows, see engine_queries.tie_safe_top) and
    its rows equal the engine's exhaustive answer, rounded, at the scale
    the driver checks. On this 500-doc corpus the entry's query prunes
    no block of the single-partition layout (θ cannot beat any block
    bound, so WAND falls back to the exhaustive plan); pruning strength
    is gated by the range-bound tests below and in
    test_serving_wand.py."""
    from pyspark.sql import functions as F

    from search_engine_spark.operators import engine_queries, wand
    from search_engine_spark.operators.corpus_queries import (
        WAND_K,
        WAND_TERMS,
    )

    asked = []
    real = wand.wand_topk

    def spy(engine, text, k=10, **kw):
        asked.append((text, k))
        return real(engine, text, k=k, **kw)

    monkeypatch.setattr(wand, "wand_topk", spy)
    sf_dir = "/root/testdata/sf0.01"
    got = engine_queries.q_wand_topk(spark, sf_dir).collect()
    text = " ".join(WAND_TERMS)
    assert asked[0] == (text, WAND_K + 1), asked
    assert len(got) == WAND_K

    eng = engine_queries._engine(spark, sf_dir)
    exact = engine_queries._documents_ids(
        eng, eng.search_bm25(text, k=engine_queries._n_docs(eng))
    ).orderBy(F.desc("score"), F.asc("doc_id")).limit(WAND_K)
    assert got == exact.collect()


@pytest.mark.parametrize("use_wand", [False, True])
def test_unbounded_k_is_clamped_to_spark_limit(corpus_engine, use_wand):
    """k beyond a Java int ("every match", as the serve tier accepts)
    returns what k = n_docs returns instead of failing in
    Dataset.limit."""
    q = QUERIES[0]
    n = int(corpus_engine.corpus_stats["n_docs"])
    assert rows(
        corpus_engine.search_bm25(q, k=1 << 62, use_wand=use_wand)
    ) == rows(corpus_engine.search_bm25(q, k=n, use_wand=use_wand))


@pytest.mark.parametrize("query", QUERIES)
def test_wand_range_aware_lossless_and_no_looser(corpus_engine, query):
    """The range-aware (true Block-Max) bound must stay rank- and
    score-identical to exhaustive BM25, and can only prune MORE blocks
    than the global bound, never fewer (the per-bucket other-term maxima
    are ≤ the corpus-wide maxima the global bound charges)."""
    from search_engine_spark.operators.wand import (
        wand_prune_stats,
        wand_topk,
    )

    exact = rows(corpus_engine.search_bm25(query, k=10))
    assert rows(wand_topk(corpus_engine, query, k=10)) == exact

    stats = wand_prune_stats(corpus_engine, query, k=10)
    assert stats["surviving_blocks"] <= stats["global_surviving_blocks"], \
        stats


def test_wand_range_aware_prunes_where_global_cannot(corpus_engine):
    """On an asymmetric query (rare term + head terms) the global bound
    charges the head terms' corpus-wide maxima everywhere and prunes
    nothing, while the range-aware bound prunes real blocks; results
    stay identical (asserted above via the QUERIES parametrization and
    here for this query)."""
    from search_engine_spark.operators.wand import (
        wand_prune_stats,
        wand_topk,
    )

    ts = corpus_engine.term_stats().orderBy("df", ascending=False).collect()
    rare, common = ts[-1]["term"], ts[0]["term"]
    q = f"{common} {rare}"
    assert rows(wand_topk(corpus_engine, q, k=10)) == rows(
        corpus_engine.search_bm25(q, k=10)
    )
    stats = wand_prune_stats(corpus_engine, q, k=10)
    assert stats["surviving_blocks"] < stats["global_surviving_blocks"], \
        stats
    assert stats["surviving_blocks"] < stats["blocks_total"], stats


def test_wand_lossless_under_avgdl_drift(spark, tmp_path_factory):
    """Stats/blocks snapshot skew must never make pruning lossy.

    ``block_max_partial`` is baked with the avgdl at block-cut time and
    is monotonically increasing in avgdl, so a corpus_stats avgdl ABOVE
    the baked one (a crash between refresh_stats' stats write and its
    block re-bake, or any stats-ahead-of-blocks skew) makes the raw
    baked bound under-estimate true contributions — without the
    ``bake_avgdl`` correction (block_bounds.drift_corrected) this exact
    scenario
    dropped true top-k docs and even returned empty results (repro'd at
    drift ≥ 2x on this corpus shape). The corrected bound must stay
    rank- and score-identical to exhaustive BM25 at every drift factor,
    in both warmed (pinned blocks) and cold paths, while still pruning at
    zero drift (losslessness not bought back by reading everything)."""
    import json
    import os

    from search_engine_spark import fsio
    from search_engine_spark.operators.wand import wand_prune_stats
    from search_engine_spark.sources.transcripts import (
        synthesize_transcripts as synth,
    )

    cfg = EngineConfig(stop_words=DEMO_STOP_WORDS, block_size=64)
    idx = str(tmp_path_factory.mktemp("wand_drift_idx"))
    tx = synth(spark, f"{SF_DIR}/documents.parquet",
               replicate=8, tail_vocab=400)
    build_index(
        spark, corpus_from_transcripts(tx), idx, config=cfg, segments=2
    )
    stats_path = os.path.join(idx, "corpus_stats.json")
    with open(stats_path) as fh:
        built = json.load(fh)

    probe = SearchEngine(spark, idx, config=cfg)
    ts = probe.term_stats().orderBy("df", ascending=False).collect()
    head, tail = ts[0]["term"], ts[-1]["term"]
    queries = [f"{head} {tail}", head]

    for factor in (1.0, 4.0):
        drifted = dict(built)
        drifted["avgdl"] = built["avgdl"] * factor
        # through fsio (like refresh_stats), keeping the CRC sidecar valid
        fsio.write_text(stats_path, json.dumps(drifted))
        engine = SearchEngine(spark, idx, config=cfg)
        for warm in (False, True):
            if warm:
                engine.warm(pin_docs=False)
            for q in queries:
                exact = rows(engine.search_bm25(q, k=10))
                assert rows(
                    engine.search_bm25(q, k=10, use_wand=True)
                ) == exact, (factor, warm, q)
        prune = wand_prune_stats(engine, f"{head} {tail}", k=10)
        if factor == 1.0:
            assert prune["surviving_blocks"] < prune["blocks_total"], prune


def test_wand_adaptive_fallback_flat_and_skewed(spark, tmp_path):
    """Adaptive exhaustive fallback on the Spark path: a uniform corpus
    (identical docs → every block bound equals θ) must report
    would_fallback=True and wand_topk must still equal exhaustive BM25
    (it routes to the same plan); a skewed corpus where pruning works
    must report would_fallback=False."""
    from conftest import build_fixture_engine
    from search_engine_spark.operators.wand import (
        wand_prune_stats, wand_topk,
    )

    flat = [
        {"url": f"https://flat/{i}", "title": "flat",
         "text": "alpha beta gamma delta", "rank": i + 1}
        for i in range(40)
    ]
    cfg = EngineConfig(block_size=4)
    engine = build_fixture_engine(
        spark, flat, tmp_path / "flat_idx", config=cfg
    )
    st = wand_prune_stats(engine, "alpha beta", k=5)
    assert st["would_fallback"] is True, st
    assert rows(wand_topk(engine, "alpha beta", k=5)) == rows(
        engine.search_bm25("alpha beta", k=5)
    )
    # the warm path plans from the pinned vocabulary and blocks
    engine.warm(pin_docs=False)
    assert rows(wand_topk(engine, "alpha beta", k=5)) == rows(
        engine.search_bm25("alpha beta", k=5)
    )

    zcfg = EngineConfig(stop_words=DEMO_STOP_WORDS, block_size=64)
    tx = synthesize_transcripts(
        spark, f"{SF_DIR}/documents.parquet", replicate=8, tail_vocab=400
    )
    zidx = str(tmp_path / "zipf_fb_idx")
    build_index(
        spark, corpus_from_transcripts(tx), zidx, config=zcfg, segments=2
    )
    zengine = SearchEngine(spark, zidx, config=zcfg)
    dfm = sorted(
        ((r["term"], r["df"]) for r in zengine.term_stats().collect()),
        key=lambda kv: (-kv[1], kv[0]),
    )
    q = f"{dfm[0][0]} {dfm[-1][0]}"
    zst = wand_prune_stats(zengine, q, k=10)
    assert zst["would_fallback"] is False, zst
    assert zst["surviving_blocks"] < zst["blocks_total"], zst
    # a conjunctive query with a term the index lacks matches nothing,
    # also where WAND prunes (the exhaustive plan counts every term)
    q = "filter tail_3 zzznope"
    assert rows(zengine.search_bm25(
        q, k=10, conjunctive=True, use_wand=True
    )) == rows(zengine.search_bm25(q, k=10, conjunctive=True)) == []
