"""Serve-tier Block-Max WAND (serving/local.py wand_topk): rank- AND
score-identical (bitwise) to the exhaustive serve-tier BM25 for every
query shape — disjunctive, conjunctive, allowed_ids gates, tombstoned
indexes, k beyond the match count — in both pinned and cold read modes;
and on a heavy-tailed corpus the bound actually PRUNES blocks while
staying lossless (the serving analogue of tests/test_wand.py's Spark
gate)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from search_engine_spark.config import (
    DEMO_STOP_WORDS, EngineConfig, ScoreWeights,
)
from search_engine_spark.serving import LocalIndexReader
from conftest import build_fixture_engine
from fixtures_data import CARL_MEMORY

CFG = EngineConfig(score_weights=ScoreWeights())


def rows(pdf):
    return [
        (int(r.doc_id), float(r.score), int(r.n_terms))
        for r in pdf[["doc_id", "score", "n_terms"]].itertuples(index=False)
    ]


def assert_wand_equal(reader, other, query, **kw):
    """wand_topk ≡ search_bm25 with bitwise-equal scores (same fold
    order, same expression, same float64 ops)."""
    full = other.search_bm25(query, **kw)
    wand = reader.wand_topk(query, **kw)
    assert list(full["doc_id"]) == list(wand["doc_id"]), query
    assert list(full["n_terms"]) == list(wand["n_terms"]), query
    assert np.array_equal(
        full["score"].to_numpy(dtype="float64"),
        wand["score"].to_numpy(dtype="float64"),
    ), query


@pytest.fixture(scope="module")
def carl(spark, tmp_path_factory):
    idx = tmp_path_factory.mktemp("carl_wand_idx")
    engine = build_fixture_engine(spark, CARL_MEMORY, idx, config=CFG)
    return engine, str(idx)


QUERIES = [
    "gauss",
    "carl friedrich",
    "carl friedrich gauss mathematician",
    "gauss nosuchterm",
    "nosuchterm anywhere",
    "",
]


@pytest.mark.parametrize("pin", [True, False])
def test_wand_parity_modes(carl, pin):
    _, idx = carl
    reader = LocalIndexReader(idx, config=CFG, pin_postings=pin)
    for q in QUERIES:
        assert_wand_equal(reader, reader, q)
        assert_wand_equal(reader, reader, q, conjunctive=True)


def test_wand_parity_vs_spark(carl):
    """Cold serve-tier WAND vs the SPARK engine's exhaustive BM25 —
    ranks identical, scores to 1 ULP (libm vs JVM Math.log)."""
    engine, idx = carl
    reader = LocalIndexReader(idx, config=CFG, pin_postings=False)
    for q in ["carl friedrich", "gauss mathematician"]:
        s = [
            (r["doc_id"], r["score"], r["n_terms"])
            for r in engine.search_bm25(q, k=10).collect()
        ]
        w = rows(reader.wand_topk(q, k=10))
        assert [(d, n) for d, _, n in s] == [(d, n) for d, _, n in w], q
        for (_, ss, _), (_, ws, _) in zip(s, w):
            assert ss == pytest.approx(ws, rel=1e-14), q


def test_wand_allowed_ids_and_big_k(carl):
    _, idx = carl
    reader = LocalIndexReader(idx, config=CFG, pin_postings=False)
    every = rows(reader.search_bm25("gauss", k=1 << 30))
    allowed = [d for d, _, _ in every[:3]] + [10 ** 9]
    assert_wand_equal(reader, reader, "carl gauss", allowed_ids=allowed)
    assert_wand_equal(reader, reader, "carl gauss", k=1 << 30)
    # θ seeded from the gated docs only — a tiny allowed set must not
    # over-prune (the failure mode of seeding from unfiltered partials)
    assert_wand_equal(
        reader, reader, "carl friedrich gauss",
        allowed_ids=allowed[:1], k=2,
    )


def test_wand_with_results_matches_bm25_projection(carl):
    _, idx = carl
    reader = LocalIndexReader(idx, config=CFG, pin_postings=False)
    full = reader.search_bm25("carl gauss", k=5, with_results=True)
    wand = reader.wand_topk("carl gauss", k=5, with_results=True)
    assert full.equals(wand)


def test_wand_tombstones(spark, tmp_path):
    from search_engine_spark.operators.deletes import delete_docs

    idx = tmp_path / "idx"
    engine = build_fixture_engine(spark, CARL_MEMORY, idx, config=CFG)
    top = engine.search_bm25("gauss", k=1).collect()[0]
    delete_docs(spark, str(idx), doc_ids=[top["doc_id"]], config=CFG)
    reader = LocalIndexReader(str(idx), config=CFG, pin_postings=False)
    assert_wand_equal(reader, reader, "carl gauss")
    assert top["doc_id"] not in list(
        reader.wand_topk("gauss", k=100)["doc_id"]
    )


def test_blocks_carry_dls(carl):
    """The self-contained block format: blocks hold every non-stop
    posting with its tf and dl, and both decoders (Spark SQL and
    pyarrow/numpy) give back exactly the postings rebuilt independently
    from term_positions ⨝ docs.n_tokens, tf = size(positions)."""
    import pyarrow.dataset as pads

    from search_engine_spark.operators.index_build import (
        decode_block_arrays, decode_blocks, stop_word_filter,
    )

    engine, idx = carl
    spark = engine.spark
    blk = spark.read.parquet(f"{idx}/blocks")
    assert "dls" in blk.columns
    cols = [F.col("term"), F.col("doc_id").cast("long"),
            F.col("tf").cast("long"), F.col("dl").cast("long")]
    from_blocks = decode_blocks(blk).select(*cols)
    reference = (
        spark.read.parquet(f"{idx}/term_positions")
        .filter(stop_word_filter(F.col("term"), CFG.stop_words))
        .join(spark.read.parquet(f"{idx}/docs")
              .select("doc_id", F.col("n_tokens").alias("dl")), "doc_id")
        .select("term", "doc_id", F.size("positions").alias("tf"), "dl")
        .select(*cols)
    )
    assert reference.count() > 0
    assert from_blocks.exceptAll(reference).count() == 0
    assert reference.exceptAll(from_blocks).count() == 0

    tbl = pads.dataset(f"{idx}/blocks", format="parquet",
                       partitioning="hive").to_table()
    counts, ids, tfs, dls = decode_block_arrays(tbl)
    terms = np.repeat(np.asarray(tbl["term"].to_pylist(), object), counts)
    decoded = sorted(
        (t, int(i), int(f), int(d))
        for t, i, f, d in zip(terms, ids, tfs, dls)
    )
    assert decoded == sorted(tuple(r) for r in reference.collect())


def test_wand_prunes_on_skewed_corpus(spark, tmp_path):
    """Heavy-tailed vocabulary: a head+tail query's θ must actually rule
    out head-term blocks (blocks_read < blocks_total) with results still
    bitwise-equal to exhaustive — losslessness is never bought back by
    reading everything."""
    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.sources.transcripts import (
        corpus_from_transcripts, synthesize_transcripts,
    )

    cfg = EngineConfig(
        stop_words=DEMO_STOP_WORDS, score_weights=ScoreWeights(),
        block_size=64,
    )
    tx = synthesize_transcripts(
        spark, "/root/testdata/sf0.001/documents.parquet",
        replicate=8, tail_vocab=400,
    )
    idx = str(tmp_path / "zipf_idx")
    build_index(spark, corpus_from_transcripts(tx), idx, config=cfg, segments=2)
    reader = LocalIndexReader(idx, config=cfg, pin_postings=False)
    dfm = sorted(reader._df_map.items(), key=lambda kv: (-kv[1], kv[0]))
    head, tail = dfm[0][0], dfm[-1][0]
    q = f"{head} {tail}"
    assert_wand_equal(reader, reader, q)
    s = reader.last_wand_stats
    assert s["blocks_total"] > 8
    assert s["surviving_blocks"] < s["blocks_total"], s
    assert s["blocks_read"] < s["blocks_total"], s


def test_serve_wand_lossless_under_avgdl_drift(spark, tmp_path):
    """Serve-tier twin of test_wand.py's avgdl-drift gate: inflating
    corpus_stats.json's avgdl above the blocks' bake_avgdl (the
    stats-refreshed-ahead-of-re-bake crash window) must leave wand_topk
    bitwise-equal to the reader's exhaustive BM25 — before the
    bake_avgdl correction this exact setup dropped top-k docs and
    returned empty frames at drift >= 4x — and at zero drift blocks must
    still be pruned (the correction factor is exactly 1.0 there)."""
    import json
    import os

    from search_engine_spark import fsio
    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.sources.transcripts import (
        corpus_from_transcripts, synthesize_transcripts,
    )

    cfg = EngineConfig(
        stop_words=DEMO_STOP_WORDS, score_weights=ScoreWeights(),
        block_size=64,
    )
    tx = synthesize_transcripts(
        spark, "/root/testdata/sf0.001/documents.parquet",
        replicate=8, tail_vocab=400,
    )
    idx = str(tmp_path / "drift_idx")
    build_index(spark, corpus_from_transcripts(tx), idx, config=cfg,
                segments=2)
    stats_path = os.path.join(idx, "corpus_stats.json")
    with open(stats_path) as fh:
        built = json.load(fh)

    probe = LocalIndexReader(idx, config=cfg, pin_postings=False)
    dfm = sorted(probe._df_map.items(), key=lambda kv: (-kv[1], kv[0]))
    head, tail = dfm[0][0], dfm[-1][0]
    queries = [f"{head} {tail}", head, f"{head} {dfm[1][0]} {tail}"]

    for factor in (1.0, 4.0, 8.0):
        drifted = dict(built)
        drifted["avgdl"] = built["avgdl"] * factor
        # through fsio (like refresh_stats), keeping the CRC sidecar valid
        fsio.write_text(stats_path, json.dumps(drifted))
        reader = LocalIndexReader(idx, config=cfg, pin_postings=False)
        for q in queries:
            assert_wand_equal(reader, reader, q)
            assert_wand_equal(reader, reader, q, conjunctive=True)
        if factor == 1.0:
            reader.wand_topk(f"{head} {tail}", k=10)
            s = reader.last_wand_stats
            assert s["surviving_blocks"] < s["blocks_total"], s


def test_serve_wand_on_mixed_format_index(spark, tmp_path):
    """A segment written before the bake_avgdl column (mixed-format
    index: pre-change segments next to post-change appends) must not
    poison pruning — pyarrow fills the missing column with null -> NaN,
    and np.maximum propagates NaN, so before the finite-guard (now
    block_bounds.drift_corrected) those blocks' bounds went NaN and they
    were pruned even at ZERO drift, silently dropping their docs from
    top-k. The reader must stay bitwise-equal to exhaustive BM25 with
    per-block fallback to the uncorrected bound, and the Spark WAND path,
    whose driver-side plan collects the nulls as NaN and applies the same
    rule, must match its exact scorer on the same mixed index."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.operators.search import SearchEngine
    from search_engine_spark.sources.transcripts import (
        corpus_from_transcripts, synthesize_transcripts,
    )

    cfg = EngineConfig(
        stop_words=DEMO_STOP_WORDS, score_weights=ScoreWeights(),
        block_size=64,
    )
    tx = synthesize_transcripts(
        spark, "/root/testdata/sf0.001/documents.parquet",
        replicate=8, tail_vocab=400,
    )
    idx = str(tmp_path / "mixed_idx")
    build_index(spark, corpus_from_transcripts(tx), idx, config=cfg,
                segments=2)

    # simulate a pre-bake_avgdl segment: strip the column from seg=1's
    # files in place (seg=0 keeps it, so the dataset-level schema —
    # inferred from the first fragment — still carries bake_avgdl and
    # the drift-correction path runs over null-filled old fragments)
    stripped = 0
    for f in glob.glob(os.path.join(idx, "blocks", "seg=1", "*.parquet")):
        tbl = pq.read_table(f)
        if "bake_avgdl" in tbl.schema.names:
            pq.write_table(
                tbl.drop_columns(["bake_avgdl"]), f, compression="zstd"
            )
            # the rewrite invalidates Hadoop's .crc sidecar
            crc = os.path.join(
                os.path.dirname(f), "." + os.path.basename(f) + ".crc"
            )
            if os.path.exists(crc):
                os.remove(crc)
            stripped += 1
    assert stripped > 0

    reader = LocalIndexReader(idx, config=cfg, pin_postings=False)
    assert "bake_avgdl" in reader._blk_ds.schema.names  # fix path active
    dfm = sorted(reader._df_map.items(), key=lambda kv: (-kv[1], kv[0]))
    head, mid, tail = dfm[0][0], dfm[1][0], dfm[-1][0]
    for q in (f"{head} {tail}", head, f"{head} {mid} {tail}"):
        assert_wand_equal(reader, reader, q)
        assert_wand_equal(reader, reader, q, conjunctive=True)
    reader.wand_topk(f"{head} {tail}", k=10)
    s = reader.last_wand_stats
    assert s["surviving_blocks"] > 0, s

    engine = SearchEngine(spark, idx, config=cfg)
    for q in (f"{head} {tail}", head):
        exact = [
            (int(r["doc_id"]), float(r["score"]))
            for r in engine.search_bm25(q, k=10).collect()
        ]
        wand = [
            (int(r["doc_id"]), float(r["score"]))
            for r in engine.search_bm25(q, k=10, use_wand=True).collect()
        ]
        assert wand == exact, q


def test_wand_adaptive_fallback_on_flat_corpus(spark, tmp_path):
    """Uniform corpus (identical docs): every block bound equals θ, so
    pruning can remove nothing — wand_topk must route to the exhaustive
    scorer (live once, then through the cached plan shape) with results
    still bitwise-equal, and a filtered call must bypass the cache (a
    filter changes θ)."""
    flat = [
        {"url": f"https://flat/{i}", "title": "flat",
         "text": "alpha beta gamma delta", "rank": i + 1}
        for i in range(40)
    ]
    cfg = EngineConfig(score_weights=ScoreWeights(), block_size=4)
    idx = tmp_path / "flat_idx"
    build_fixture_engine(spark, flat, idx, config=cfg)
    reader = LocalIndexReader(str(idx), config=cfg, pin_postings=False)
    assert_wand_equal(reader, reader, "alpha beta", k=5)
    s = dict(reader.last_wand_stats)
    assert s["fallback"] == "exhaustive", s
    assert s["blocks_total"] > 2, s
    assert s["surviving_blocks"] == s["blocks_total"], s
    assert_wand_equal(reader, reader, "alpha beta", k=5)
    assert reader.last_wand_stats["fallback"] == "exhaustive-cached"
    # filtered probes must NOT take the cached unfiltered plan blindly
    # (θ over a gated doc set differs); results stay equal either way
    assert_wand_equal(
        reader, reader, "alpha beta", k=5, allowed_ids=[2, 4, 6]
    )
    # cache dies with the snapshot
    reader.refresh(force=True)
    assert len(reader._wand_plan_cache) == 0


def test_wand_no_fallback_when_pruning_works(spark, tmp_path):
    """Skewed corpus control: where blocks ARE pruned the adaptive check
    must stay out of the way (fallback None, surviving < total)."""
    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.sources.transcripts import (
        corpus_from_transcripts, synthesize_transcripts,
    )

    cfg = EngineConfig(
        stop_words=DEMO_STOP_WORDS, score_weights=ScoreWeights(),
        block_size=64,
    )
    tx = synthesize_transcripts(
        spark, "/root/testdata/sf0.001/documents.parquet",
        replicate=8, tail_vocab=400,
    )
    idx = str(tmp_path / "zipf_fb_idx")
    build_index(spark, corpus_from_transcripts(tx), idx, config=cfg,
                segments=2)
    reader = LocalIndexReader(idx, config=cfg, pin_postings=False)
    dfm = sorted(reader._df_map.items(), key=lambda kv: (-kv[1], kv[0]))
    q = f"{dfm[0][0]} {dfm[-1][0]}"
    assert_wand_equal(reader, reader, q)
    s = reader.last_wand_stats
    assert s["fallback"] is None, s
    assert s["surviving_blocks"] < s["blocks_total"], s
