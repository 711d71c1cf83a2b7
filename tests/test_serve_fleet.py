"""Term-range-sharded serving fleet (serving/fleet.py): two
LocalIndexReaders over disjoint subsets of the SAME index's blocks
files (the posting store), merged by the coordinator, must be
bit-identical to one reader over the whole index — for parity search
(incl. phrases), BM25 disjunctive/conjunctive, metadata-filtered
queries, and specifically for a term whose postings straddle the shard
boundary."""

import numpy as np
import pyarrow.dataset as pads
import pytest

from pyspark.sql import functions as F

from search_engine_spark.config import (
    DEMO_STOP_WORDS, EngineConfig, ScoreWeights,
)
from search_engine_spark.operators.index_build import build_index
from search_engine_spark.serving import (
    FleetReader, LocalIndexReader, make_term_shards,
)
from search_engine_spark.serving.local import (
    BM25_COLUMNS, BM25_RESULT_COLUMNS,
)
from search_engine_spark.sources.transcripts import (
    corpus_from_transcripts, synthesize_transcripts,
)

SF_DIR = "/root/testdata/sf0.001"
CFG = EngineConfig(stop_words=DEMO_STOP_WORDS, score_weights=ScoreWeights())


@pytest.fixture(scope="module")
def fleet_env(spark, tmp_path_factory):
    """One index; a single full reader; 2- and 3-shard fleets over
    symlinked term-range views of the same files."""
    root = tmp_path_factory.mktemp("fleet")
    idx = str(root / "idx")
    tx = synthesize_transcripts(
        spark, f"{SF_DIR}/documents.parquet", replicate=4
    )
    build_index(
        spark, corpus_from_transcripts(tx), idx, config=CFG, segments=2
    )
    single = LocalIndexReader(idx, config=CFG, pin_docs=True)
    fleet2 = FleetReader(
        make_term_shards(idx, str(root / "s2"), n_shards=2),
        config=CFG, pin_docs=True,
    )
    fleet3 = FleetReader(
        make_term_shards(idx, str(root / "s3"), n_shards=3),
        config=CFG, pin_postings=False,
    )
    return idx, single, fleet2, fleet3


def shard_terms(shard_dir: str) -> set:
    ds = pads.dataset(f"{shard_dir}/blocks", format="parquet",
                      partitioning="hive")
    return set(ds.to_table(columns=["term"])["term"].to_pylist())


def straddling_terms(fleet: FleetReader) -> list[str]:
    """Terms whose postings live in MORE than one shard."""
    sets = [shard_terms(sh.index_dir) for sh in fleet.shards]
    seen: dict = {}
    for s in sets:
        for t in s:
            seen[t] = seen.get(t, 0) + 1
    return sorted(t for t, c in seen.items() if c > 1)


def block_counts(index_dir: str) -> tuple[int, int]:
    """(block rows, postings they hold) of an index or shard view."""
    t = pads.dataset(f"{index_dir}/blocks", format="parquet",
                     partitioning="hive").to_table(columns=["n"])
    return t.num_rows, int(sum(t["n"].to_pylist()))


def test_shards_partition_the_postings(fleet_env):
    """Every block (and so every posting row) lands in exactly one
    shard; the union is the whole table; at least one term straddles
    the boundary (the case the merge must re-sort)."""
    idx, single, fleet2, _ = fleet_env
    per_shard = [block_counts(sh.index_dir) for sh in fleet2.shards]
    assert tuple(map(sum, zip(*per_shard))) == block_counts(idx)
    assert straddling_terms(fleet2), "no term straddles the shard split"


def test_uneven_file_count_splits_evenly(spark, tmp_path):
    """4 blocks files over 3 shards: every shard gets at least one file,
    so every shard opens, and the fleet answers bit-identically to one
    reader."""
    idx = str(tmp_path / "idx")
    tx = synthesize_transcripts(spark, f"{SF_DIR}/documents.parquet")
    build_index(spark, corpus_from_transcripts(tx), idx, config=CFG,
                segments=1, shuffle_partitions=4)
    files = sorted((tmp_path / "idx" / "blocks").rglob("*.parquet"))
    assert len(files) == 4
    dirs = make_term_shards(idx, str(tmp_path / "s3"), n_shards=3)
    sizes = [
        len(list((tmp_path / "s3" / f"shard{i}" / "blocks").rglob(
            "*.parquet")))
        for i in range(3)
    ]
    assert sorted(sizes) == [1, 1, 2]
    fleet = FleetReader(dirs, config=CFG)
    single = LocalIndexReader(idx, config=CFG)
    for q in PARITY_QUERIES:
        assert fleet.search(q, max_count=10).equals(
            single.search(q, max_count=10)
        ), q
    for q in ["filter join window", "table scan", "filter"]:
        want = single.search_bm25(q, k=10)
        got = fleet.search_bm25(q, k=10)
        assert list(got["doc_id"]) == list(want["doc_id"]), q
        assert np.array_equal(
            got["score"].to_numpy(dtype="float64"),
            want["score"].to_numpy(dtype="float64"),
        ), q


PARITY_QUERIES = [
    "window merge",
    '"table scan" merge',
    "filter",
    "filter join window",
    "nosuchword anywhere",
    "",
]


def test_fleet_parity_search_identical(fleet_env):
    _, single, fleet2, fleet3 = fleet_env
    for q in PARITY_QUERIES:
        want = single.search(q, max_count=10)
        assert fleet2.search(q, max_count=10).equals(want), q
        assert fleet3.search(q, max_count=10).equals(want), q


def test_fleet_bm25_identical(fleet_env):
    _, single, fleet2, fleet3 = fleet_env
    for q in ["filter join window", "table scan", "filter"]:
        for conj in (False, True):
            want = single.search_bm25(q, k=10, conjunctive=conj)
            got2 = fleet2.search_bm25(q, k=10, conjunctive=conj)
            got3 = fleet3.search_bm25(q, k=10, conjunctive=conj)
            for got in (got2, got3):
                assert list(got["doc_id"]) == list(want["doc_id"]), q
                # bit-identical scores: merged slivers reproduce the
                # single-node fold order exactly
                assert np.array_equal(
                    got["score"].to_numpy(dtype="float64"),
                    want["score"].to_numpy(dtype="float64"),
                ), (q, conj)


def test_fleet_straddling_term_query(fleet_env):
    """A single-term query for a term split across shards: the merged
    sliver must equal the full posting list (doc order restored), and
    search/BM25 answers must match the single reader exactly."""
    _, single, fleet2, _ = fleet_env
    for t in straddling_terms(fleet2)[:3]:
        merged = fleet2._merged_arrays([t])[t]
        full = single._term_arrays([t])[t]
        assert np.array_equal(merged[0], full[0]), t
        assert np.array_equal(merged[1], full[1]), t
        assert np.array_equal(merged[2], full[2]), t
        assert fleet2.search(t, max_count=10).equals(
            single.search(t, max_count=10)
        ), t
        want = single.search_bm25(t, k=10)
        got = fleet2.search_bm25(t, k=10)
        assert list(got["doc_id"]) == list(want["doc_id"]), t
        assert np.array_equal(
            got["score"].to_numpy(dtype="float64"),
            want["score"].to_numpy(dtype="float64"),
        ), t


def test_fleet_filtered_query(fleet_env):
    """allowed_ids gates must behave identically through the fleet."""
    _, single, fleet2, _ = fleet_env
    top = list(single.search_bm25("filter join", k=8)["doc_id"])
    allowed = top[:3] + [10 ** 9]
    for conj in (False, True):
        want = single.search_bm25(
            "filter join", k=5, conjunctive=conj, allowed_ids=allowed
        )
        got = fleet2.search_bm25(
            "filter join", k=5, conjunctive=conj, allowed_ids=allowed
        )
        assert list(got["doc_id"]) == list(want["doc_id"])
        assert np.array_equal(
            got["score"].to_numpy(dtype="float64"),
            want["score"].to_numpy(dtype="float64"),
        )
    assert fleet2.search("window merge", max_count=10,
                         allowed_ids=allowed).equals(
        single.search("window merge", max_count=10, allowed_ids=allowed)
    )


def test_fleet_with_results_projection(fleet_env):
    _, single, fleet2, _ = fleet_env
    want = single.search_bm25("filter join", k=5, with_results=True)
    got = fleet2.search_bm25("filter join", k=5, with_results=True)
    assert got.equals(want)


def test_fleet_count_and_refresh(fleet_env):
    _, single, fleet2, _ = fleet_env
    assert fleet2.count() == single.count()
    assert fleet2.refresh() is False  # nothing changed on disk


def rows(frame) -> list[tuple]:
    return [tuple(r) for r in frame.itertuples(index=False)]


def test_fleet_topk_cut_equals_full_ranking_prefix(fleet_env):
    """The fleet ranks its merged slivers by selection too: every cut,
    including one that splits tied scores, is the single reader's full
    ranking's prefix; k < 0 raises and k = 0 is the empty frame."""
    _, single, fleet2, fleet3 = fleet_env
    q = "table scan"
    full = rows(single.search_bm25(q, k=1 << 30))
    n = len(full)
    # the replicated transcripts hold identical turns: ties exist
    cut = next(c for c in range(2, n) if full[c - 1][1] == full[c][1])
    for k in (0, 1, cut - 1, cut, cut + 1, n - 1, n, n + 1, 1 << 30):
        for fleet in (fleet2, fleet3):
            assert rows(fleet.search_bm25(q, k=k)) == full[:k], k
    got = fleet2.search_bm25(q, k=cut, with_results=True)
    assert [str(t) for t in got.dtypes] == [
        "int64", "float64", "int64", "object", "object", "object"]
    assert [r[:3] for r in rows(got)] == full[:cut]
    with pytest.raises(ValueError, match="k must be >= 0"):
        fleet2.search_bm25(q, k=-1)
    for with_results, cols in ((False, BM25_COLUMNS),
                               (True, BM25_RESULT_COLUMNS)):
        out = fleet2.search_bm25(q, k=0, with_results=with_results)
        assert out.empty and list(out.columns) == cols
