"""Edge cases: empty corpus builds, Zipf head-term skew, degenerate queries.

The skew test encodes the north rule's "partitioning / shuffle / skew
handled explicitly": a term occurring in EVERY doc (the Zipf head) must
not concentrate on one reducer — the range layout splits its postings
across partition files — and queries over it stay correct.
"""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from search_engine_spark.config import EngineConfig  # noqa: E402
from search_engine_spark.operators.index_build import build_index  # noqa: E402
from search_engine_spark.operators.search import SearchEngine  # noqa: E402


def test_empty_corpus_build(spark, tmp_path):
    corpus = spark.createDataFrame(
        [], "url string, title string, text string, conv_id string, turn_idx int"
    )
    res = build_index(spark, corpus, str(tmp_path / "idx"), segments=2)
    assert res.n_docs == 0
    assert res.n_postings == 0


def test_single_doc_build_and_search(spark, tmp_path):
    corpus = spark.createDataFrame(
        [("c0#0", "user:", "lonely document text", "c0", 0)],
        "url string, title string, text string, conv_id string, turn_idx int",
    )
    build_index(spark, corpus, str(tmp_path / "one"), segments=3)
    eng = SearchEngine(spark, str(tmp_path / "one"))
    assert eng.count() == 1
    assert eng.search("lonely", max_count=10).count() == 1
    assert eng.search_bm25("document", k=5).count() == 1
    assert eng.search_bm25("document", k=5, use_wand=True).count() == 1


@pytest.fixture(scope="module")
def skew_engine(spark, tmp_path_factory):
    # 400 docs; 'ubiquitous' appears in every one (df = N), tail terms are
    # per-doc unique — a hard Zipf head
    rows = [
        (
            f"c{i//8}#{i%8}",
            "user:",
            f"ubiquitous filler unique{i} tail{i % 7}",
            f"c{i//8}",
            i % 8,
        )
        for i in range(400)
    ]
    corpus = spark.createDataFrame(
        rows, "url string, title string, text string, conv_id string, turn_idx int"
    )
    d = str(tmp_path_factory.mktemp("skew"))
    build_index(spark, corpus, d, segments=2, shuffle_partitions=8)
    return SearchEngine(spark, d), d


def test_head_term_splits_across_partitions(spark, skew_engine):
    _, d = skew_engine
    # the head term's posting blocks span multiple parquet files (range
    # layout splits it instead of hashing it onto one reducer)
    files = (
        spark.read.parquet(f"{d}/blocks")
        .filter(F.col("term") == "ubiquitous")
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    assert files > 1, "head term concentrated in a single partition file"


def test_head_term_query_correct(skew_engine):
    eng, _ = skew_engine
    # conjunctive head+tail: exactly the one doc with both
    got = [r["url"] for r in eng.search("ubiquitous unique42", max_count=10).collect()]
    assert got == ["c5#2"]
    # BM25 over the head term alone: df == N → tiny idf but defined; k rows
    assert eng.search_bm25("ubiquitous", k=7).count() == 7
    wand = [tuple(r) for r in eng.search_bm25(
        "ubiquitous unique42", k=5, use_wand=True).collect()]
    exact = [tuple(r) for r in eng.search_bm25(
        "ubiquitous unique42", k=5).collect()]
    assert wand == exact
