"""Driver-checked entries answered by the shipped engine over a REAL
persisted index built from the driver's ``documents`` table (cached per
sf_dir), hash-compared against the ANSI-SQL oracles in corpus_queries.py:
the search/BM25/WAND entries of the driver's first 50 through the Spark
:class:`.search.SearchEngine`, the ``serve_tier_*`` twins through
:class:`..serving.local.LocalIndexReader` (no Spark job per query).

Corpus mapping: url = the documents table's doc_id (stringified,
unique), title = '' (tokens then equal the text's tokens), ordered by
doc_id so the dense index ids 1..n enumerate documents in doc_id order;
results map back through the url column.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import EngineConfig

# one persisted index per sf_dir per process — the build is the setup
# cost, every entry after the first reuses it; the engine and the
# persisted BM25 ranking are cached per index dir beside it. The temp
# dirs go at process exit, or sooner through ``teardown_indexes``.
_INDEX_CACHE: dict[str, str] = {}
_ENGINE_CACHE: dict = {}
_RANKED_CACHE: dict[str, DataFrame] = {}


@atexit.register
def teardown_indexes() -> None:
    """Delete every cached index dir and drop the caches."""
    for idx in _INDEX_CACHE.values():
        shutil.rmtree(idx, ignore_errors=True)
    _INDEX_CACHE.clear()
    _ENGINE_CACHE.clear()
    _RANKED_CACHE.clear()


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _serve_index(spark: SparkSession, sf_dir: str) -> str:
    idx = _INDEX_CACHE.get(sf_dir)
    if idx is not None:
        return idx
    from .index_build import build_index

    idx = tempfile.mkdtemp(prefix="serve_tier_idx_")
    corpus = _documents(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("url"),
        F.lit("").alias("title"),
        "text",
        "doc_id",
    )
    # one build partition: no sampled range bounds, so every build cuts
    # the same blocks and a WAND entry takes the same path on every run
    build_index(
        spark, corpus, idx, config=EngineConfig(),
        order_cols=("doc_id",), segments=2, shuffle_partitions=1,
    )
    _INDEX_CACHE[sf_dir] = idx
    return idx


def _engine(spark: SparkSession, sf_dir: str):
    """The cached :class:`.search.SearchEngine` over ``sf_dir``'s index
    (rebuilt with its ranking cache if the Spark session changed)."""
    from .search import SearchEngine

    idx = _serve_index(spark, sf_dir)
    eng = _ENGINE_CACHE.get(idx)
    if eng is None or eng.spark is not spark:
        eng = _ENGINE_CACHE[idx] = SearchEngine(spark, idx)
        _RANKED_CACHE.pop(idx, None)
    return eng


def _n_docs(eng) -> int:
    return int(eng.corpus_stats["n_docs"])


def _documents_ids(eng, ranked: DataFrame) -> DataFrame:
    """Engine (doc_id, score, n_terms) → documents doc_id through the
    index's docs.url, score rounded to 6 decimals like the oracles'
    ``round(sum(...), 6)``."""
    urls = eng.docs.select("doc_id", F.col("url").cast("long").alias("doc"))
    return ranked.join(urls, "doc_id").select(
        F.col("doc").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "n_terms",
    )


def _by_score(df: DataFrame) -> DataFrame:
    return df.orderBy(F.desc("score"), F.asc("doc_id"))


# --------------------------------------------------------------------------
# SearchEngine entries (the driver's first 50)
# --------------------------------------------------------------------------

def _search_doc_ids(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    return (
        _engine(spark, sf_dir)
        .search(text, max_count=100)
        .select(F.col("url").cast("long").alias("doc_id"))
    )


def q_conjunctive_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 100 docs (doc_id asc) containing every CONJ_TERM: the
    engine's capped intersection, scored 0.0 under no weights."""
    from .corpus_queries import CONJ_TERMS

    return _search_doc_ids(spark, sf_dir, " ".join(CONJ_TERMS))


def q_single_term_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 100 docs containing SINGLE_TERM (the single-word path)."""
    from .corpus_queries import SINGLE_TERM

    return _search_doc_ids(spark, sf_dir, SINGLE_TERM)


def bm25_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score, n_terms) of EVERY doc matching a CONJ_TERM, from
    ``SearchEngine.search_bm25`` with k = all docs, in documents ids
    with the score rounded. Ranking the full match set lets callers
    re-sort on the rounded score, so boundary ties resolve exactly like
    the oracles' ``ORDER BY round(...) DESC, doc_id``. Ranked once per
    index: the frame is persisted and cached."""
    from .corpus_queries import CONJ_TERMS

    eng = _engine(spark, sf_dir)
    ranked = _RANKED_CACHE.get(eng.index_dir)
    if ranked is None:
        ranked = _documents_ids(
            eng, eng.search_bm25(" ".join(CONJ_TERMS), k=_n_docs(eng))
        ).persist()
        _RANKED_CACHE[eng.index_dir] = ranked
    return ranked


def q_bm25_scores_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_ranked(spark, sf_dir).orderBy("doc_id")


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _by_score(bm25_ranked(spark, sf_dir)).limit(100)


def q_bm25_topk_projected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k joined back to the documents table for metadata + a
    leading text slice: the reference's ``SearchResult`` shape
    (engine.ts:141-150) on the corpus columns. The engine's own snippet
    projection (``with_results=True``) is pytest-gated
    (tests/test_ranked_filtered.py)."""
    docs = _documents(spark, sf_dir).select(
        "doc_id", "lang", "source",
        F.substring("text", 1, 120).alias("introduction"),
    )
    return _by_score(
        bm25_ranked(spark, sf_dir)
        .join(docs, "doc_id")
        .select("doc_id", "score", "n_terms", "lang", "source",
                "introduction")
    ).limit(100)


def q_filtered_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k over ``lang = 'en'`` docs: a semi-join BEFORE the
    slice (k fills from the filtered set) with full-corpus statistics,
    the semantics of ``SearchEngine.search_bm25(where=...)``."""
    allowed = (
        _documents(spark, sf_dir).filter(F.col("lang") == "en")
        .select("doc_id")
    )
    return _by_score(
        bm25_ranked(spark, sf_dir).join(allowed, "doc_id", "left_semi")
    ).limit(100)


def tie_safe_top(rank: Callable[[Optional[int]], list], k: int) -> list:
    """The first ``k`` rows of a ranking cut at ``k + 1``, refusing a cut
    that a tie could cross.

    ``rank(n)`` returns the best ``n`` rows (``None``: every match) as
    (doc_id, rounded score, ...) sorted by (rounded score desc, doc_id
    asc), where the engine ranked by the unrounded score. Rounding is
    monotone, so every doc outside the best k + 1 rounds to at most the
    (k+1)-th score. If that score is strictly below the k-th, no such doc
    can tie into an ``ORDER BY round(score) DESC, doc_id LIMIT k`` over
    the whole corpus and the first k rows are that answer. On a tie at
    the cut (or fewer than k + 1 rows: then they are every match), the
    full match set is ranked instead."""
    rows = rank(k + 1)
    if len(rows) > k and not rows[k][1] < rows[k - 1][1]:
        rows = rank(None)
    return rows[:k]


def q_wand_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-max WAND top-k (``search_bm25(use_wand=True)``, operators/
    wand.py), driver-checked against EXHAUSTIVE BM25: the pruning must
    be lossless or the hash compare fails. Asked for WAND_K + 1 rows so
    :func:`tie_safe_top` can prove the rounded top WAND_K exact."""
    from .corpus_queries import WAND_K, WAND_TERMS

    eng = _engine(spark, sf_dir)
    text = " ".join(WAND_TERMS)

    def rank(n: Optional[int]) -> list:
        ranked = eng.search_bm25(text, k=n or _n_docs(eng), use_wand=True)
        return _by_score(_documents_ids(eng, ranked)).collect()

    return spark.createDataFrame(
        tie_safe_top(rank, WAND_K), "doc_id long, score double, n_terms long"
    )


# --------------------------------------------------------------------------
# serve-tier twins (LocalIndexReader)
# --------------------------------------------------------------------------

def _reader(spark: SparkSession, sf_dir: str, pin_postings: bool = True):
    from ..serving import LocalIndexReader

    return LocalIndexReader(
        _serve_index(spark, sf_dir), pin_postings=pin_postings
    )


def q_serve_tier_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve-tier conjunctive candidates ≡ SQL_CONJUNCTIVE_SEARCH: first
    100 docs (doc_id asc) containing every CONJ_TERM, answered by the
    parity search path (score 0.0 under no weights → doc_id order)."""
    from .corpus_queries import CONJ_TERMS

    pdf = _reader(spark, sf_dir).search(" ".join(CONJ_TERMS), max_count=100)
    return spark.createDataFrame([(int(u),) for u in pdf["url"]], "doc_id long")


def _serve_tier_top100(
    spark: SparkSession, sf_dir: str, pin_postings: bool, method: str
) -> DataFrame:
    """Disjunctive top-100 over CONJ_TERMS from the reader's ``method``,
    ranked over the FULL match set (k=∞) and then mapped, rounded and
    re-sorted like :func:`bm25_ranked`'s rows."""
    from .corpus_queries import CONJ_TERMS

    reader = _reader(spark, sf_dir, pin_postings)
    pdf = getattr(reader, method)(" ".join(CONJ_TERMS), k=1 << 62)
    ranked = spark.createDataFrame(
        pdf[["doc_id", "score", "n_terms"]],
        "doc_id long, score double, n_terms long",
    )
    return _by_score(_documents_ids(_engine(spark, sf_dir), ranked)).limit(100)


def q_serve_tier_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve-tier BM25 ≡ SQL_BM25_TOPK (the pinned reader)."""
    return _serve_tier_top100(spark, sf_dir, True, "search_bm25")


def q_serve_tier_wand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve-tier Block-Max WAND ≡ SQL_BM25_TOPK — the COLD reader
    (pin_postings=False) answering through block-metadata pruning +
    candidate-bounded exact rescoring (serving/local.py wand_topk). k=∞
    (θ=0, no block pruned), so the driver gates the WAND
    decode/rescore/fold path; the θ>0 PRUNING losslessness is gated by
    tests/test_serving_wand.py and evidenced in the bench's serve-tier
    wand point."""
    return _serve_tier_top100(spark, sf_dir, False, "wand_topk")
