"""Retrieval-model extras, each with an exact DuckDB twin.

Three operators rounding out the engine's ranked-retrieval family
beyond BM25/WAND (reference scope: engine.ts has exactly one ranker;
these are the classic alternatives a search stack grows):

- ``query_likelihood`` — Dirichlet-smoothed query-likelihood ranking
  (Ponte/Croft language-model retrieval; Zhai & Lafferty smoothing):
  score(d) = Σ_q ln((tf_qd + μ·cf_q/|C|) / (dl_d + μ)). The exhaustive
  exact formulation scores EVERY document (smoothing gives non-matching
  docs mass too) — at 100 TB this is the rerank/oracle path, and the
  candidate set comes from the index scan (WAND) first, exactly like the
  BM25 split between ``bm25_scores_all`` and ``wand_topk``.
- ``fuzzy_search`` — typo-tolerant retrieval: vocabulary terms within
  edit distance ≤ 2 of the query, docs ranked by closeness-weighted
  match count. The vocabulary side is |V| rows (the index's term_stats
  table at scale, never the corpus), candidates broadcast to the
  postings join — the same small-|Q| brute-force formulation as
  ``term_suggest``, with ``symspell_suggest`` as the designated upgrade
  when |V|·|Q| matters.
- ``filtered_search`` — metadata-filtered retrieval (term match AND
  lang = 'en'): the facet-restricted query every search UI issues. The
  lang predicate is a plain parquet pushdown BEFORE tokenization, so the
  filtered corpus never materializes.

Exactness contract: the only float SUM (query-likelihood's per-term ln)
rides int64 micro-units; everything else is exact integer arithmetic
CAST to BIGINT on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenizer import tokenize_expr
from .corpus_queries import (
    SINGLE_TERM,
    _TOKS_SQL,
    _docs,
    _tokens_df,
)

# --------------------------------------------------------------------------
# Dirichlet query likelihood: score(d) = Σ_q ln((tf + μ·cf/|C|) / (dl + μ))
# --------------------------------------------------------------------------

QL_TERMS = ("merge", "scan")
QL_MU = 2000.0
QL_K = 20


def q_query_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood top-k. Plan shape: corpus
    statistics (per-term collection frequency, total token count) are
    tiny aggregates that BROADCAST into a |D|·|Q| scoring frame built
    from the doc-length table; the per-(doc, query-term) tf table joins
    in as the only non-broadcast side. Per-term log scores are quantized
    to int64 micro-units before the per-doc SUM so partial-aggregation
    order cannot move the ranking."""
    occ = _tokens_df(spark, sf_dir).select(
        "doc_id", F.explode("toks").alias("term")
    )
    inq = F.col("term").isin(*QL_TERMS)
    dl = occ.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("dl")
    )
    cf = occ.filter(inq).groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("cf")
    )
    tot = occ.agg(F.count(F.lit(1)).cast("long").alias("total"))
    tfq = occ.filter(inq).groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    base = (
        dl.crossJoin(F.broadcast(cf))
        .crossJoin(F.broadcast(tot))
        .join(tfq, ["doc_id", "term"], "left")
    )
    num = F.coalesce(F.col("tf"), F.lit(0)).cast("double") + F.lit(QL_MU) * (
        F.col("cf").cast("double") / F.col("total").cast("double")
    )
    den = F.col("dl").cast("double") + F.lit(QL_MU)
    m = F.round(F.log(num / den) * 1000000.0).cast("long")
    return (
        base.select("doc_id", m.alias("m"))
        .groupBy("doc_id")
        .agg(F.sum("m").cast("long").alias("score_micro"))
        .orderBy(F.desc("score_micro"), "doc_id")
        .limit(QL_K)
    )


_QL_IN = ", ".join(f"'{t}'" for t in QL_TERMS)

SQL_QUERY_LIKELIHOOD = f"""
WITH occ AS (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM occ GROUP BY doc_id),
cf AS (SELECT term, CAST(count(*) AS BIGINT) AS cf FROM occ
       WHERE term IN ({_QL_IN}) GROUP BY term),
tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM occ),
tfq AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM occ
        WHERE term IN ({_QL_IN}) GROUP BY doc_id, term),
b AS (
  SELECT d.doc_id,
         CAST(round(ln((CAST(COALESCE(q.tf, 0) AS DOUBLE)
                        + {QL_MU} * (CAST(c.cf AS DOUBLE)
                                     / CAST(t.total AS DOUBLE)))
                       / (CAST(d.dl AS DOUBLE) + {QL_MU}))
                    * 1000000.0) AS BIGINT) AS m
  FROM dl d CROSS JOIN cf c CROSS JOIN tot t
  LEFT JOIN tfq q ON q.doc_id = d.doc_id AND q.term = c.term
)
SELECT doc_id, CAST(sum(m) AS BIGINT) AS score_micro
FROM b GROUP BY doc_id ORDER BY score_micro DESC, doc_id LIMIT {QL_K}
"""


# --------------------------------------------------------------------------
# fuzzy search: typo-tolerant retrieval via edit-distance term expansion
# --------------------------------------------------------------------------

FUZZY_QUERY = "scal"  # matches 'scan' at dist 1 and 'small' at dist 2
FUZZY_MAX_DIST = 2
FUZZY_K = 50


def q_fuzzy_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant search: expand the query against the vocabulary by
    edit distance (JVM ``levenshtein`` on both engines — no Python),
    then rank docs by closeness-weighted distinct-term matches
    (weight = max_dist + 1 − dist, exact ints). The distance scan runs
    over the VOCABULARY (|V| rows), never the corpus; the surviving
    candidate terms broadcast into the postings join."""
    occ = (
        _tokens_df(spark, sf_dir)
        .select("doc_id", F.explode("toks").alias("term"))
        .filter(F.length("term") >= 2)
        .distinct()
    )
    cand = (
        occ.select("term")
        .distinct()
        .withColumn(
            "dist",
            F.levenshtein("term", F.lit(FUZZY_QUERY)).cast("long"),
        )
        .filter(F.col("dist") <= FUZZY_MAX_DIST)
    )
    return (
        occ.join(F.broadcast(cand), "term")
        .groupBy("doc_id")
        .agg(
            F.sum(F.lit(FUZZY_MAX_DIST + 1) - F.col("dist"))
            .cast("long")
            .alias("score"),
            F.count(F.lit(1)).cast("long").alias("n_matched"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(FUZZY_K)
    )


SQL_FUZZY_SEARCH = f"""
WITH occ AS (
  SELECT DISTINCT doc_id, term FROM (
    SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
  ) WHERE len(term) >= 2
),
cand AS (
  SELECT term,
         CAST(levenshtein(term, '{FUZZY_QUERY}') AS BIGINT) AS dist
  FROM (SELECT DISTINCT term FROM occ)
  WHERE levenshtein(term, '{FUZZY_QUERY}') <= {FUZZY_MAX_DIST}
)
SELECT o.doc_id,
       CAST(sum({FUZZY_MAX_DIST + 1} - c.dist) AS BIGINT) AS score,
       CAST(count(*) AS BIGINT) AS n_matched
FROM occ o JOIN cand c USING (term)
GROUP BY o.doc_id ORDER BY score DESC, doc_id LIMIT {FUZZY_K}
"""


# --------------------------------------------------------------------------
# filtered search: term match restricted by a metadata predicate
# --------------------------------------------------------------------------

FILTER_LANG = "en"
FILTER_K = 100


def q_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facet-restricted retrieval: docs in one language containing the
    query term, ranked by term frequency. The lang predicate is a plain
    parquet pushdown applied BEFORE tokenization — the filtered-out
    corpus is never tokenized, which at 100 TB is the difference between
    scanning one language partition and scanning everything."""
    docs = _docs(spark, sf_dir).filter(F.col("lang") == FILTER_LANG)
    toks = tokenize_expr(F.col("text"), lower_case=True)
    tf = F.size(F.filter(toks, lambda t: t == F.lit(SINGLE_TERM)))
    return (
        docs.select("doc_id", tf.cast("long").alias("tf"))
        .filter(F.col("tf") > 0)
        .orderBy(F.desc("tf"), "doc_id")
        .limit(FILTER_K)
    )


SQL_FILTERED_SEARCH = f"""
SELECT doc_id,
       CAST(len(list_filter({_TOKS_SQL}, t -> t = '{SINGLE_TERM}'))
            AS BIGINT) AS tf
FROM documents
WHERE lang = '{FILTER_LANG}'
  AND len(list_filter({_TOKS_SQL}, t -> t = '{SINGLE_TERM}')) > 0
ORDER BY tf DESC, doc_id LIMIT {FILTER_K}
"""


EXTRA_QUERIES = {
    "query_likelihood": (q_query_likelihood, SQL_QUERY_LIKELIHOOD),
    "fuzzy_search": (q_fuzzy_search, SQL_FUZZY_SEARCH),
    "filtered_search": (q_filtered_search, SQL_FILTERED_SEARCH),
}
