"""Containment near-dup pairs — the subset-duplicate detector Jaccard
misses, with an exact DuckDB twin.

``dedup_containment_pairs``: shingle CONTAINMENT ``|A∩B| / min(|A|,|B|)``
over the same capped inverted-list join as ``ngram_jaccard_pairs``. A
short document fully quoted inside a long one has low Jaccard (the union
is dominated by the long doc) but containment ≈ 1 — exactly the
quote/expansion duplication an LLM-corpus dedup pass must catch that the
symmetric measures cannot. Same scale bound as the Jaccard operator:
the SHINGLE_DF_CAP filter keeps the equi-join ≤ |shingles|·CAP² rows
regardless of corpus size; denominators count pre-cap shingles so
boilerplate-heavy docs don't inflate their own containment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .corpus_queries import (
    SHINGLE_DF_CAP,
    SHINGLE_N,
    _SHINGLES_SQL,
    _TOKS_SQL,
    _shingles,
    _tokens_df,
)

CONTAIN_MIN = 0.5


def q_dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs (doc_a < doc_b) with shingle containment ≥ CONTAIN_MIN.
    Plan identical to ngram_jaccard_pairs up to the final ratio: capped
    inverted-list equi-join (never all-pairs), per-doc sizes from a
    partial-aggregated count, one exact-int division."""
    toks = _tokens_df(spark, sf_dir).filter(F.size("toks") >= SHINGLE_N)
    sh_all = toks.select(
        "doc_id", F.explode(_shingles(F.col("toks"))).alias("sh")
    )
    rare = (
        sh_all.groupBy("sh")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") <= SHINGLE_DF_CAP)
        .select("sh")
    )
    sh = sh_all.join(rare, "sh")
    sizes = sh_all.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    out = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("common")
                / F.least(F.col("na"), F.col("nb")).cast("double"),
                6,
            ).alias("containment"),
        )
        .filter(F.col("containment") >= CONTAIN_MIN)
    )
    return out.orderBy("doc_a", "doc_b")


SQL_DEDUP_CONTAINMENT_PAIRS = f"""
WITH sh_all AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS sh FROM documents
  WHERE len({_TOKS_SQL}) >= {SHINGLE_N}
), rare AS (
  SELECT sh FROM (
    SELECT sh, count(DISTINCT doc_id) AS df FROM sh_all GROUP BY sh
  ) WHERE df <= {SHINGLE_DF_CAP}
), sh AS (
  SELECT sh_all.doc_id, sh_all.sh FROM sh_all JOIN rare USING (sh)
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh_all GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(common / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE), 6)
         AS containment
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(common / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE), 6)
        >= {CONTAIN_MIN}
ORDER BY doc_a, doc_b
"""


EXTRA_QUERIES = {
    "dedup_containment_pairs": (
        q_dedup_containment_pairs,
        SQL_DEDUP_CONTAINMENT_PAIRS,
    ),
}
