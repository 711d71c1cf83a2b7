"""Statistical / relational extras, each with an exact DuckDB twin.

Four operators rounding out the engine's analytics families:

- TPC-H Q10-shaped returned-revenue join — the 3-table
  customer×orders×lineitem revenue rollup with date + returnflag
  filters pushed to the scans and the customer dim broadcast.
- bigram language-model scoring — per-document mean Laplace-smoothed
  bigram log-probability (the next step up from the unigram LM
  operator): fluency/quality signal with corpus-derived statistics.
- IQR outlier detection — Tukey fences per event_type over exact
  quantiles (the robust-statistics complement to the percentile
  operator).
- OOV rate — per-document out-of-vocabulary fraction against the
  corpus top-V vocabulary (tokenizer-coverage metric an LM data
  pipeline tracks per source).

Exactness contract as in corpus_queries: money and probabilities ride
int64 quanta through any reordering-sensitive SUM; quantile arithmetic
applies identical IEEE ops to identical inputs on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .corpus_queries import (
    _BIGRAMS_SQL,
    _TOKS_SQL,
    _bigrams,
    _events,
    _tokens_df,
)
from .tpch_extras import _REV_UNITS_SQL, _rev_units

# --------------------------------------------------------------------------
# TPC-H Q10 shape: returned-item revenue per customer
# --------------------------------------------------------------------------

Q10_DATE_LO = "1996-01-01"
Q10_DATE_HI = "1996-04-01"  # exclusive: one quarter
Q10_TOPK = 20


def q_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: revenue lost to returned items per customer over one
    quarter. Plan shape at 100 TB: both filters (order-date range,
    returnflag) push into the parquet scans BEFORE the join; the orders
    side shrinks to one quarter, lineitem to returned rows; customer is
    the broadcast dim. Revenue = Σ extendedprice·(1-discount) computed
    as exact int64 cents × basis-points — the float product sum is
    order-dependent, the integer sum is not; one division back at the
    end."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        (F.col("o_orderdate") >= F.lit(Q10_DATE_LO))
        & (F.col("o_orderdate") < F.lit(Q10_DATE_HI))
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_returnflag") == "R"
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name"
    )
    rev_u = _rev_units()  # the ONE exact-money convention (tpch_extras)
    per_cust = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            (F.sum(rev_u) / F.lit(10000.0)).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )
    return (
        per_cust.join(F.broadcast(cust), per_cust.o_custkey == cust.c_custkey)
        .select(
            F.col("c_custkey").cast("long").alias("custkey"),
            "c_name",
            "revenue",
            "n_items",
        )
        .orderBy(F.desc("revenue"), F.asc("custkey"))
        .limit(Q10_TOPK)
    )


SQL_RETURNED_REVENUE = f"""
SELECT CAST(c_custkey AS BIGINT) AS custkey, c_name,
       CAST(sum({_REV_UNITS_SQL}) AS BIGINT) / 10000.0 AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '{Q10_DATE_LO}'
  AND o_orderdate < TIMESTAMP '{Q10_DATE_HI}'
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, custkey ASC LIMIT {Q10_TOPK}
"""


# --------------------------------------------------------------------------
# bigram LM: per-doc mean Laplace-smoothed bigram log-probability
# --------------------------------------------------------------------------


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/KenLM-shaped fluency signal, one order up from the unigram
    operator: mean ln P(w2|w1) per document under the corpus bigram LM
    with Laplace smoothing, P = (c(w1 w2)+1)/(c(w1 ·)+V). Counts come
    from one bigram aggregation (vocab²-bounded but Zipf-small in
    practice); the per-doc pass joins doc bigrams to the count tables on
    the bigram key — at 100 TB both count tables are vocab-sized
    (shuffle-join or broadcast by size). Each bigram's ln is an exact
    ratio of int64s quantized to micro-units BEFORE the per-doc sum."""
    toks = _tokens_df(spark, sf_dir).filter(F.size("toks") >= 2)
    doc_bg = toks.select(
        "doc_id", F.explode(_bigrams(F.col("toks"))).alias("bg")
    )
    c12 = doc_bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    c1 = (
        doc_bg.select(F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab_n = (
        _tokens_df(spark, sf_dir)
        .select(F.explode("toks").alias("term"))
        .agg(F.count_distinct("term").alias("v"))
    )
    lp_u = F.round(
        F.log(
            (F.col("c12") + 1).cast("double")
            / (F.col("c1") + F.col("v")).cast("double")
        )
        * 1000000.0,
        0,
    ).cast("long")
    return (
        doc_bg.join(c12, "bg")
        .join(c1, F.split_part(F.col("bg"), F.lit(" "), F.lit(1)) == F.col("w1"))
        .crossJoin(F.broadcast(vocab_n))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(
                (F.sum(lp_u) / F.lit(1000000.0)) / F.count(F.lit(1)), 6
            ).alias("mean_lp"),
        )
        .orderBy("doc_id")
    )


SQL_BIGRAM_LOGPROB = f"""
WITH doc_bg AS (
  SELECT doc_id, unnest({_BIGRAMS_SQL}) AS bg FROM documents
  WHERE len({_TOKS_SQL}) >= 2
), c12 AS (
  SELECT bg, count(*) AS c12 FROM doc_bg GROUP BY bg
), c1 AS (
  SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1
  FROM doc_bg GROUP BY w1
), vocab_n AS (
  SELECT count(DISTINCT term) AS v FROM (
    SELECT unnest({_TOKS_SQL}) AS term FROM documents
  )
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round((CAST(sum(CAST(round(ln(CAST(c12 + 1 AS DOUBLE)
                                   / CAST(c1 + v AS DOUBLE)) * 1000000.0)
                            AS BIGINT)) AS BIGINT) / 1000000.0)
             / count(*), 6) AS mean_lp
FROM doc_bg
JOIN c12 USING (bg)
JOIN c1 ON split_part(bg, ' ', 1) = w1
CROSS JOIN vocab_n
GROUP BY doc_id ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# IQR (Tukey) outliers per event_type
# --------------------------------------------------------------------------

IQR_K = 1.5


def q_iqr_outliers(
    spark: SparkSession, sf_dir: str, approx: bool = False,
    accuracy: int = None,
) -> DataFrame:
    """Tukey-fence outlier detection per event_type: values outside
    [p25 − 1.5·IQR, p75 + 1.5·IQR]. Quantiles are exact by default (same
    mechanism as value_percentiles — interpolating percentile, identical
    between engines); the fences are the same IEEE ops on those
    identical doubles. Two grouped passes over events (quantiles, then a
    broadcast-joined filter-count). ``approx=True`` is the 100 TB path:
    the quantile pass becomes a mergeable percentile_approx sketch with
    rank error <= n/accuracy (fence drift is tolerance-tested in
    tests/test_approx_quantiles.py)."""
    from .corpus_queries import APPROX_PCT_ACCURACY

    acc = accuracy or APPROX_PCT_ACCURACY
    ev = _events(spark, sf_dir)
    if approx:
        q = ev.groupBy("event_type").agg(
            F.percentile_approx("value", F.lit(0.25), F.lit(acc)).alias("p25"),
            F.percentile_approx("value", F.lit(0.75), F.lit(acc)).alias("p75"),
        )
    else:
        q = ev.groupBy("event_type").agg(
            F.percentile("value", F.lit(0.25)).alias("p25"),
            F.percentile("value", F.lit(0.75)).alias("p75"),
        )
    fences = q.select(
        "event_type",
        (F.col("p25") - F.lit(IQR_K) * (F.col("p75") - F.col("p25"))).alias(
            "lo"
        ),
        (F.col("p75") + F.lit(IQR_K) * (F.col("p75") - F.col("p25"))).alias(
            "hi"
        ),
    )
    out = F.col("value").isNotNull() & (
        (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))
    )
    return (
        ev.join(F.broadcast(fences), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(F.when(out, 1).otherwise(0)).cast("long").alias(
                "n_outliers"
            ),
            F.min(F.when(out, F.col("value"))).alias("min_outlier"),
            F.max(F.when(out, F.col("value"))).alias("max_outlier"),
        )
        .orderBy("event_type")
    )


SQL_IQR_OUTLIERS = f"""
WITH q AS (
  SELECT event_type,
         quantile_cont(value, 0.25) AS p25,
         quantile_cont(value, 0.75) AS p75
  FROM events GROUP BY event_type
), fences AS (
  SELECT event_type,
         p25 - {IQR_K} * (p75 - p25) AS lo,
         p75 + {IQR_K} * (p75 - p25) AS hi
  FROM q
)
SELECT event_type,
       CAST(count(*) FILTER (WHERE value < lo OR value > hi) AS BIGINT)
         AS n_outliers,
       min(value) FILTER (WHERE value < lo OR value > hi) AS min_outlier,
       max(value) FILTER (WHERE value < lo OR value > hi) AS max_outlier
FROM events JOIN fences USING (event_type)
GROUP BY event_type ORDER BY event_type
"""


# --------------------------------------------------------------------------
# OOV rate per document vs the corpus top-V vocabulary
# --------------------------------------------------------------------------

OOV_VOCAB_SIZE = 20


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage metric: per-document fraction of token
    occurrences outside the corpus top-``OOV_VOCAB_SIZE`` vocabulary
    (by total frequency, term-asc tie-break). The vocabulary is
    broadcast (top-V is tiny by construction); the per-doc pass is one
    explode + left-semi mark + groupBy(doc_id). Rate = one exact int
    division, round-6."""
    toks = _tokens_df(spark, sf_dir)
    occ = toks.select("doc_id", F.explode("toks").alias("term"))
    vocab = (
        occ.groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(OOV_VOCAB_SIZE)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    return (
        occ.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(
                F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"),
                6,
            ).alias("oov_rate"),
        )
        .orderBy("doc_id")
    )


SQL_OOV_RATE = f"""
WITH occ AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
), vocab AS (
  SELECT term FROM (
    SELECT term, count(*) AS tf FROM occ GROUP BY term
    ORDER BY tf DESC, term ASC LIMIT {OOV_VOCAB_SIZE}
  )
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(*) FILTER (WHERE term NOT IN (SELECT term FROM vocab))
            AS BIGINT) AS n_oov,
       round(CAST(count(*) FILTER (
                WHERE term NOT IN (SELECT term FROM vocab)) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS oov_rate
FROM occ GROUP BY doc_id ORDER BY doc_id
"""


EXTRA_QUERIES = {
    "returned_revenue": (q_returned_revenue, SQL_RETURNED_REVENUE),
    "bigram_logprob": (q_bigram_logprob, SQL_BIGRAM_LOGPROB),
    "iqr_outliers": (q_iqr_outliers, SQL_IQR_OUTLIERS),
    "oov_rate": (q_oov_rate, SQL_OOV_RATE),
}
