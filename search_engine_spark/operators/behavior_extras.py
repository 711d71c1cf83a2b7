"""Behavioral / lifecycle analytics extras, each with an exact DuckDB twin.

The event-log and customer-table operators an analytics engine is asked
for right after sessionization (reference scope: SURVEY.md §2's events
table; these extend the `sessionize`/`events_windowed` family):

- cohort retention — weekly signup-cohort × activity-week matrix, THE
  standard retention report.
- funnel stages — strictly-ordered view→click→purchase progression
  counts (each stage's first hit must follow the previous stage's).
- RFM — per-customer recency/frequency/monetary rollup over orders.
- k-means clustering — Lloyd's algorithm over the embeddings table,
  2 unrolled iterations from deterministic seeds: the document-cluster
  step of a data-mixing pipeline. Centroids are driver/broadcast state
  BY DESIGN (k · dim doubles — that is how distributed k-means works at
  any scale); the per-point work is one broadcast-literal distance
  expression, no shuffle except the k-row partial-agg updates.

Exactness contract (same as corpus_queries): timestamps compare as
int64 epoch-micros, money as int64 cents, and centroid updates sum
int64 quantized components — so every float in the output is a single
IEEE op on exact integers, bit-identical on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .corpus_queries import (
    _embeddings,
    _events,
    _km_assign,
    _km_sql_assign,
    _km_sql_update,
    _km_update,
)

_WEEK_US = 7 * 86400 * 1_000_000

# --------------------------------------------------------------------------
# cohort retention: signup week × activity week-offset matrix
# --------------------------------------------------------------------------


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users grouped by their first-activity
    week (cohort), counted in each later week they were active. One
    distinct (user, week) pass feeds both the cohort assignment and the
    activity matrix; the join key is user_id — the natural entity key,
    so at 100 TB this is one shuffle each side, no skew beyond real user
    skew. Week offsets are exact integer arithmetic on epoch-micros of
    week-truncated timestamps (differences are exact multiples of a
    week)."""
    ev = _events(spark, sf_dir)
    act = ev.select(
        "user_id", F.date_trunc("week", F.col("ts").cast("timestamp")).alias("wk")
    ).distinct()
    cohort = act.groupBy("user_id").agg(F.min("wk").alias("cw"))
    offset = (
        (F.unix_micros("wk") - F.unix_micros("cw")) / F.lit(_WEEK_US)
    ).cast("long")
    return (
        act.join(cohort, "user_id")
        .groupBy(
            F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
            offset.alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


SQL_COHORT_RETENTION = f"""
WITH act AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
), cohort AS (
  SELECT user_id, min(wk) AS cw FROM act GROUP BY user_id
)
SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
       CAST((epoch_us(wk) - epoch_us(cw)) // {_WEEK_US} AS BIGINT)
         AS week_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM act JOIN cohort USING (user_id)
GROUP BY cohort_week, week_offset
ORDER BY cohort_week, week_offset
"""


# --------------------------------------------------------------------------
# funnel stages: strictly-ordered view -> click -> purchase progression
# --------------------------------------------------------------------------

FUNNEL = ["view", "click", "purchase"]


def q_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel conversion: a user reaches stage N when their
    first stage-N event is strictly AFTER their first stage-(N-1) hit —
    not a mere event-type histogram. Each stage is a groupBy(user) min
    over the previous stage's survivors, so the plan is a chain of
    per-user aggregations joined on user_id (the entity key); no
    windows, no self-join fan-out. Times compare as int64 micros."""
    ev = _events(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    stage_frames = []
    prev = None
    for etype in FUNNEL:
        cur = ev.filter(F.col("event_type") == etype).select(
            "user_id", us.alias("us")
        )
        if prev is not None:
            cur = cur.join(prev, "user_id").filter(F.col("us") > F.col("t"))
        cur = cur.groupBy("user_id").agg(F.min("us").alias("t"))
        stage_frames.append(cur)
        prev = cur
    out = None
    for i, (etype, frame) in enumerate(zip(FUNNEL, stage_frames)):
        row = frame.agg(
            F.lit(f"{i + 1}_{etype}").alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("stage")


SQL_FUNNEL_STAGES = """
WITH s1 AS (
  SELECT user_id, min(epoch_us(ts)) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t
  FROM events e JOIN s1 ON e.user_id = s1.user_id AND epoch_us(e.ts) > s1.t
  WHERE e.event_type = 'click' GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t
  FROM events e JOIN s2 ON e.user_id = s2.user_id AND epoch_us(e.ts) > s2.t
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM s1
UNION ALL
SELECT '2_click', CAST(count(*) AS BIGINT) FROM s2
UNION ALL
SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM s3
ORDER BY stage
"""


# --------------------------------------------------------------------------
# RFM: per-customer recency / frequency / monetary rollup
# --------------------------------------------------------------------------


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic RFM table over orders: days since last order (relative to
    the dataset's max order date), order count, and lifetime value. One
    partial-aggregated shuffle on o_custkey plus a broadcast one-row max
    — the same shape at any scale. Money sums as int64 cents (the float
    sum of prices is order-dependent); one division back to dollars."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    mx = orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("maxd"))
    per = orders.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100.0, 0).cast("long")).alias(
            "cents"
        ),
    )
    return (
        per.crossJoin(F.broadcast(mx))
        .select(
            F.col("o_custkey").alias("custkey"),
            F.datediff("maxd", "last_d").cast("long").alias("recency_days"),
            "frequency",
            (F.col("cents") / F.lit(100.0)).alias("monetary"),
        )
        .orderBy("custkey")
    )


SQL_RFM_SEGMENTS = """
WITH mx AS (SELECT CAST(max(o_orderdate) AS DATE) AS maxd FROM orders)
SELECT o_custkey AS custkey,
       CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
                      (SELECT maxd FROM mx)) AS BIGINT) AS recency_days,
       CAST(count(*) AS BIGINT) AS frequency,
       CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
         / 100.0 AS monetary
FROM orders GROUP BY o_custkey ORDER BY custkey
"""


# --------------------------------------------------------------------------
# k-means over embeddings: 2 unrolled Lloyd iterations, deterministic seeds
# --------------------------------------------------------------------------

KMEANS_K = 4
KMEANS_ITERS = 2


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document clustering for data mixing: Lloyd's k-means over the
    embeddings table, k=4, exactly 2 iterations from deterministic seeds
    (vectors 0..3) so the result is a fixed function of the input. The
    scale shape is canonical distributed k-means: centroids live on the
    driver and enter the plan as broadcast literals (k·dim doubles);
    each iteration is ONE narrow map (distance argmin) plus ONE
    partial-aggregated shuffle producing k rows of per-dimension sums.
    Component sums are quantized to int64 (×1e8) so the recomputed
    means do not depend on float summation order — the mean is then a
    single exact-int division, bit-identical to the SQL twin's unrolled
    iterations."""
    emb = _embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("ee")
    )
    init = {
        int(r["vec_id"]): list(r["ee"])
        for r in emb.filter(F.col("vec_id") < KMEANS_K).collect()
    }
    assigned = _km_assign(emb, init)
    for _ in range(KMEANS_ITERS - 1):
        # centroid update only BETWEEN assignments: updating after the
        # final assignment would run a full (and discarded) aggregation
        # job per invocation
        assigned = _km_assign(emb, _km_update(assigned))
    return (
        assigned.groupBy(F.col("cluster").cast("long").alias("cluster_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        .orderBy("cluster_id")
    )


SQL_KMEANS_CLUSTERS = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ee FROM embeddings
), c0 AS (
  SELECT vec_id AS cid, ee AS ce FROM e WHERE vec_id < {KMEANS_K}
),{_km_sql_assign("e", "c0", "a1")},{_km_sql_update("a1", "c1")},{_km_sql_assign("e", "c1", "a2")}
SELECT CAST(cluster AS BIGINT) AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_members
FROM a2 GROUP BY cluster ORDER BY cluster_id
"""


EXTRA_QUERIES = {
    "cohort_retention": (q_cohort_retention, SQL_COHORT_RETENTION),
    "funnel_stages": (q_funnel_stages, SQL_FUNNEL_STAGES),
    "rfm_segments": (q_rfm_segments, SQL_RFM_SEGMENTS),
    "kmeans_clusters": (q_kmeans_clusters, SQL_KMEANS_CLUSTERS),
}
