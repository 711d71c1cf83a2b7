"""Event-stream analytics extras, each with an exact DuckDB twin.

Three operators over the events table rounding out the behavioral
family (windows/sessionization/funnel/retention already exist):

- ``event_transitions`` — the first-order Markov matrix over each
  user's event sequence (what follows what): the behavioral twin of the
  transcript ``tool_transitions`` operator, and the statistic a
  next-action model or anomaly detector is sanity-checked against.
- ``daily_anomalies`` — per-day event volume with a z-score against the
  period's own mean/σ and an |z| > 2 flag: the load-anomaly report an
  ingest pipeline alerts from. Moments come from exact int64 Σx/Σx²
  over the (tiny) per-day count table.
- ``hourly_load`` — events and value by hour-of-day: the diurnal load
  profile capacity planning reads. Value rides int64 cents.

Exactness contract as elsewhere: counts/sums CAST to BIGINT; day
indices are integer epoch-microsecond arithmetic (floor of an exact
double division — epoch_us < 2^53, so the division is exact on both
engines); z is one identical IEEE mean/variance/sqrt/divide chain.

Scale notes: event_transitions shuffles once on user_id (the
sessionization key); daily_anomalies and hourly_load are single
partial-aggregated shuffles onto tiny key spaces (days, 24 hours), and
the anomaly moments broadcast back over the per-day table, never the
raw events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .corpus_queries import _events

_US_PER_DAY = 86400000000.0


# --------------------------------------------------------------------------
# per-user event-type transition matrix
# --------------------------------------------------------------------------

def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which event type follows which within a user's stream, ordered by
    (ts, event_id) — the event_id tiebreak makes equal-timestamp
    ordering deterministic on both engines."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        _events(spark, sf_dir)
        .select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
    )
    return (
        t.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_trans"))
        .orderBy(F.desc("n_trans"), "prev_type", "next_type")
    )


SQL_EVENT_TRANSITIONS = """
WITH t AS (
  SELECT event_type,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type,
       CAST(count(*) AS BIGINT) AS n_trans
FROM t WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
ORDER BY n_trans DESC, prev_type, next_type
"""


# --------------------------------------------------------------------------
# daily volume anomalies (z-score over the period's own distribution)
# --------------------------------------------------------------------------

Z_FLAG = 2.0


def q_daily_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day event counts flagged when |z| > 2 against the period's
    mean/σ. The per-day table is tiny (one row per day), so the moment
    aggregate broadcasts back onto it; degenerate periods (σ = 0) score
    z = 0 rather than NaN."""
    ev = _events(spark, sf_dir).select(
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(_US_PER_DAY)
        )
        .cast("long")
        .alias("day_idx")
    )
    days = ev.groupBy("day_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    mom = days.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_events").cast("long").alias("sx"),
        F.sum(F.col("n_events") * F.col("n_events"))
        .cast("long")
        .alias("sxx"),
    )
    mean = F.col("sx").cast("double") / F.col("k").cast("double")
    # greatest(var, 0): DuckDB sqrt raises on a one-ulp-negative variance
    # (FP cancellation when all counts are equal and huge) where Spark
    # yields NaN — clamp identically on both sides
    sd = F.sqrt(
        F.greatest(
            F.col("sxx").cast("double") / F.col("k").cast("double")
            - mean * mean,
            F.lit(0.0),
        )
    )
    z = F.when(
        sd > 0,
        F.round((F.col("n_events").cast("double") - mean) / sd, 6),
    ).otherwise(F.lit(0.0))
    return (
        days.crossJoin(F.broadcast(mom))
        .select(
            "day_idx",
            "n_events",
            z.alias("z"),
            (F.abs(z) > Z_FLAG).alias("is_anomaly"),
        )
        .orderBy("day_idx")
    )


SQL_DAILY_ANOMALIES = f"""
WITH days AS (
  SELECT CAST(floor(epoch_us(ts) / {_US_PER_DAY}) AS BIGINT) AS day_idx,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n_events) AS BIGINT) AS sx,
         CAST(sum(n_events * n_events) AS BIGINT) AS sxx
  FROM days
),
z AS (
  SELECT d.day_idx, d.n_events,
         CASE WHEN sqrt(greatest(
                        CAST(m.sxx AS DOUBLE) / CAST(m.k AS DOUBLE)
                        - (CAST(m.sx AS DOUBLE) / CAST(m.k AS DOUBLE))
                          * (CAST(m.sx AS DOUBLE) / CAST(m.k AS DOUBLE)),
                        0.0)) > 0
              THEN round((CAST(d.n_events AS DOUBLE)
                          - CAST(m.sx AS DOUBLE) / CAST(m.k AS DOUBLE))
                         / sqrt(greatest(
                                CAST(m.sxx AS DOUBLE) / CAST(m.k AS DOUBLE)
                                - (CAST(m.sx AS DOUBLE)
                                   / CAST(m.k AS DOUBLE))
                                  * (CAST(m.sx AS DOUBLE)
                                     / CAST(m.k AS DOUBLE)),
                                0.0)), 6)
              ELSE 0.0 END AS z
  FROM days d CROSS JOIN m
)
SELECT day_idx, n_events, z, abs(z) > {Z_FLAG} AS is_anomaly
FROM z ORDER BY day_idx
"""


# --------------------------------------------------------------------------
# diurnal load profile
# --------------------------------------------------------------------------

def q_hourly_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events and value by hour-of-day (UTC) — the capacity-planning
    curve. Value sums ride int64 cents."""
    ev = _events(spark, sf_dir).select(
        F.hour("ts").cast("long").alias("hour"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return (
        ev.groupBy("hour")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("cents") / 100.0, 2).alias("sum_value"),
        )
        .orderBy("hour")
    )


SQL_HOURLY_LOAD = """
WITH ev AS (
  SELECT CAST(hour(ts) AS BIGINT) AS hour,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT hour, CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(cents) AS BIGINT) / 100.0, 2) AS sum_value
FROM ev GROUP BY hour ORDER BY hour
"""


EXTRA_QUERIES = {
    "event_transitions": (q_event_transitions, SQL_EVENT_TRANSITIONS),
    "daily_anomalies": (q_daily_anomalies, SQL_DAILY_ANOMALIES),
    "hourly_load": (q_hourly_load, SQL_HOURLY_LOAD),
}
