"""Second transcript-analytics batch, each with an exact DuckDB twin.

Two timing/context reports over the ``(conv_id, turn_idx, role, text,
tool, ts)`` transcript table (BASELINE.json input_hint) that the first
batch (transcript_extras) left uncovered:

- ``turn_latency`` — the role-pair response-time matrix: mean gap
  seconds between consecutive turns grouped by (previous role → role).
  The latency twin of ``tool_transitions``'s count matrix; the signal an
  agent-serving team reads for "how long do tool calls stall the
  assistant".
- ``context_window_fill`` — at which turn a conversation's cumulative
  (whitespace-word) token count first exceeds the context budget: the
  distribution that sizes truncation policy for training-context
  packing. Conversations that never fill the budget are excluded (they
  need no truncation).

Exactness: timestamps ride ``unix_micros`` ≡ ``epoch_us`` int64; means
are one CAST-to-double division of exact int64 sums, identical on both
engines. Scale: both operators shuffle once on ``conv_id`` — the
transcript ingest key — and their windows are bounded by conversation
length (turns_per_conv), never corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .transcript_extras import _tx

CTX_BUDGET_WORDS = 128

# transcript CTE with ts (transcript_extras._TX_SQL omits it): mirrors
# synthesize_transcripts — fixed epoch + doc_id minutes
_TX_TS_SQL = """
  SELECT 'conv-' || CAST(doc_id // 8 AS BIGINT) AS conv_id,
         CAST(doc_id % 8 AS INT) AS turn_idx,
         CASE doc_id % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
              ELSE 'tool' END AS role,
         array_to_string((string_split(text, ' '))[1:40], ' ') AS text,
         TIMESTAMP '2024-01-01 00:00:00'
           + (doc_id % 1000000) * INTERVAL 1 MINUTE AS ts
  FROM documents
"""


# --------------------------------------------------------------------------
# role-pair turn latency matrix
# --------------------------------------------------------------------------

def q_turn_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean seconds between consecutive turns per (prev_role → role)
    pair. One lag window per conversation (bounded partitions keyed on
    the ingest key), one partial-aggregated shuffle on the tiny
    role-pair key; the mean divides exact int64 micro sums once."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = (
        _tx(spark, sf_dir)
        .select(
            "conv_id",
            "turn_idx",
            "role",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
        .withColumn("prev_role", F.lag("role").over(w))
        .withColumn("prev_us", F.lag("us").over(w))
        .filter(F.col("prev_role").isNotNull())
    )
    return (
        t.groupBy("prev_role", "role")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("us") - F.col("prev_us")).cast("long").alias("gap_us"),
        )
        .select(
            "prev_role",
            "role",
            "n",
            F.round(
                F.col("gap_us").cast("double") / F.col("n") / 1e6, 6
            ).alias("mean_gap_s"),
        )
        .orderBy("prev_role", "role")
    )


SQL_TURN_LATENCY = f"""
WITH tx AS ({_TX_TS_SQL}), lagged AS (
  SELECT conv_id, turn_idx, role, epoch_us(ts) AS us,
         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
           AS prev_role,
         lag(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY turn_idx)
           AS prev_us
  FROM tx
)
SELECT prev_role, role, CAST(count(*) AS BIGINT) AS n,
       round(CAST(CAST(sum(us - prev_us) AS BIGINT) AS DOUBLE)
             / CAST(count(*) AS BIGINT) / 1000000.0, 6) AS mean_gap_s
FROM lagged WHERE prev_role IS NOT NULL
GROUP BY prev_role, role ORDER BY prev_role, role
"""


# --------------------------------------------------------------------------
# context-budget fill distribution
# --------------------------------------------------------------------------

def q_context_window_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of the turn index at which a conversation's cumulative
    whitespace-word count first exceeds CTX_BUDGET_WORDS — the
    truncation-policy sizing curve. The running sum is a window bounded
    by conversation length (not a corpus prefix sum); conversations that
    never reach the budget are excluded."""
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = _tx(spark, sf_dir).select(
        "conv_id",
        "turn_idx",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("words"),
    )
    fills = (
        t.withColumn("cum", F.sum("words").over(w))
        .filter(F.col("cum") > CTX_BUDGET_WORDS)
        .groupBy("conv_id")
        .agg(F.min("turn_idx").alias("fill_turn"))
    )
    return (
        fills.groupBy("fill_turn")
        .agg(F.count(F.lit(1)).cast("long").alias("n_convs"))
        .orderBy("fill_turn")
    )


SQL_CONTEXT_WINDOW_FILL = f"""
WITH tx AS ({_TX_TS_SQL}), c AS (
  SELECT conv_id, turn_idx,
         sum(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (
           PARTITION BY conv_id ORDER BY turn_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM tx
), fills AS (
  SELECT conv_id, min(turn_idx) AS fill_turn FROM c
  WHERE cum > {CTX_BUDGET_WORDS} GROUP BY conv_id
)
SELECT fill_turn, CAST(count(*) AS BIGINT) AS n_convs
FROM fills GROUP BY fill_turn ORDER BY fill_turn
"""


EXTRA_QUERIES = {
    "turn_latency": (q_turn_latency, SQL_TURN_LATENCY),
    "context_window_fill": (q_context_window_fill, SQL_CONTEXT_WINDOW_FILL),
}
