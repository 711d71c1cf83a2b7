"""Agent-transcript analytics, each with an exact DuckDB twin.

The engine's canonical payload (BASELINE.json input_hint) is a table of
multi-turn conversation / agent transcripts ``(conv_id, turn_idx, role,
text, tool, ts)``. Beyond indexing them, an agent-data pipeline reports
on them:

- which tools are called, how often, from how many conversations
  (``tool_usage``);
- what follows what — the tool-transition matrix a router or planner is
  tuned from (``tool_transitions``);
- how tokens split across roles — the "how much assistant text do we
  actually have" question a training-mix owner asks
  (``role_token_share``);
- how much consecutive turns repeat each other — context redundancy /
  copy-forward detection (``turn_jaccard``);
- how verbosity drifts across a conversation (``turn_verbosity``).

All five run over the deterministic synthesized transcript table
(``sources/transcripts.py:synthesize_transcripts`` — pure doc_id
arithmetic, so each DuckDB twin re-synthesizes it inline; per-turn text
equality between the two synthesizers is itself oracle-checked by the
``transcripts_synth`` entry).

Exactness contract as in corpus_queries: counts/sums CAST to BIGINT on
both sides; every reordering-sensitive float mean rides int64 quanta
through the SUM (Jaccard ratios quantized to micro-units) with ONE
division back at the end; ratio columns are a single IEEE division of
exact int64 values, identical on both engines.

Scale notes: each operator is one partial-aggregated shuffle on a
natural key (tool, role, conv_id, turn_idx); the two window operators
shuffle once on ``conv_id`` — the same key the transcript ingest is
already laid out on, so at 100 TB these ride the existing partitioning
with no extra exchange. Token counting here is whitespace words (the
mix-report convention), not engine tokens — the engine-token variants
live in ``tokenize_count`` / ``token_count_bpe``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


# The synthesized transcript table as a DuckDB CTE body (mirrors
# synthesize_transcripts; proven per-turn identical by transcripts_synth).
_TX_SQL = """
  SELECT 'conv-' || CAST(doc_id // 8 AS BIGINT) AS conv_id,
         CAST(doc_id % 8 AS INT) AS turn_idx,
         CASE doc_id % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
              ELSE 'tool' END AS role,
         array_to_string((string_split(text, ' '))[1:40], ' ') AS text,
         CASE WHEN doc_id % 3 = 2 THEN 'tool_' || source END AS tool
  FROM documents
"""


def _tx(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.transcripts import synthesize_transcripts

    return synthesize_transcripts(spark, f"{sf_dir}/documents.parquet")


def _words():
    # built lazily: Column construction needs an active SparkContext
    return F.size(F.split(F.col("text"), " "))


_WORDS_SQL = "len(string_split(text, ' '))"


# --------------------------------------------------------------------------
# tool usage: call counts + reach + words emitted per tool
# --------------------------------------------------------------------------

def q_tool_usage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tool call report over tool turns: how often each tool fires,
    from how many distinct conversations, and how many words its output
    contributes. ONE partial-aggregated shuffle on the tiny tool key
    space (count-distinct expands to (tool, conv_id) partial dedup —
    still keyed, still combinable)."""
    return (
        _tx(spark, sf_dir)
        .filter(F.col("role") == "tool")
        .groupBy("tool")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_calls"),
            F.countDistinct("conv_id").cast("long").alias("n_convs"),
            F.sum(_words()).cast("long").alias("n_words"),
        )
        .orderBy(F.desc("n_calls"), "tool")
    )


SQL_TOOL_USAGE = f"""
WITH tx AS ({_TX_SQL})
SELECT tool, CAST(count(*) AS BIGINT) AS n_calls,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
       CAST(sum({_WORDS_SQL}) AS BIGINT) AS n_words
FROM tx WHERE role = 'tool'
GROUP BY tool ORDER BY n_calls DESC, tool
"""


# --------------------------------------------------------------------------
# tool transitions: the first-order Markov matrix over tool calls
# --------------------------------------------------------------------------

def q_tool_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which tool follows which within a conversation — the transition
    counts an agent router/planner is evaluated against. One window
    shuffle on conv_id (the ingest key) + one tiny keyed aggregation."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = (
        _tx(spark, sf_dir)
        .filter(F.col("role") == "tool")
        .select("conv_id", "turn_idx", "tool")
        .withColumn("prev_tool", F.lag("tool").over(w))
    )
    return (
        t.filter(F.col("prev_tool").isNotNull())
        .groupBy("prev_tool", F.col("tool").alias("next_tool"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_trans"))
        .orderBy(F.desc("n_trans"), "prev_tool", "next_tool")
    )


SQL_TOOL_TRANSITIONS = f"""
WITH tx AS ({_TX_SQL}),
t AS (
  SELECT conv_id, tool,
         lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_tool
  FROM tx WHERE role = 'tool'
)
SELECT prev_tool, tool AS next_tool, CAST(count(*) AS BIGINT) AS n_trans
FROM t WHERE prev_tool IS NOT NULL
GROUP BY prev_tool, next_tool
ORDER BY n_trans DESC, prev_tool, next_tool
"""


# --------------------------------------------------------------------------
# role token share: the training-mix split across user/assistant/tool
# --------------------------------------------------------------------------

def q_role_token_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Words per role and each role's share of the corpus — the number a
    data-mixing config quotes ("X% of tokens are assistant turns").
    Share = one IEEE division of two exact int64 sums; the 3-row global
    window is driver-trivial."""
    per_role = (
        _tx(spark, sf_dir)
        .groupBy("role")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.sum(_words()).cast("long").alias("n_words"),
        )
    )
    total = F.sum("n_words").over(Window.partitionBy())
    return (
        per_role.select(
            "role",
            "n_turns",
            "n_words",
            F.round(F.col("n_words") / total, 6).alias("token_share"),
        )
        .orderBy("role")
    )


SQL_ROLE_TOKEN_SHARE = f"""
WITH tx AS ({_TX_SQL}),
r AS (
  SELECT role, CAST(count(*) AS BIGINT) AS n_turns,
         CAST(sum({_WORDS_SQL}) AS BIGINT) AS n_words
  FROM tx GROUP BY role
)
SELECT role, n_turns, n_words,
       round(n_words / CAST(sum(n_words) OVER () AS BIGINT), 6) AS token_share
FROM r ORDER BY role
"""


# --------------------------------------------------------------------------
# consecutive-turn Jaccard: context redundancy within a conversation
# --------------------------------------------------------------------------

def q_turn_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation mean token-set Jaccard between consecutive turns
    — high values flag copy-forward / boilerplate-heavy transcripts a
    dedup pass should target at span level. Each pair's ratio is
    quantized to int64 micro-units BEFORE the per-conversation SUM (the
    mean of doubles is summation-order-dependent; the mean of int64
    quanta is not), one division back at the end."""
    toks = F.array_distinct(F.split(F.col("text"), " "))
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    d = (
        _tx(spark, sf_dir)
        .select("conv_id", "turn_idx", toks.alias("tk"))
        .withColumn("prev", F.lag("tk").over(w))
        .filter(F.col("prev").isNotNull())
    )
    ju = F.round(
        F.size(F.array_intersect("tk", "prev"))
        * 1000000.0
        / F.size(F.array_union("tk", "prev"))
    ).cast("long")
    return (
        d.select("conv_id", ju.alias("ju"))
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("ju").cast("long").alias("sum_ju"),
        )
        .select(
            "conv_id",
            "n_pairs",
            F.round(
                F.col("sum_ju") / F.col("n_pairs") / F.lit(1000000.0), 6
            ).alias("avg_jaccard"),
        )
        .orderBy("conv_id")
    )


SQL_TURN_JACCARD = f"""
WITH tx AS ({_TX_SQL}),
d AS (
  SELECT conv_id, turn_idx,
         list_distinct(string_split(text, ' ')) AS tk
  FROM tx
), p AS (
  SELECT conv_id, tk,
         lag(tk) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev
  FROM d
), j AS (
  SELECT conv_id,
         CAST(round(len(list_intersect(tk, prev)) * 1000000.0
                    / len(list_distinct(list_concat(tk, prev)))) AS BIGINT)
           AS ju
  FROM p WHERE prev IS NOT NULL
)
SELECT conv_id, CAST(count(*) AS BIGINT) AS n_pairs,
       round(CAST(sum(ju) AS BIGINT) / CAST(count(*) AS BIGINT)
             / 1000000.0, 6) AS avg_jaccard
FROM j GROUP BY conv_id ORDER BY conv_id
"""


# --------------------------------------------------------------------------
# verbosity by turn position: does turn length drift over a conversation?
# --------------------------------------------------------------------------

def q_turn_verbosity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean words per turn position — the "do conversations get wordier
    as they go" curve (context-length planning input). Keyed on the tiny
    turn_idx space; int64 word sums, one division at the end."""
    return (
        _tx(spark, sf_dir)
        .groupBy("turn_idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.sum(_words()).cast("long").alias("sum_words"),
        )
        .select(
            "turn_idx",
            "n_turns",
            F.round(F.col("sum_words") / F.col("n_turns"), 6).alias(
                "avg_words"
            ),
        )
        .orderBy("turn_idx")
    )


SQL_TURN_VERBOSITY = f"""
WITH tx AS ({_TX_SQL}),
r AS (
  SELECT turn_idx, CAST(count(*) AS BIGINT) AS n_turns,
         CAST(sum({_WORDS_SQL}) AS BIGINT) AS sum_words
  FROM tx GROUP BY turn_idx
)
SELECT turn_idx, n_turns, round(sum_words / n_turns, 6) AS avg_words
FROM r ORDER BY turn_idx
"""


EXTRA_QUERIES = {
    "tool_usage": (q_tool_usage, SQL_TOOL_USAGE),
    "tool_transitions": (q_tool_transitions, SQL_TOOL_TRANSITIONS),
    "role_token_share": (q_role_token_share, SQL_ROLE_TOKEN_SHARE),
    "turn_jaccard": (q_turn_jaccard, SQL_TURN_JACCARD),
    "turn_verbosity": (q_turn_verbosity, SQL_TURN_VERBOSITY),
}
