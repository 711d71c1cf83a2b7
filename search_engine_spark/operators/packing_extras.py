"""Training-data pipeline extras, fourth batch — each with a DuckDB twin.

Three operators between "filtered corpus" and "training batches" that a
100 TB pretraining pipeline runs after the quality/dedup gates:

- **Sequence packing**: assign documents, in deterministic doc_id order,
  to fixed token-budget training contexts (the "sample packing" step
  that turns a ragged corpus into dense ~context-length rows). The
  streaming-concat formulation: a document's bin is
  ``floor(tokens_before_it / budget)`` — documents may straddle a bin
  boundary, exactly like token-level concat-then-chunk packing (GPT-style
  pretraining), where examples are split across context windows.
- **Mixture weights**: per-(lang, source) token shares plus the
  up/down-sampling factor that would equalize the mixture — the numbers
  a data-mixing config is written from.
- **CCNet buckets**: per-language head/middle/tail terciles by unigram-LM
  log-probability (CCNet's published pipeline splits each language by
  LM perplexity into exactly these three buckets and trains mostly on
  head+middle). Value-based bucketing from two boundary quantiles — no
  per-language global sort window.

Driver-contract conventions as everywhere: identical aliases on both
sides, integers wherever exactness matters, round-6 floats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .corpus_queries import _TOKS_SQL, _docs, _tokens_df

# --------------------------------------------------------------------------
# sequence packing into fixed token-budget bins
# --------------------------------------------------------------------------

PACK_BUDGET = 2048  # tokens per training context


# docs per prefix-sum bucket: bucket = doc_id DIV PACK_BUCKET is a PURE
# FUNCTION of the key — unlike repartitionByRange's sampled boundaries it
# cannot shift between the offsets pass and the output pass, so the
# operator needs no persist and no collect to be deterministic
PACK_BUCKET = 16384


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bin packing summary: (bin_id, n_docs, n_tokens, first_doc,
    last_doc) where bin_id = floor(prefix_tokens / budget) over docs in
    ascending doc_id order.

    The global prefix sum is two-level, with NO global single-partition
    window over the corpus: docs hash to buckets by ``doc_id DIV
    16384``; per-bucket token totals (corpus/16384 rows) get their
    running offsets in one tiny ordered window; the offsets broadcast
    back and the within-bucket running sum is a bucket-partitioned
    window (bounded, parallel). At 10^11 docs the bucket frame is ~6M
    rows — if that ever dominates, add a third level the same way."""
    t = _tokens_df(spark, sf_dir).select(
        "doc_id",
        F.size("toks").cast("long").alias("n"),
        F.expr(f"CAST(doc_id DIV {PACK_BUCKET} AS BIGINT)").alias("bucket"),
    )
    wb = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boff = (
        t.groupBy("bucket")
        .agg(F.sum("n").alias("bn"))
        .withColumn("boff", F.coalesce(F.sum("bn").over(wb), F.lit(0)))
        .select("bucket", "boff")
    )
    wd = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = (
        F.col("boff") + F.coalesce(F.sum("n").over(wd), F.lit(0))
    ).alias("off")
    return (
        t.join(F.broadcast(boff), "bucket")
        .select("doc_id", "n", off)
        .select(
            "doc_id",
            "n",
            F.expr(f"CAST(off DIV {PACK_BUDGET} AS BIGINT)").alias("bin_id"),
        )
        .groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("bin_id")
    )


SQL_PACK_SEQUENCES = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n FROM documents
), c AS (
  SELECT doc_id, n,
         CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS off
  FROM t
)
SELECT CAST(off // {PACK_BUDGET} AS BIGINT) AS bin_id,
       count(*) AS n_docs,
       CAST(sum(n) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM c GROUP BY bin_id ORDER BY bin_id
"""


# --------------------------------------------------------------------------
# data-mixture weights per (lang, source)
# --------------------------------------------------------------------------

def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) mixture table: document/token counts, the
    group's token share of the corpus, and the resampling factor that
    would equalize the mixture across groups (factor > 1 = upsample).
    Two tiny aggregations — the groups frame is |lang|x|source| rows, so
    the totals side broadcasts; at 100 TB this is one map-side-combined
    shuffle over the corpus and driver-sized math after it."""
    toks = _tokens_df(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "source")
    g = (
        toks.join(docs, "doc_id")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("toks").cast("long")).alias("n_tokens"),
        )
    )
    tot = g.agg(
        F.sum("n_tokens").alias("total"),
        F.count(F.lit(1)).alias("n_groups"),
    )
    share = F.round(
        F.col("n_tokens").cast("double") / F.col("total").cast("double"), 6
    )
    factor = F.round(
        F.col("total").cast("double")
        / (F.col("n_groups").cast("double") * F.col("n_tokens").cast("double")),
        6,
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n_docs",
            "n_tokens",
            share.alias("token_share"),
            factor.alias("uniform_factor"),
        )
        .orderBy("lang", "source")
    )


SQL_MIXTURE_WEIGHTS = f"""
WITH g AS (
  SELECT d.lang, d.source,
         count(*) AS n_docs,
         CAST(sum(len({_TOKS_SQL})) AS BIGINT) AS n_tokens
  FROM documents d GROUP BY d.lang, d.source
), tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS total, count(*) AS n_groups FROM g
)
SELECT lang, source, n_docs, n_tokens,
       round(CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE), 6)
         AS token_share,
       round(CAST(total AS DOUBLE)
             / (CAST(n_groups AS DOUBLE) * CAST(n_tokens AS DOUBLE)), 6)
         AS uniform_factor
FROM g CROSS JOIN tot ORDER BY lang, source
"""


# --------------------------------------------------------------------------
# CCNet-style per-language perplexity terciles
# --------------------------------------------------------------------------

def _doc_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, score): per-doc mean unigram log-prob under the
    corpus LM, round-6 BEFORE bucketing so both sides bucket the exact
    same value (same LM construction as pipeline_extras.unigram_logprob)."""
    toks = _tokens_df(spark, sf_dir)
    doc_terms = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tf = doc_terms.groupBy("term").agg(F.sum("c").alias("tf"))
    total = tf.agg(F.sum("tf").alias("total"))
    lp = F.col("c") * F.log(
        F.col("tf").cast("double") / F.col("total").cast("double")
    )
    scores = (
        doc_terms.join(F.broadcast(tf), "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(lp) / F.sum("c").cast("double"), 6).alias("score")
        )
    )
    langs = _docs(spark, sf_dir).select("doc_id", "lang")
    return scores.join(langs, "doc_id")


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language head/middle/tail LM-quality buckets (CCNet: each
    language split by LM perplexity into terciles; training mostly reads
    head+middle). Value-based bucketing: the two tercile boundaries per
    language come from ONE grouped percentile aggregate (|langs| rows,
    broadcast back), each doc's bucket is a map-side comparison, and the
    output is a tiny rollup — no per-language global sort window, which
    is the 100 TB difference (an ``ntile(3) OVER (PARTITION BY lang
    ORDER BY score)`` funnels every language through one task)."""
    scored = _doc_lm_scores(spark, sf_dir)
    bounds = scored.groupBy("lang").agg(
        F.percentile(
            "score", F.array(F.lit(1.0 / 3.0), F.lit(2.0 / 3.0))
        ).alias("bs")
    )
    # ascending terciles of log-prob: 1 = lowest (tail), 3 = highest
    # (head = lowest perplexity)
    tier = (
        F.aggregate(
            F.col("bs"),
            F.lit(0),
            lambda acc, b: acc + F.when(F.col("score") > b, 1).otherwise(0),
        )
        + 1
    )
    label = F.element_at(
        F.array(F.lit("tail"), F.lit("middle"), F.lit("head")), tier
    )
    return (
        scored.join(F.broadcast(bounds), "lang")
        .select("lang", "doc_id", "score", label.alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
        )
        .orderBy("lang", "bucket")
    )


SQL_CCNET_BUCKETS = f"""
WITH doc_terms AS (
  SELECT doc_id, term, count(*) AS c FROM (
    SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
  ) GROUP BY doc_id, term
), tf AS (
  SELECT term, CAST(sum(c) AS BIGINT) AS tf FROM doc_terms GROUP BY term
), tot AS (
  SELECT CAST(sum(tf) AS BIGINT) AS total FROM tf
), scored AS (
  SELECT dt.doc_id,
         round(sum(dt.c * ln(CAST(tf.tf AS DOUBLE) / CAST(tot.total AS DOUBLE)))
               / CAST(sum(dt.c) AS DOUBLE), 6) AS score
  FROM doc_terms dt JOIN tf USING (term) CROSS JOIN tot
  GROUP BY dt.doc_id
), langs AS (
  SELECT s.doc_id, d.lang, s.score
  FROM scored s JOIN documents d USING (doc_id)
), bounds AS (
  SELECT lang, quantile_cont(score, [1.0/3, 2.0/3]) AS bs
  FROM langs GROUP BY lang
), tiers AS (
  SELECT l.lang, l.doc_id, l.score,
         (['tail', 'middle', 'head'])[
           len(list_filter(b.bs, x -> l.score > x)) + 1] AS bucket
  FROM langs l JOIN bounds b USING (lang)
)
SELECT lang, bucket, count(*) AS n_docs,
       min(score) AS min_score, max(score) AS max_score
FROM tiers GROUP BY lang, bucket ORDER BY lang, bucket
"""


EXTRA_QUERIES = {
    "pack_sequences": (q_pack_sequences, SQL_PACK_SEQUENCES),
    "mixture_weights": (q_mixture_weights, SQL_MIXTURE_WEIGHTS),
    "ccnet_buckets": (q_ccnet_buckets, SQL_CCNET_BUCKETS),
}
