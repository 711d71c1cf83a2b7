"""ML-dataset statistics extras, each with an exact DuckDB twin.

Four operators a training-data pipeline runs between dedup and mixing:

- ``label_centroids`` — per-label mean embedding (first 4 dims + size):
  the class-prototype table used for centroid-distance outlier pruning
  and cluster-balance checks. Component sums ride int64 1e8-quanta (the
  k-means convention) so the means are summation-order-free.
- ``ngram_novelty`` — per-document fraction of distinct 3-grams first
  seen in that document (in doc_id order): the memorization/novelty
  curve's per-doc form — low-novelty docs are near-dup or boilerplate
  suspects that slipped past exact dedup.
- ``zscore_by_source`` — per-document length z-score within its source:
  feature standardization with exact int64 moment sums (Σx, Σx²) and a
  single identical IEEE mean/variance/sqrt chain on both engines;
  degenerate sources (zero variance) are excluded rather than emitting
  NaN/Inf.
- ``token_entropy`` — per-document Shannon entropy of the token
  distribution (micro-unit-quantized): the repetitiveness signal
  orthogonal to the n-gram repetition metrics.

Scale notes: label_centroids is one partial-aggregated shuffle on the
tiny label key; ngram_novelty's only big shuffle is the first-sighting
min over the gram vocabulary (same key as vocab_growth) plus one
vocab-keyed join back; zscore is a two-pass groupBy(source) + broadcast
of the per-source moment table (|sources| rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .corpus_queries import _TOKS_SQL, _docs, _embeddings, _tokens_df
from .pipeline_extras import _G3_EXPR, _G3_SQL

# --------------------------------------------------------------------------
# per-label embedding centroids
# --------------------------------------------------------------------------

CENTROID_DIMS = 4
_C_SCALE = 100000000.0  # 1e8 quanta (matches the k-means convention)


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column (first 4 dims shown;
    the full-width version is the same plan). Each component is summed
    as int64 1e8-quanta — float sums reorder under partial aggregation,
    integer sums don't — and divided back once."""
    emb = _embeddings(spark, sf_dir).select(
        "label", F.col("embedding").cast("array<double>").alias("e")
    )
    sums = emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[
            F.sum(
                F.round(F.element_at("e", i + 1) * _C_SCALE).cast("long")
            ).alias(f"s{i}")
            for i in range(CENTROID_DIMS)
        ],
    )
    return sums.select(
        "label",
        "n",
        *[
            F.round(
                F.col(f"s{i}") / (F.col("n") * F.lit(_C_SCALE)), 6
            ).alias(f"c{i}")
            for i in range(CENTROID_DIMS)
        ],
    ).orderBy("label")


_c_sums = ",\n         ".join(
    f"CAST(sum(CAST(round(CAST(embedding[{i + 1}] AS DOUBLE)"
    f" * {_C_SCALE}) AS BIGINT)) AS BIGINT) AS s{i}"
    for i in range(CENTROID_DIMS)
)
_c_means = ",\n       ".join(
    f"round(s{i} / (n * {_C_SCALE}), 6) AS c{i}"
    for i in range(CENTROID_DIMS)
)

SQL_LABEL_CENTROIDS = f"""
WITH s AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n,
         {_c_sums}
  FROM embeddings GROUP BY label
)
SELECT label, n,
       {_c_means}
FROM s ORDER BY label
"""


# --------------------------------------------------------------------------
# per-document n-gram novelty (first-sighting fraction)
# --------------------------------------------------------------------------

def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of each doc's distinct 3-grams that the corpus sees for
    the FIRST time in that doc (doc_id = arrival order). The dual of
    vocab_growth: per-doc instead of per-bucket, so it ranks individual
    documents by how much new text they contribute. Docs with fewer than
    3 tokens have no grams and no row."""
    grams = (
        _tokens_df(spark, sf_dir)
        .withColumn("g3", F.expr(_G3_EXPR))
        .select("doc_id", F.explode("g3").alias("gram"))
        .distinct()
    )
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        grams.join(first, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_novel",
        F.round(F.col("n_novel") / F.col("n_grams"), 6).alias("novelty_rate"),
    ).orderBy("doc_id")


SQL_NGRAM_NOVELTY = f"""
WITH toked AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
g AS (SELECT DISTINCT doc_id, unnest({_G3_SQL}) AS gram FROM toked),
f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram),
per_doc AS (
  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_novel
  FROM g JOIN f USING (gram) GROUP BY g.doc_id
)
SELECT doc_id, n_grams, n_novel,
       round(n_novel / n_grams, 6) AS novelty_rate
FROM per_doc ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# per-source z-score standardization of document length
# --------------------------------------------------------------------------

def q_zscore_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized document length within each source: z = (x − μ)/σ
    with population moments from exact int64 Σx and Σx² (n_chars is an
    integer, so both sums are exact), then one identical IEEE
    mean → variance → sqrt → divide chain on both engines. Zero-variance
    sources are dropped — emitting NaN would poison any downstream
    filter. Plan: one groupBy(source) moment pass (|sources| rows,
    broadcast back) + a narrow map; no per-row shuffle."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("x")
    )
    mom = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    mean = F.col("sx").cast("double") / F.col("n").cast("double")
    # greatest(var, 0): FP cancellation can land one ulp below zero when
    # all x are equal and huge; Spark sqrt would give NaN but DuckDB
    # sqrt RAISES on negatives — clamp identically on both sides
    var = F.greatest(
        F.col("sxx").cast("double") / F.col("n").cast("double") - mean * mean,
        F.lit(0.0),
    )
    j = docs.join(F.broadcast(mom), "source").withColumn("sd", F.sqrt(var))
    return (
        j.filter(F.col("sd") > 0)
        .select(
            "doc_id",
            "source",
            F.round(
                (F.col("x").cast("double") - mean) / F.col("sd"), 6
            ).alias("z"),
        )
        .orderBy("doc_id")
    )


SQL_ZSCORE_BY_SOURCE = """
WITH d AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS x FROM documents
),
m AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM d GROUP BY source
),
z AS (
  SELECT d.doc_id, d.source,
         CAST(d.x AS DOUBLE) AS x,
         CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE) AS mean,
         sqrt(greatest(CAST(m.sxx AS DOUBLE) / CAST(m.n AS DOUBLE)
              - (CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE))
                * (CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE)), 0.0)) AS sd
  FROM d JOIN m USING (source)
)
SELECT doc_id, source, round((x - mean) / sd, 6) AS z
FROM z WHERE sd > 0 ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# per-document token-distribution entropy
# --------------------------------------------------------------------------

def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's token distribution,
    H = −Σ p·ln p — the repetitiveness signal orthogonal to the n-gram
    repetition metrics (a doc of one word repeated has H = 0). Per-term
    contributions are quantized to int64 micro-units before the per-doc
    SUM; doc length arrives via a window sum over the (doc_id, term)
    counts, so the whole operator is one doc_id-keyed shuffle."""
    from pyspark.sql import Window

    doc_terms = (
        _tokens_df(spark, sf_dir)
        .select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    n = F.sum("c").over(Window.partitionBy("doc_id"))
    p = F.col("c").cast("double") / F.col("n").cast("double")
    m = F.round(-(p * F.log(p)) * 1000000.0).cast("long")
    per_term = doc_terms.withColumn("n", n).select(
        "doc_id", F.col("n").cast("long").alias("n"), m.alias("m")
    )
    return (
        per_term.groupBy("doc_id")
        .agg(
            F.first("n").alias("n_toks"),
            F.sum("m").cast("long").alias("sum_m"),
        )
        .select(
            "doc_id",
            "n_toks",
            F.round(F.col("sum_m") / 1000000.0, 6).alias("entropy"),
        )
        .orderBy("doc_id")
    )


SQL_TOKEN_ENTROPY = f"""
WITH doc_terms AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
  ) GROUP BY doc_id, term
),
per_term AS (
  SELECT doc_id,
         CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n,
         CAST(round(-((CAST(c AS DOUBLE)
                       / CAST(CAST(sum(c) OVER (PARTITION BY doc_id)
                              AS BIGINT) AS DOUBLE))
                     * ln(CAST(c AS DOUBLE)
                          / CAST(CAST(sum(c) OVER (PARTITION BY doc_id)
                                 AS BIGINT) AS DOUBLE)))
                    * 1000000.0) AS BIGINT) AS m
  FROM doc_terms
)
SELECT doc_id, first(n) AS n_toks,
       round(CAST(sum(m) AS BIGINT) / 1000000.0, 6) AS entropy
FROM per_term GROUP BY doc_id ORDER BY doc_id
"""


EXTRA_QUERIES = {
    "label_centroids": (q_label_centroids, SQL_LABEL_CENTROIDS),
    "ngram_novelty": (q_ngram_novelty, SQL_NGRAM_NOVELTY),
    "zscore_by_source": (q_zscore_by_source, SQL_ZSCORE_BY_SOURCE),
    "token_entropy": (q_token_entropy, SQL_TOKEN_ENTROPY),
}
