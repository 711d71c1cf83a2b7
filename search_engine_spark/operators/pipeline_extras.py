"""Training-data pipeline extras, third batch — each with a DuckDB twin.

Four operators a 100 TB pretraining-data pipeline runs corpus-wide:

- Gopher-style intra-document repetition metrics (duplicate n-gram
  fractions + most-frequent-token share) — the "repetition" axis of the
  quality gates that ``quality_filter`` (Gopher/C4 length + stop-word
  rules) does not cover.
- Benchmark-contamination detection by n-gram overlap against a held-out
  benchmark document set (the decontamination step every eval-honest
  pipeline runs; real deployments use 8-13-gram windows — N here is 3 so
  the check exercises matches on the small synthetic vocabulary).
- Semi-structured extraction: JSON payload parsing on the event stream
  (``get_json_object`` / DuckDB ``json_extract``) rolled up per type.
- A unigram language-model log-probability score per document — the
  shape of CCNet's KenLM perplexity filter with the corpus itself as
  the LM (no external model in this sandbox).

Same driver contract as ``corpus_queries``: identical column aliases on
both sides, integers wherever exactness matters, and round-6 on the two
float scores (the BM25-twin convention — see bm25.py) so the strict
pandas-layer hash is stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .corpus_queries import _TOKS_SQL, _tokens_df

# --------------------------------------------------------------------------
# intra-document repetition metrics (Gopher repetition axis)
# --------------------------------------------------------------------------

# Spark SQL n-gram builders over the engine-tokenized array (1-based
# element_at to mirror DuckDB list indexing). Guarded: sequence(1, 0)
# would DESCEND, so short docs return an empty gram list explicitly.
_G2_EXPR = (
    "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks)-1),"
    " i -> concat(element_at(toks, i), ' ', element_at(toks, i+1)))"
    " ELSE cast(array() AS array<string>) END"
)
_G3_EXPR = (
    "CASE WHEN size(toks) >= 3 THEN transform(sequence(1, size(toks)-2),"
    " i -> concat(element_at(toks, i), ' ', element_at(toks, i+1), ' ',"
    " element_at(toks, i+2))) ELSE cast(array() AS array<string>) END"
)

_G2_SQL = (
    "CASE WHEN len(toks) >= 2 THEN list_transform(range(1, len(toks)),"
    " i -> toks[i] || ' ' || toks[i+1]) ELSE [] END"
)
_G3_SQL = (
    "CASE WHEN len(toks) >= 3 THEN list_transform(range(1, len(toks)-1),"
    " i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) ELSE [] END"
)


def _dup_frac(col: str):
    n = F.size(F.col(col))
    dup = F.lit(1.0) - F.size(F.array_distinct(F.col(col))).cast(
        "double"
    ) / n.cast("double")
    return F.when(n > 0, F.round(dup, 6)).otherwise(F.lit(0.0))


def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition profile: duplicate-2-gram and -3-gram
    fractions plus the most-frequent token's share of the document.
    Entirely map-side higher-order functions over the token array — a
    narrow pass with NO shuffle (the plan is scan → project), so at
    100 TB it runs at parquet-scan speed alongside the other per-doc
    quality columns. Per-doc cost of the top-token share is
    O(|distinct| x |toks|) on bounded documents — no exploded
    (doc, token) shuffle is ever materialized."""
    toks = _tokens_df(spark, sf_dir)
    grams = toks.withColumn("g2", F.expr(_G2_EXPR)).withColumn(
        "g3", F.expr(_G3_EXPR)
    )
    n_toks = F.size("toks")
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct(F.col("toks")),
            lambda t: F.size(F.filter(F.col("toks"), lambda x: x == t)),
        )
    )
    top_frac = F.when(
        n_toks > 0,
        F.round(top_cnt.cast("double") / n_toks.cast("double"), 6),
    ).otherwise(F.lit(0.0))
    return (
        grams.select(
            "doc_id",
            n_toks.cast("long").alias("n_toks"),
            _dup_frac("g2").alias("dup2_frac"),
            _dup_frac("g3").alias("dup3_frac"),
            top_frac.alias("top_tok_frac"),
        )
        .orderBy("doc_id")
    )


SQL_REPETITION_METRICS = f"""
WITH toked AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
), grams AS (
  SELECT doc_id, toks, {_G2_SQL} AS g2, {_G3_SQL} AS g3 FROM toked
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_toks,
       CASE WHEN len(g2) > 0 THEN round(
         1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / CAST(len(g2) AS DOUBLE), 6)
         ELSE 0.0 END AS dup2_frac,
       CASE WHEN len(g3) > 0 THEN round(
         1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / CAST(len(g3) AS DOUBLE), 6)
         ELSE 0.0 END AS dup3_frac,
       CASE WHEN len(toks) > 0 THEN round(
         CAST(list_max(list_transform(list_distinct(toks),
                t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE)
         / CAST(len(toks) AS DOUBLE), 6)
         ELSE 0.0 END AS top_tok_frac
FROM grams ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# benchmark contamination by n-gram overlap
# --------------------------------------------------------------------------

BENCH_MOD = 97  # benchmark set = docs with doc_id % BENCH_MOD == 0
CONTAM_N = 3    # n-gram window; production decontamination uses 8-13


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs sharing any 3-gram with the held-out benchmark set
    (deterministically, docs with ``doc_id % 97 == 0``), with the count
    of distinct shared 3-grams and of benchmark docs hit. The benchmark
    side is a tiny fraction of the corpus BY CONSTRUCTION, so its
    distinct (gram, bench_doc) table broadcasts and the overlap join is
    map-side — the corpus-side pass stays a narrow scan + explode, one
    shuffle for the final per-doc rollup. At 100 TB the benchmark set is
    a fixed eval suite (MB-scale): the same broadcast-join plan holds."""
    toks = _tokens_df(spark, sf_dir)
    grams = (
        toks.withColumn("g3", F.expr(_G3_EXPR))
        .select("doc_id", F.explode("g3").alias("gram"))
        .distinct()
    )
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    bench = grams.filter(is_bench).select(
        F.col("doc_id").alias("bench_doc"), "gram"
    )
    corpus = grams.filter(~is_bench)
    return (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_shared_3grams"),
            F.countDistinct("bench_doc").alias("n_bench_docs"),
        )
        .orderBy("doc_id")
    )


SQL_CONTAMINATION_CHECK = f"""
WITH toked AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
), grams AS (
  SELECT DISTINCT doc_id, unnest({_G3_SQL.replace("toks", "toks")}) AS gram
  FROM toked
), bench AS (
  SELECT doc_id AS bench_doc, gram FROM grams WHERE doc_id % {BENCH_MOD} = 0
)
SELECT g.doc_id,
       count(DISTINCT g.gram) AS n_shared_3grams,
       count(DISTINCT b.bench_doc) AS n_bench_docs
FROM grams g JOIN bench b USING (gram)
WHERE g.doc_id % {BENCH_MOD} <> 0
GROUP BY g.doc_id ORDER BY g.doc_id
"""


# --------------------------------------------------------------------------
# semi-structured extraction: JSON event payloads
# --------------------------------------------------------------------------

def q_events_json_kstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the JSON ``props`` payload of every event
    (``get_json_object`` — JVM-side Jackson, no Python) and roll the
    extracted integer up per event type. The parse is a narrow map fused
    into the scan; the rollup is one partial-aggregated shuffle over a
    handful of type keys. The pattern (schema-on-read over a raw payload
    column) is how a transcript pipeline lifts tool-call arguments out
    of agent logs."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.countDistinct("k").alias("n_distinct_k"),
        )
        .orderBy("event_type")
    )


SQL_EVENTS_JSON_KSTATS = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(max(k) AS BIGINT) AS max_k,
       count(DISTINCT k) AS n_distinct_k
FROM (
  SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM events
)
GROUP BY event_type ORDER BY event_type
"""


# --------------------------------------------------------------------------
# unigram-LM log-probability score (CCNet perplexity-filter shape)
# --------------------------------------------------------------------------

def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram log-probability per document under the corpus's own
    unigram model: avg over tokens of ln(tf_corpus(t) / total_tokens).
    The shape of CCNet's KenLM perplexity gate with the corpus as the
    LM. The term-frequency table is VOCABULARY-sized, so it broadcasts
    (at 100 TB the LM table is exactly what KenLM ships to every node);
    the per-doc pass is then explode → broadcast join → one groupBy
    shuffle on doc_id. Scored round-6 like the BM25 twins: the only
    float sum is over a bounded per-doc term set."""
    toks = _tokens_df(spark, sf_dir)
    doc_terms = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tf = doc_terms.groupBy("term").agg(F.sum("c").alias("tf"))
    total = tf.agg(F.sum("tf").alias("total"))
    lp_term = F.col("c") * F.log(
        F.col("tf").cast("double") / F.col("total").cast("double")
    )
    return (
        doc_terms.join(F.broadcast(tf), "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_toks"),
            F.round(
                F.sum(lp_term) / F.sum("c").cast("double"), 6
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


SQL_UNIGRAM_LOGPROB = f"""
WITH doc_terms AS (
  SELECT doc_id, term, count(*) AS c FROM (
    SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
  ) GROUP BY doc_id, term
), tf AS (
  SELECT term, CAST(sum(c) AS BIGINT) AS tf FROM doc_terms GROUP BY term
), tot AS (
  SELECT CAST(sum(tf) AS BIGINT) AS total FROM tf
)
SELECT dt.doc_id,
       CAST(sum(dt.c) AS BIGINT) AS n_toks,
       round(sum(dt.c * ln(CAST(tf.tf AS DOUBLE) / CAST(tot.total AS DOUBLE)))
             / CAST(sum(dt.c) AS DOUBLE), 6) AS avg_logprob
FROM doc_terms dt JOIN tf USING (term) CROSS JOIN tot
GROUP BY dt.doc_id ORDER BY dt.doc_id
"""


EXTRA_QUERIES = {
    "repetition_metrics": (q_repetition_metrics, SQL_REPETITION_METRICS),
    "contamination_check": (q_contamination_check, SQL_CONTAMINATION_CHECK),
    "events_json_kstats": (q_events_json_kstats, SQL_EVENTS_JSON_KSTATS),
    "unigram_logprob": (q_unigram_logprob, SQL_UNIGRAM_LOGPROB),
}
