"""Second retrieval/index-analytics batch, each with an exact DuckDB twin.

Six operators rounding out the retrieval story the reference's engine
family implies but cannot express (cf. /root/reference/src/engine.ts —
single-threaded, no statistics):

- ``index_gap_stats`` — posting-list doc-id gap statistics for the
  top-df terms: the quantity that decides delta-block compressibility
  (index_build.py stores exactly these deltas). Max gap is a TWO-LEVEL
  computation (per-bucket local gaps + bucket-boundary gaps) so no head
  term funnels its whole posting list through one window partition.
- ``shard_topk_merge`` — global top-k computed as per-shard top-k then a
  k·shards-row merge, the distributed serving shape for "longest/top"
  queries; the oracle is the PLAIN global top-k, so the row equality IS
  the two-level-merge correctness proof.
- ``ndcg_eval`` — nDCG@10 of the tf ranking against graded relevance
  (= number of distinct query terms present): the eval-metric operator a
  relevance pipeline runs after every index build. Gains are
  micro-quantized int64 so the DCG sums are order-independent and
  engine-identical.
- ``rocchio_expansion`` — pseudo-relevance feedback: top tf·idf terms of
  the 10 lowest-id docs matching the seed query, the classic Rocchio
  positive-centroid expansion. idf products are micro-quantized.
- ``min_pair_distance`` — closest co-occurrence distance of a term pair
  per doc (positional-index use beyond adjacency/proximity: the ranking
  signal span scoring builds on).
- ``utf8_byte_stats`` — byte length vs char length vs ASCII share per
  doc: the ingest-side encoding profile (multi-byte share drives both
  storage sizing and tokenizer cost) computed from exact int counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .corpus_queries import _TOKS_SQL, _docs, _tokens_df

GAP_TOP_TERMS = 20
GAP_BUCKET = 1024  # doc_ids per local-gap bucket (pure function of the key)

TOPK_SHARDS = 8
TOPK_K = 10

NDCG_TERMS = ("window", "merge", "filter")
NDCG_K = 10
_U = 1_000_000.0  # micro-unit quantum for ln/log2-bearing scores

ROCCHIO_SEED = ("window", "merge")
ROCCHIO_REL_DOCS = 10
ROCCHIO_K = 10

PAIR_TERMS = ("table", "scan")
PAIR_K = 20


def _term_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, term) pairs — one row per posting."""
    return (
        _tokens_df(spark, sf_dir)
        .select("doc_id", F.explode("toks").alias("term"))
        .distinct()
    )


# --------------------------------------------------------------------------
# posting-list gap statistics (delta-encoding profile) — two-level max gap
# --------------------------------------------------------------------------

def q_index_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per top-df term: df, mean doc-id gap, max doc-id gap. Mean gap
    needs no adjacency at all — it telescopes to (max−min)/(df−1), one
    exact int division. Max gap is computed two-level: lag within
    (term, doc_id DIV 1024) buckets (bounded window partitions), then
    bucket-boundary gaps from a lag over the per-bucket summary
    (n_docs/1024 rows per term) — a Zipf head term never funnels its
    whole posting list through one window task."""
    pairs = _term_pairs(spark, sf_dir)
    top = F.broadcast(
        pairs.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .filter(F.col("df") >= 2)
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(GAP_TOP_TERMS)
    )
    p = pairs.join(top, "term").withColumn(
        "bucket", F.expr(f"CAST(doc_id DIV {GAP_BUCKET} AS BIGINT)")
    )
    w_local = Window.partitionBy("term", "bucket").orderBy("doc_id")
    bsum = (
        p.withColumn("prev", F.lag("doc_id").over(w_local))
        .groupBy("term", "bucket")
        .agg(
            F.max(F.col("doc_id") - F.col("prev")).alias("mg"),
            F.min("doc_id").alias("mn"),
            F.max("doc_id").alias("mx"),
        )
    )
    w_b = Window.partitionBy("term").orderBy("bucket")
    per_term = (
        bsum.withColumn("pmx", F.lag("mx").over(w_b))
        .groupBy("term")
        .agg(
            F.greatest(
                F.coalesce(F.max("mg"), F.lit(0)),
                F.coalesce(F.max(F.col("mn") - F.col("pmx")), F.lit(0)),
            ).cast("long").alias("max_gap"),
            F.min("mn").alias("gmin"),
            F.max("mx").alias("gmax"),
        )
    )
    return (
        per_term.join(top, "term")
        .select(
            "term",
            "df",
            F.round(
                (F.col("gmax") - F.col("gmin")) / (F.col("df") - 1), 6
            ).alias("mean_gap"),
            "max_gap",
        )
        .orderBy(F.desc("df"), F.asc("term"))
    )


SQL_INDEX_GAP_STATS = f"""
WITH pairs AS (
  SELECT DISTINCT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
), top AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM pairs GROUP BY term
  HAVING count(*) >= 2 ORDER BY df DESC, term ASC LIMIT {GAP_TOP_TERMS}
), g AS (
  SELECT p.term, doc_id,
         doc_id - lag(doc_id) OVER (PARTITION BY p.term ORDER BY doc_id)
           AS gap
  FROM pairs p JOIN top USING (term)
)
SELECT term, max(top.df) AS df,
       round((max(doc_id) - min(doc_id)) / CAST(max(top.df) - 1 AS DOUBLE),
             6) AS mean_gap,
       CAST(max(gap) AS BIGINT) AS max_gap
FROM g JOIN top USING (term)
GROUP BY term ORDER BY df DESC, term ASC
"""


# --------------------------------------------------------------------------
# sharded top-k merge ≡ global top-k
# --------------------------------------------------------------------------

def q_shard_topk_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k longest docs via per-shard top-k then merge: stage 1
    ranks within doc_id % TOPK_SHARDS (bounded parallel slices — a
    global row_number would funnel the corpus through one task), stage 2
    re-ranks the ≤ k·shards survivors. Exact because a global top-k row
    is top-k within its own shard. The oracle is the PLAIN top-k."""
    t = _tokens_df(spark, sf_dir).select(
        "doc_id", F.size("toks").cast("long").alias("n_tokens")
    ).withColumn("shard", F.col("doc_id") % TOPK_SHARDS)
    w = Window.partitionBy("shard").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    local = t.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= TOPK_K
    )
    return (
        local.select("doc_id", "n_tokens")
        .orderBy(F.desc("n_tokens"), F.asc("doc_id"))
        .limit(TOPK_K)
    )


SQL_SHARD_TOPK_MERGE = f"""
SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens
FROM documents ORDER BY n_tokens DESC, doc_id ASC LIMIT {TOPK_K}
"""


# --------------------------------------------------------------------------
# nDCG@10 of the tf ranking vs graded term-coverage relevance
# --------------------------------------------------------------------------

def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10: rank docs by total tf of the query terms (tie: doc_id),
    grade relevance as the count of distinct query terms present, and
    compare DCG against the ideal ordering. Gains
    (2^rel − 1)/log2(rank+1) are micro-quantized to int64 BEFORE the
    sum, so both engines add the same integers in any order (the raw
    double sum would be summation-order-dependent). One tiny ranked
    frame — everything after the tf aggregation is ≤ candidate-count
    rows."""
    occ = (
        _tokens_df(spark, sf_dir)
        .select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(list(NDCG_TERMS)))
    )
    cand = occ.groupBy("doc_id").agg(
        F.countDistinct("term").cast("int").alias("rel"),
        F.count(F.lit(1)).cast("long").alias("score"),
    )
    # top-k FIRST via orderBy().limit() (TakeOrderedAndProject — a
    # distributed per-partition top-k + k·partitions merge), then ranks
    # from a window over the ≤ k surviving rows. A global row_number
    # over the raw candidate frame would funnel every matching doc
    # through one task at 100 TB.
    w_rank = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    w_ideal = Window.orderBy(F.desc("rel"), F.asc("doc_id"))
    gain = lambda r: F.round(  # noqa: E731
        _U
        * (F.pow(F.lit(2.0), F.col(r).cast("double")) - F.lit(1.0))
        / F.log2(F.col("rank") + F.lit(1.0)),
        0,
    ).cast("long")
    dcg = (
        cand.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(NDCG_K)
        .withColumn("rank", F.row_number().over(w_rank))
        .select(gain("rel").alias("g"))
        .agg(F.sum("g").alias("dcg_u"))
    )
    idcg = (
        cand.orderBy(F.desc("rel"), F.asc("doc_id"))
        .limit(NDCG_K)
        .withColumn("rank", F.row_number().over(w_ideal))
        .select(gain("rel").alias("g"))
        .agg(F.sum("g").alias("idcg_u"))
    )
    return dcg.crossJoin(idcg).select(
        (F.col("dcg_u") / F.lit(_U)).alias("dcg"),
        (F.col("idcg_u") / F.lit(_U)).alias("idcg"),
        F.round(F.col("dcg_u") / F.col("idcg_u"), 6).alias("ndcg"),
    )


_NDCG_IN = ", ".join(f"'{t}'" for t in NDCG_TERMS)

SQL_NDCG_EVAL = f"""
WITH occ AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
), cand AS (
  SELECT doc_id, count(DISTINCT term) AS rel, count(*) AS score
  FROM occ WHERE term IN ({_NDCG_IN}) GROUP BY doc_id
), ranked AS (
  SELECT rel, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM cand
), ideal AS (
  SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id ASC) AS rank
  FROM cand
), d AS (
  SELECT CAST(sum(CAST(round({_U} * (pow(2.0, rel) - 1.0)
                              / log2(rank + 1.0)) AS BIGINT)) AS BIGINT)
           AS dcg_u
  FROM ranked WHERE rank <= {NDCG_K}
), i AS (
  SELECT CAST(sum(CAST(round({_U} * (pow(2.0, rel) - 1.0)
                              / log2(rank + 1.0)) AS BIGINT)) AS BIGINT)
           AS idcg_u
  FROM ideal WHERE rank <= {NDCG_K}
)
SELECT dcg_u / {_U} AS dcg, idcg_u / {_U} AS idcg,
       round(CAST(dcg_u AS DOUBLE) / idcg_u, 6) AS ndcg
FROM d, i
"""


# --------------------------------------------------------------------------
# Rocchio pseudo-relevance-feedback expansion terms
# --------------------------------------------------------------------------

def q_rocchio_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top expansion terms by Σ_rel-docs tf × ln(n_docs/df) over the 10
    lowest-id docs matching the seed query conjunctively — Rocchio's
    positive centroid, the standard PRF query-expansion step. Seed terms
    and sub-2-char tokens are excluded (mirroring the index's B4 short-
    word rule). The relevance set is 10 rows (broadcast); df comes from
    a corpus-wide partial-aggregated count; the idf product is a SINGLE
    multiply per term on exact ints, micro-quantized so both engines
    round the same double."""
    pairs = _term_pairs(spark, sf_dir)
    seed = list(ROCCHIO_SEED)
    rel_docs = F.broadcast(
        pairs.filter(F.col("term").isin(seed))
        .groupBy("doc_id")
        .agg(F.countDistinct("term").alias("k"))
        .filter(F.col("k") == len(seed))
        .select("doc_id")
        .orderBy("doc_id")
        .limit(ROCCHIO_REL_DOCS)
    )
    tf_rel = (
        _tokens_df(spark, sf_dir)
        .join(rel_docs, "doc_id")
        .select("doc_id", F.explode("toks").alias("term"))
        .filter(
            (F.length("term") >= 2) & (~F.col("term").isin(seed))
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("total_tf"))
    )
    dfc = pairs.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    n_docs = _docs(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    score_u = F.round(
        F.lit(_U)
        * F.col("total_tf")
        * F.log(F.col("n") / F.col("df")),
        0,
    ).cast("long")
    return (
        tf_rel.join(dfc, "term")
        .crossJoin(F.broadcast(n_docs))
        .select("term", score_u.alias("score_u"))
        .select(
            "term", (F.col("score_u") / F.lit(_U)).alias("rocchio_score")
        )
        .orderBy(F.desc("rocchio_score"), F.asc("term"))
        .limit(ROCCHIO_K)
    )


_SEED_IN = ", ".join(f"'{t}'" for t in ROCCHIO_SEED)

SQL_ROCCHIO_EXPANSION = f"""
WITH pairs AS (
  SELECT DISTINCT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
), rel_docs AS (
  SELECT doc_id FROM pairs WHERE term IN ({_SEED_IN})
  GROUP BY doc_id HAVING count(DISTINCT term) = {len(ROCCHIO_SEED)}
  ORDER BY doc_id LIMIT {ROCCHIO_REL_DOCS}
), occ AS (
  SELECT d.doc_id, unnest({_TOKS_SQL}) AS term
  FROM documents d JOIN rel_docs USING (doc_id)
), tf_rel AS (
  SELECT term, CAST(count(*) AS BIGINT) AS total_tf FROM occ
  WHERE length(term) >= 2 AND term NOT IN ({_SEED_IN})
  GROUP BY term
), dfc AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM pairs GROUP BY term
), n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)
SELECT term,
       CAST(round({_U} * total_tf * ln(n / df)) AS BIGINT) / {_U}
         AS rocchio_score
FROM tf_rel JOIN dfc USING (term), n
ORDER BY rocchio_score DESC, term ASC LIMIT {ROCCHIO_K}
"""


# --------------------------------------------------------------------------
# closest co-occurrence distance of a term pair (positional index signal)
# --------------------------------------------------------------------------

def q_min_pair_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per doc containing BOTH pair terms: the minimum absolute position
    distance over all occurrence pairs — the span signal proximity-
    weighted ranking builds on. Same position-list aggregation as the
    phrase/proximity operators (one shuffle over two terms' postings),
    then a JVM higher-order min over the two arrays; closest-first
    top-20."""
    pos = (
        _tokens_df(spark, sf_dir)
        .select("doc_id", F.posexplode("toks").alias("pos", "term"))
        .filter(F.col("term").isin(list(PAIR_TERMS)))
    )
    agg = pos.groupBy("doc_id").agg(
        F.collect_list(
            F.when(F.col("term") == PAIR_TERMS[0], F.col("pos"))
        ).alias("p0"),
        F.collect_list(
            F.when(F.col("term") == PAIR_TERMS[1], F.col("pos"))
        ).alias("p1"),
    )
    dists = F.flatten(
        F.transform(
            "p0",
            lambda x: F.transform(F.col("p1"), lambda y: F.abs(y - x)),
        )
    )
    return (
        agg.filter((F.size("p0") > 0) & (F.size("p1") > 0))
        .select(
            "doc_id", F.array_min(dists).cast("long").alias("min_dist")
        )
        .orderBy(F.asc("min_dist"), F.asc("doc_id"))
        .limit(PAIR_K)
    )


SQL_MIN_PAIR_DISTANCE = f"""
WITH toked AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
), pos AS (
  -- parallel unnests of equal length zip pairwise in DuckDB
  SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos,
         unnest(toks) AS term
  FROM toked
)
SELECT a.doc_id, CAST(min(abs(a.pos - b.pos)) AS BIGINT) AS min_dist
FROM (SELECT * FROM pos WHERE term = '{PAIR_TERMS[0]}') a
JOIN (SELECT * FROM pos WHERE term = '{PAIR_TERMS[1]}') b USING (doc_id)
GROUP BY a.doc_id ORDER BY min_dist ASC, a.doc_id ASC LIMIT {PAIR_K}
"""


# --------------------------------------------------------------------------
# UTF-8 byte/char/ASCII profile per doc
# --------------------------------------------------------------------------

def q_utf8_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per doc: UTF-8 byte length, char length, and ASCII char share —
    the encoding profile that sizes storage and tokenizer cost at
    ingest. All exact int counts; the share is one IEEE division."""
    d = _docs(spark, sf_dir)
    n_chars = F.length("text").cast("long")
    ascii_chars = F.length(
        F.regexp_replace("text", "[^\\x00-\\x7F]", "")
    ).cast("long")
    return d.select(
        "doc_id",
        F.octet_length("text").cast("long").alias("n_bytes"),
        n_chars.alias("n_chars"),
        F.when(n_chars > 0, F.round(ascii_chars / n_chars, 6))
        .otherwise(F.lit(1.0))
        .alias("ascii_share"),
    )


SQL_UTF8_BYTE_STATS = r"""
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       CAST(length(text) AS BIGINT) AS n_chars,
       CASE WHEN length(text) > 0
            THEN round(CAST(length(regexp_replace(text, '[^\x00-\x7F]', '',
                                                  'g')) AS BIGINT)
                       / CAST(length(text) AS BIGINT), 6)
            ELSE 1.0 END AS ascii_share
FROM documents
"""


EXTRA_QUERIES = {
    "index_gap_stats": (q_index_gap_stats, SQL_INDEX_GAP_STATS),
    "shard_topk_merge": (q_shard_topk_merge, SQL_SHARD_TOPK_MERGE),
    "ndcg_eval": (q_ndcg_eval, SQL_NDCG_EVAL),
    "rocchio_expansion": (q_rocchio_expansion, SQL_ROCCHIO_EXPANSION),
    "min_pair_distance": (q_min_pair_distance, SQL_MIN_PAIR_DISTANCE),
    "utf8_byte_stats": (q_utf8_byte_stats, SQL_UTF8_BYTE_STATS),
}
