"""Window / sampling / near-dup analytics extras, each with a DuckDB twin.

Second batch of training-data-pipeline operators (SURVEY.md §2 extensions):
sliding-window aggregates, anti-join filtering, pivot counts,
edit-distance near-dup pairs, stratified sampling, value-decile
histograms, TF-IDF term extraction, term suggestion, exact KNN join, and
the materialized output of the near-dup dedup pipeline (survivor set).
The grouped top-k and SymSpell operators of this batch live in
``corpus_queries`` (both are in the driver's checked set).

Same contract as ``corpus_queries``: every computed column is aliased
identically in the Spark plan and the oracle SQL; integer-exact columns
are preferred over floats (money as floor-cents BIGINT), and the floats
that remain are either round-6 like the BM25 twins or exact IEEE ops over
identical integers, so the driver's hash compare is bitwise-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .corpus_queries import (
    TOPK_SALTS,
    _TOKS_SQL,
    _band_selects,
    _docs,
    _embeddings,
    _sigs_core,
    _stop_filtered_terms,
    _stop_in,
    _tokens_df,
    q_dedup_clusters,
)

# --------------------------------------------------------------------------
# sliding-window moving aggregate over the event stream
# --------------------------------------------------------------------------

MOV_FRAME = 3  # current row + 3 preceding


def q_moving_event_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user moving sum/avg of event value over the last 4 events
    (ROWS frame, ordered by ts then event_id for a total order). Money is
    floor-cents BIGINT so the windowed sum is integer-exact; the average
    is one IEEE division of identical integers on both engines. Scale:
    partitions by user_id — millions of bounded groups, the shape window
    functions are built for; no global ordering anywhere."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cents = F.floor(F.col("value") * 100).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-MOV_FRAME, 0)
    )
    return (
        ev.select("user_id", "event_id", "ts", cents.alias("cents"))
        .withColumn("mov_sum", F.sum("cents").over(w))
        .withColumn("mov_n", F.count(F.lit(1)).over(w))
        .withColumn(
            "mov_avg", F.col("mov_sum").cast("double") / F.col("mov_n").cast("double")
        )
        .drop("ts")
        .orderBy("user_id", "event_id")
    )


SQL_MOVING_EVENT_AVG = f"""
SELECT user_id, event_id, cents, mov_sum, mov_n,
       CAST(mov_sum AS DOUBLE) / CAST(mov_n AS DOUBLE) AS mov_avg
FROM (
  SELECT user_id, event_id,
         CAST(floor(value * 100) AS BIGINT) AS cents,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER w AS BIGINT) AS mov_sum,
         count(*) OVER w AS mov_n
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {MOV_FRAME} PRECEDING AND CURRENT ROW)
) ORDER BY user_id, event_id
"""


# --------------------------------------------------------------------------
# anti-join filtering: customers with no orders
# --------------------------------------------------------------------------

def q_orphan_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no URGENT order, rolled up by market segment
    (TPC-H Q22 shape). The priority filter is pushed to the orders scan
    BEFORE the anti-join, so the join's build side is the filtered
    key projection only; LEFT ANTI shuffles both sides on the key once
    and AQE makes it a shuffled hash anti-join — no row explosion is
    possible by construction. Balance is floor-cents BIGINT."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        cust.join(
            orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
                F.col("o_custkey").alias("c_custkey")
            ),
            "c_custkey",
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.floor(F.col("c_acctbal") * 100).cast("long")).alias(
                "sum_acctbal_cents"
            ),
        )
        .orderBy("c_mktsegment")
    )


SQL_ORPHAN_CUSTOMERS = """
SELECT c_mktsegment, count(*) AS n_customers,
       CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_acctbal_cents
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
)
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# --------------------------------------------------------------------------
# pivot: per-user event-type count matrix
# --------------------------------------------------------------------------

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-to-wide pivot of event counts per user. The pivot values are
    an explicit closed list, so Spark needs no extra distinct-values job
    and the plan is ONE partial-aggregated shuffle on user_id — the same
    cost as a plain groupBy; each output column is a map-side conditional
    count."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in EVENT_TYPES
        ],
    ).orderBy("user_id")


SQL_PIVOT_EVENT_COUNTS = (
    "SELECT user_id, "
    + ", ".join(
        f"count(*) FILTER (WHERE event_type = '{t}') AS n_{t}" for t in EVENT_TYPES
    )
    + " FROM events GROUP BY user_id ORDER BY user_id"
)


# --------------------------------------------------------------------------
# edit-distance near-dup pairs with prefix blocking
# --------------------------------------------------------------------------

LEV_PREFIX_TOKS = 8   # blocking key = md5 of the first 8 engine tokens
LEV_BLOCK_CAP = 32    # drop blocks larger than this before the self-join
LEV_MAX_DIST = 16


def q_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by exact edit distance, made tractable by
    blocking: candidates must share their first-8-token prefix hash, and
    blocks with more than LEV_BLOCK_CAP members are dropped before the
    self-join (same guard as the shingle-df cap in ngram_jaccard_pairs —
    a boilerplate prefix shared by 10^6 docs must not go quadratic).
    ``levenshtein`` is a JVM builtin (no Python in the plan); DuckDB's
    builtin shares the standard Wagner-Fischer definition. At scale the
    prefix hash is the shuffle key and per-block work is ≤ CAP²·|text|²."""
    toks = _tokens_df(spark, sf_dir)
    pref = (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .join(toks, "doc_id")
        .select(
            "doc_id",
            "text",
            F.md5(F.concat_ws(" ", F.slice("toks", 1, LEV_PREFIX_TOKS))).alias("ph"),
        )
    )
    blocks = (
        pref.groupBy("ph")
        .agg(F.count(F.lit(1)).alias("bn"))
        .filter((F.col("bn") >= 2) & (F.col("bn") <= LEV_BLOCK_CAP))
        .select("ph")
    )
    blocked = pref.join(F.broadcast(blocks), "ph")
    a = blocked.select(
        "ph", F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a")
    )
    b = blocked.select(
        "ph", F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b")
    )
    return (
        a.join(b, "ph")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("text_a", "text_b").cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= LEV_MAX_DIST)
        .orderBy("doc_a", "doc_b")
    )


SQL_LEVENSHTEIN_PAIRS = f"""
WITH pref AS (
  SELECT doc_id, text,
         md5(array_to_string(({_TOKS_SQL})[1:{LEV_PREFIX_TOKS}], ' ')) AS ph
  FROM documents
), blocks AS (
  SELECT ph FROM pref GROUP BY ph HAVING count(*) BETWEEN 2 AND {LEV_BLOCK_CAP}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
FROM pref a JOIN blocks USING (ph) JOIN pref b USING (ph)
WHERE a.doc_id < b.doc_id AND levenshtein(a.text, b.text) <= {LEV_MAX_DIST}
ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
# deterministic stratified sampling
# --------------------------------------------------------------------------

# per-language keep rates (percent); a training-mix rebalancer's knob
STRATA_PCT = {"de": 25, "en": 10, "es": 25, "fr": 25, "zh": 50}
STRATA_DEFAULT_PCT = 20


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic sample: membership is a pure function
    of doc_id (md5 prefix mod 100, same primitive as train_test_split)
    compared against the language's keep rate. No sampling state, no
    extra shuffle — a map-side filter that scales linearly and gives the
    same sample on any cluster size or data order."""
    rate = F.coalesce(
        F.element_at(
            F.create_map(
                *[F.lit(x) for kv in STRATA_PCT.items() for x in kv]
            ),
            F.col("lang"),
        ),
        F.lit(STRATA_DEFAULT_PCT),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long") % 100
    )
    return (
        _docs(spark, sf_dir)
        .filter(bucket < rate)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


_strata_case = " ".join(
    f"WHEN '{lang}' THEN {pct}" for lang, pct in sorted(STRATA_PCT.items())
)
SQL_STRATIFIED_SAMPLE = f"""
SELECT doc_id, lang FROM documents
WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100
      < CASE lang {_strata_case} ELSE {STRATA_DEFAULT_PCT} END
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# decile histogram by percentile boundaries (no global window)
# --------------------------------------------------------------------------

DECILE_PCTS = [i / 10 for i in range(1, 10)]


def q_decile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length decile histogram WITHOUT a global window: a naive
    ``ntile(10) OVER (ORDER BY …)`` forces every row through one task.
    Instead compute the 9 exact percentile boundaries in one distributed
    aggregate (partial-merge, same linear-interpolation definition as
    DuckDB ``quantile_cont`` — see value_percentiles), broadcast the
    9-element array, and assign each doc its bucket with a map-side
    expression. Value-based deciles: ties sit in one bucket, counts can
    be uneven under heavy ties — the semantics a histogram wants."""
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    bounds = docs.agg(
        F.percentile("n_chars", F.array(*[F.lit(p) for p in DECILE_PCTS])).alias("bs")
    )
    decile = (
        F.aggregate(
            F.col("bs"),
            F.lit(0),
            lambda acc, b: acc + F.when(F.col("n_chars") > b, 1).otherwise(0),
        )
        + 1
    )
    return (
        docs.crossJoin(F.broadcast(bounds))
        .select("doc_id", "n_chars", decile.cast("long").alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
        .orderBy("decile")
    )


_pcts_sql = ", ".join(str(p) for p in DECILE_PCTS)
SQL_DECILE_HISTOGRAM = f"""
WITH bounds AS (
  SELECT quantile_cont(n_chars, [{_pcts_sql}]) AS bs FROM documents
)
SELECT decile, count(*) AS n_docs,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM (
  SELECT doc_id, n_chars,
         CAST(len(list_filter(bs, b -> n_chars > b)) + 1 AS BIGINT) AS decile
  FROM documents, bounds
) GROUP BY decile ORDER BY decile
"""


# --------------------------------------------------------------------------
# TF-IDF top terms per document
# --------------------------------------------------------------------------

TFIDF_K = 3


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K terms per document by TF-IDF (stop-words and 1-char tokens
    excluded, as the index build does — index_build.py B4). df and the
    corpus count are one aggregate each; the per-doc ranking window
    partitions by doc_id — bounded groups, no skew. Score is round-6 like
    the BM25 twins so the float compare is bitwise."""
    terms = _stop_filtered_terms(spark, sf_dir)
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = _docs(spark, sf_dir).agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TFIDF_K)
        .orderBy("doc_id", "rk")
    )


SQL_TFIDF_TOP_TERMS = f"""
WITH terms AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
  ) WHERE len(term) >= 2 AND term NOT IN ({_stop_in})
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
), dfs AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), nd AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(CAST(nd.n_docs AS DOUBLE) / CAST(dfs.df AS DOUBLE)), 6)
           AS score
  FROM tf JOIN dfs ON tf.term = dfs.term CROSS JOIN nd
)
SELECT doc_id, term, score, rk FROM (
  SELECT doc_id, term, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rk
  FROM scored
) WHERE rk <= {TFIDF_K} ORDER BY doc_id, rk
"""


# --------------------------------------------------------------------------
# near-dup dedup survivors (the materialized pipeline output)
# --------------------------------------------------------------------------

def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual output a dedup pipeline ships: every document except
    non-representative members of near-dup clusters (cluster id = the
    component's minimum doc_id, from dedup_clusters). One LEFT ANTI join
    of the corpus against the dropped set — at 100 TB the cluster table
    is a small fraction of the corpus and broadcasts."""
    dropped = (
        q_dedup_clusters(spark, sf_dir)
        .filter(F.col("doc_id") != F.col("cluster"))
        .select("doc_id")
    )
    return (
        _docs(spark, sf_dir)
        .join(F.broadcast(dropped), "doc_id", "left_anti")
        .select("doc_id")
        .orderBy("doc_id")
    )


SQL_DEDUP_SURVIVORS = f"""
WITH RECURSIVE {_sigs_core},
bands AS ({_band_selects}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
clusters AS (
  SELECT u AS doc_id, least(u, min(v)) AS cluster FROM reach GROUP BY u
)
SELECT d.doc_id FROM documents d
WHERE NOT EXISTS (
  SELECT 1 FROM clusters c WHERE c.doc_id = d.doc_id AND c.doc_id <> c.cluster
)
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# did-you-mean term suggestion (query-side spell correction)
# --------------------------------------------------------------------------

SUGGEST_TYPOS = ["windwo", "fliter", "srot"]  # typos of window/filter/sort
SUGGEST_MAX_DIST = 2
SUGGEST_K = 3


def q_term_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did-you-mean suggestions for misspelled query terms: for each typo,
    the top-3 vocabulary terms within edit distance 2, ranked by
    (distance asc, document frequency desc, term asc). The reference has
    no analogue — this is the standard query-assist layer a search engine
    grows next (cf. the quirk-faithful url/title heuristics it does have,
    /root/reference/src/engine.ts:197-205).

    Plan shape: ONE pass over the vocabulary (distinct term + df — at
    scale this is the index's ``term_stats`` table, |V| rows, not the
    corpus) broadcast-nested-loop-joined against the tiny query-term
    array. Linear in |V| per query batch and embarrassingly parallel; a
    SymSpell-style deletion-neighborhood equi-join is the designated
    upgrade if |V|·|queries| ever matters. ``levenshtein`` is a JVM
    builtin on both sides (no Python in the plan)."""
    toks = _tokens_df(spark, sf_dir)
    vocab = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.length("term") >= 2)
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in SUGGEST_TYPOS])).alias(
            "query_term"
        )
    )
    cand = (
        vocab.join(F.broadcast(qs))
        .withColumn(
            "dist",
            F.levenshtein("query_term", "term").cast("long"),
        )
        .filter(F.col("dist") <= SUGGEST_MAX_DIST)
    )
    ranked = cand.withColumn(
        "rank",
        F.row_number()
        .over(
            Window.partitionBy("query_term").orderBy(
                F.asc("dist"), F.desc("df"), F.asc("term")
            )
        )
        .cast("long"),
    )
    return (
        ranked.filter(F.col("rank") <= SUGGEST_K)
        .select("query_term", "rank", F.col("term").alias("suggestion"),
                "dist", "df")
        .orderBy("query_term", "rank")
    )


_typos_in = ", ".join(f"'{t}'" for t in SUGGEST_TYPOS)

SQL_TERM_SUGGEST = f"""
WITH vocab AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM (
    SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
  ) WHERE len(term) >= 2 GROUP BY term
), qs AS (
  SELECT unnest([{_typos_in}]) AS query_term
), cand AS (
  SELECT query_term, term, CAST(levenshtein(query_term, term) AS BIGINT) AS dist, df
  FROM qs, vocab
  WHERE levenshtein(query_term, term) <= {SUGGEST_MAX_DIST}
), ranked AS (
  SELECT query_term, term, dist, df,
         CAST(row_number() OVER (
           PARTITION BY query_term ORDER BY dist ASC, df DESC, term ASC
         ) AS BIGINT) AS rank
  FROM cand
)
SELECT query_term, rank, term AS suggestion, dist, df
FROM ranked WHERE rank <= {SUGGEST_K}
ORDER BY query_term, rank
"""


# --------------------------------------------------------------------------
# quality-policy survivor selection per near-dup cluster
# --------------------------------------------------------------------------

def q_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-near-dup-cluster survivor under a QUALITY policy (keep the
    longest document, ties to the lowest doc_id) plus the audit columns
    a dedup pipeline reports: members, dropped count, survivor length.
    Complements dedup_survivors, whose keep-the-minimum-id policy is
    positional; real pipelines keep the best copy, not the first. The
    per-cluster window is bounded (near-dup clusters are small by
    construction); everything else is one join of the small cluster
    table against the corpus projection."""
    labels = q_dedup_clusters(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    j = labels.join(docs, "doc_id")
    w = Window.partitionBy("cluster").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    ranked = j.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("cluster")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias(
                "survivor_id"
            ),
            F.max(F.when(F.col("rk") == 1, F.col("n_chars"))).alias(
                "survivor_chars"
            ),
            F.count(F.lit(1)).cast("long").alias("n_members"),
            (F.count(F.lit(1)) - F.lit(1)).cast("long").alias("n_dropped"),
        )
        .orderBy("cluster")
    )


SQL_CLUSTER_SURVIVORS = f"""
WITH RECURSIVE {_sigs_core},
bands AS ({_band_selects}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
clusters AS (
  SELECT u AS doc_id, least(u, min(v)) AS cluster FROM reach GROUP BY u
),
ranked AS (
  SELECT c.cluster, c.doc_id, d.n_chars,
         row_number() OVER (
           PARTITION BY c.cluster ORDER BY d.n_chars DESC, c.doc_id ASC
         ) AS rk
  FROM clusters c JOIN documents d USING (doc_id)
)
SELECT cluster,
       max(CASE WHEN rk = 1 THEN doc_id END) AS survivor_id,
       max(CASE WHEN rk = 1 THEN n_chars END) AS survivor_chars,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(count(*) - 1 AS BIGINT) AS n_dropped
FROM ranked GROUP BY cluster ORDER BY cluster
"""


# --------------------------------------------------------------------------
# exact KNN join over embeddings (hard-negative mining / similarity search)
# --------------------------------------------------------------------------

KNN_QUERIES = 20  # first N vectors act as the query set
KNN_K = 3


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-K cosine neighbors for each of the first KNN_QUERIES
    vectors (self excluded) — the KNN-join shape of hard-negative mining
    and batched similarity search, where a whole query SET is answered
    in one pass instead of per-vector jobs (cosine_topk) or approximate
    buckets (ann_lsh/ann_ivf, the designated paths when the query side
    stops fitting in a broadcast). The corpus scans ONCE; the broadcast
    query block rides to every partition; top-K uses the same salted
    two-stage window as q_topk_per_group so no single reducer sees a
    full query group. Sim is round-4 like the other cosine twins (identical
    IEEE folds on both engines)."""
    emb = _embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    qs = emb.filter(F.col("vec_id") < KNN_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("q")
    )
    pairs = emb.crossJoin(F.broadcast(qs)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    dot = F.aggregate(
        F.zip_with("e", "q", lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    sim = F.round(dot / (norm(F.col("e")) * norm(F.col("q"))), 4)
    scored = pairs.select("query_id", "vec_id", sim.alias("cos_sim"))
    order = [F.desc("cos_sim"), F.asc("vec_id")]
    stage1 = Window.partitionBy(
        "query_id", F.col("vec_id") % TOPK_SALTS
    ).orderBy(*order)
    stage2 = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("rk", F.row_number().over(stage1))
        .filter(F.col("rk") <= KNN_K)
        .drop("rk")
        .withColumn("rk", F.row_number().over(stage2).cast("long"))
        .filter(F.col("rk") <= KNN_K)
        .select(
            "query_id", "rk", F.col("vec_id").alias("neighbor_id"), "cos_sim"
        )
        .orderBy("query_id", "rk")
    )


SQL_KNN_JOIN = f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), qs AS (
  SELECT vec_id AS query_id, e AS q FROM emb WHERE vec_id < {KNN_QUERIES}
), pairs AS (
  SELECT query_id, vec_id,
         round(list_dot_product(e, q)
               / (sqrt(list_dot_product(e, e))
                  * sqrt(list_dot_product(q, q))), 4) AS cos_sim
  FROM emb, qs WHERE vec_id != query_id
)
SELECT query_id, rk, neighbor_id, cos_sim FROM (
  SELECT query_id, vec_id AS neighbor_id, cos_sim,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC
         ) AS BIGINT) AS rk
  FROM pairs
) WHERE rk <= {KNN_K} ORDER BY query_id, rk
"""


EXTRA_QUERIES = {
    "knn_join": (q_knn_join, SQL_KNN_JOIN),
    "cluster_survivors": (q_cluster_survivors, SQL_CLUSTER_SURVIVORS),
    "term_suggest": (q_term_suggest, SQL_TERM_SUGGEST),
    "moving_event_avg": (q_moving_event_avg, SQL_MOVING_EVENT_AVG),
    "orphan_customers": (q_orphan_customers, SQL_ORPHAN_CUSTOMERS),
    "pivot_event_counts": (q_pivot_event_counts, SQL_PIVOT_EVENT_COUNTS),
    "levenshtein_pairs": (q_levenshtein_pairs, SQL_LEVENSHTEIN_PAIRS),
    "stratified_sample": (q_stratified_sample, SQL_STRATIFIED_SAMPLE),
    "decile_histogram": (q_decile_histogram, SQL_DECILE_HISTOGRAM),
    "tfidf_top_terms": (q_tfidf_top_terms, SQL_TFIDF_TOP_TERMS),
    "dedup_survivors": (q_dedup_survivors, SQL_DEDUP_SURVIVORS),
}
