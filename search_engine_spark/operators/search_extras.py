"""Query-side IR extras, each with a DuckDB twin.

Rounds out the engine's query surface beyond the reference's AND/phrase
paths (engine.ts:118-175) with the standard inverted-index query family:

- disjunctive (OR) top-k — the north rule names "conjunctive/disjunctive"
  explicitly; ranked by match count like coordinate-level ranking.
- prefix search — on the persisted index this is a sorted-term range scan
  (``StringStartsWith`` pushes into the parquet term column, which the
  build lays out range-partitioned by term, so it prunes both partitions
  and row groups); here re-expressed over the raw corpus for the oracle.
- proximity search — positional-index use beyond strict adjacency
  (engine.ts:267-284 generalized from gap==1 to gap<=W).
- champion lists (impact-ordered postings) — per-term top-N docs by tf,
  the classic top-k acceleration structure next to block-max WAND;
  built skew-safe with the salted two-stage window (no Zipf head term
  funnels through a single task).

Same contract as ``corpus_queries``: identical aliases on both sides,
integer columns BIGINT-cast on both sides, deterministic tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .corpus_queries import (
    _SQL_BM25_CORE,
    _TOKS_SQL,
    CONJ_TERMS,
    _docs,
    _embeddings,
    _tokens_df,
)

# --------------------------------------------------------------------------
# disjunctive (OR) top-k: docs matching ANY query term, ranked by how many
# --------------------------------------------------------------------------

OR_TERMS = CONJ_TERMS  # same query set as the AND twin → results contrast


def q_disjunctive_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-semantics companion to ``q_conjunctive_search``: a doc qualifies
    when it contains ANY query term; ranking is coordinate-level (number
    of distinct matched terms, descending) with doc_id tie-break. On the
    persisted index this is the same pushed ``term IN (...)`` postings
    scan as AND — only the HAVING filter differs — and the BM25/WAND path
    (operators/wand.py) is the scored version of this shape."""
    toks = _tokens_df(spark, sf_dir)
    return (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(OR_TERMS))
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_matched"))
        .orderBy(F.desc("n_matched"), F.asc("doc_id"))
        .limit(100)
    )


_or_in = ", ".join(f"'{t}'" for t in OR_TERMS)
SQL_DISJUNCTIVE_SEARCH = f"""
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched FROM (
  SELECT DISTINCT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
) WHERE term IN ({_or_in})
GROUP BY doc_id ORDER BY n_matched DESC, doc_id ASC LIMIT 100
"""


# --------------------------------------------------------------------------
# prefix search: term LIKE 'pre%' — sorted-term range scan on the index
# --------------------------------------------------------------------------

PREFIX = "s"


def q_prefix_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs containing any term with the given prefix, ranked by how many
    distinct such terms they contain. Scale path: the index build writes
    ``postings`` range-partitioned and sorted by term, so
    ``startswith(term, p)`` compiles to a ``StringStartsWith`` pushed
    filter — a contiguous term-range slice of the table, not a full scan
    (asserted for the IN-scan variant in test_plan_hygiene; same
    mechanism)."""
    toks = _tokens_df(spark, sf_dir)
    return (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").startswith(PREFIX))
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_prefix_terms"))
        .orderBy(F.desc("n_prefix_terms"), F.asc("doc_id"))
        .limit(100)
    )


SQL_PREFIX_SEARCH = f"""
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_prefix_terms FROM (
  SELECT DISTINCT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
) WHERE term LIKE '{PREFIX}%'
GROUP BY doc_id ORDER BY n_prefix_terms DESC, doc_id ASC LIMIT 100
"""


# --------------------------------------------------------------------------
# proximity search: two terms within W positions (positional index, gap<=W)
# --------------------------------------------------------------------------

PROX_TERMS = ("sort", "merge")
PROX_WINDOW = 3  # |pos(a) - pos(b)| <= 3  →  up to 2 intervening tokens


def q_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered proximity: both terms present with some occurrence pair
    within PROX_WINDOW positions. Same per-doc position-list aggregation
    as the phrase operator (one shuffle over the two terms' postings —
    the quote-group aggregation in search.py generalizes the same way:
    the adjacency shift becomes a window predicate), then a nested
    ``exists`` over the two position arrays — JVM higher-order functions,
    no Python. Oracle mirrors it as a bounded-gap regex on the
    whitespace-normalized text (exact for this tokenizer; quote-free docs
    guard as in phrase_search)."""
    docs = _docs(spark, sf_dir).filter(~F.col("text").contains('"'))
    from ..functions.tokenizer import tokenize_expr

    toks = docs.select(
        "doc_id", tokenize_expr(F.col("text"), lower_case=True).alias("toks")
    )
    pos = toks.select(
        "doc_id", F.posexplode("toks").alias("pos", "term")
    ).filter(F.col("term").isin(list(PROX_TERMS)))
    agg = pos.groupBy("doc_id").agg(
        F.collect_list(
            F.when(F.col("term") == PROX_TERMS[0], F.col("pos"))
        ).alias("p0"),
        F.collect_list(
            F.when(F.col("term") == PROX_TERMS[1], F.col("pos"))
        ).alias("p1"),
    )
    near = F.exists(
        F.col("p0"),
        lambda x: F.exists(F.col("p1"), lambda y: F.abs(y - x) <= PROX_WINDOW),
    )
    return agg.filter(near).select("doc_id").orderBy("doc_id")


# oracle normalization, exact for the engine tokenizer on quote-free text:
# uppercase ÅÄÖ are SEPARATORS to the tokenizer (WORD_CLASS is A-Za-z0-9_åäö
# — only the lowercase umlauts are word chars) but lower() would fold them
# into word chars, so they are spaced out BEFORE lowering; the gap/boundary
# classes accept tab/newline too (kept by the replace, split on by Spark).
_sep = "[ \t\n]"
_w = "[a-z0-9_åäö]+"
_gap = f"({_sep}+{_w}){{0,{PROX_WINDOW - 1}}}{_sep}+"
_NORM_TEXT = (
    "regexp_replace(lower(regexp_replace(text, '[ÅÄÖ]', ' ', 'g')),"
    " '[^a-z0-9_åäö\" \t\n]', ' ', 'g')"
)
SQL_PROXIMITY_SEARCH = f"""
SELECT doc_id FROM documents
WHERE NOT contains(text, '"')
  AND regexp_matches(
        {_NORM_TEXT},
        '(^|{_sep})({PROX_TERMS[0]}{_gap}{PROX_TERMS[1]}|{PROX_TERMS[1]}{_gap}{PROX_TERMS[0]})({_sep}|$)')
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# champion lists: per-term top-N docs by tf (impact-ordered postings)
# --------------------------------------------------------------------------

CHAMP_N = 5
CHAMP_TERMS = 100  # restrict to the top-df slice of the vocabulary
CHAMP_SALTS = 8


def q_champion_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Impact-ordered postings (champion lists): for each of the top-df
    CHAMP_TERMS terms, the CHAMP_N highest-tf docs. At 100 TB a
    ``row_number() OVER (PARTITION BY term)`` funnels a Zipf head term's
    entire posting list through one task, so stage 1 ranks within
    (term, doc_id % CHAMP_SALTS) — bounded parallel slices — and stage 2
    re-ranks the ≤ N·CHAMP_SALTS survivors (exact: a global top-N row is
    top-N within its salt slice). The term restriction broadcasts."""
    toks = _tokens_df(spark, sf_dir)
    tf = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    top_terms = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(CHAMP_TERMS)
        .select("term")
    )
    cand = tf.join(F.broadcast(top_terms), "term")
    order = [F.desc("tf"), F.asc("doc_id")]
    stage1 = Window.partitionBy("term", F.col("doc_id") % CHAMP_SALTS).orderBy(*order)
    stage2 = Window.partitionBy("term").orderBy(*order)
    return (
        cand.withColumn("rk", F.row_number().over(stage1))
        .filter(F.col("rk") <= CHAMP_N)
        .drop("rk")
        .withColumn("rk", F.row_number().over(stage2).cast("long"))
        .filter(F.col("rk") <= CHAMP_N)
        .select("term", "rk", "doc_id", "tf")
        .orderBy("term", "rk")
    )


SQL_CHAMPION_LISTS = f"""
WITH tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
    SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
  ) GROUP BY doc_id, term
), top_terms AS (
  SELECT term FROM (
    SELECT term, count(*) AS df FROM tf GROUP BY term
    ORDER BY df DESC, term ASC LIMIT {CHAMP_TERMS}
  )
)
SELECT term, rk, doc_id, tf FROM (
  SELECT term, doc_id, tf,
         CAST(row_number() OVER (
           PARTITION BY term ORDER BY tf DESC, doc_id ASC
         ) AS BIGINT) AS rk
  FROM tf WHERE term IN (SELECT term FROM top_terms)
) WHERE rk <= {CHAMP_N} ORDER BY term, rk
"""


# --------------------------------------------------------------------------
# negated (AND NOT) search: boolean queries with exclusion terms
# --------------------------------------------------------------------------

NEG_POS_TERMS = ["filter", "join"]
NEG_TERM = "merge"


def q_negated_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``filter AND join AND NOT merge``. All three terms ride ONE pushed
    ``term IN (...)`` postings scan and one aggregation — the exclusion is
    a conditional count in the same groupBy, not a separate anti-join
    pass, so the negation costs nothing extra at 100 TB (the NOT term's
    posting list is read once, like a positive term's)."""
    toks = _tokens_df(spark, sf_dir)
    all_terms = NEG_POS_TERMS + [NEG_TERM]
    ex = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(all_terms))
        .distinct()
    )
    hit = lambda t: F.sum(  # noqa: E731
        F.when(F.col("term") == t, 1).otherwise(0)
    )
    return (
        ex.groupBy("doc_id")
        .agg(*[hit(t).alias(f"h{i}") for i, t in enumerate(all_terms)])
        .filter(
            (F.col("h0") > 0) & (F.col("h1") > 0) & (F.col("h2") == 0)
        )
        .select("doc_id")
        .orderBy("doc_id")
        .limit(100)
    )


_neg_in = ", ".join(f"'{t}'" for t in NEG_POS_TERMS + [NEG_TERM])
SQL_NEGATED_SEARCH = f"""
SELECT doc_id FROM (
  SELECT DISTINCT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
) WHERE term IN ({_neg_in})
GROUP BY doc_id
HAVING count(*) FILTER (WHERE term = '{NEG_POS_TERMS[0]}') > 0
   AND count(*) FILTER (WHERE term = '{NEG_POS_TERMS[1]}') > 0
   AND count(*) FILTER (WHERE term = '{NEG_TERM}') = 0
ORDER BY doc_id LIMIT 100
"""


# --------------------------------------------------------------------------
# facet counts: per-facet histogram of a result set (search-UI staple)
# --------------------------------------------------------------------------

FACET_TERM = "merge"


def q_facet_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, source) facet counts for the docs matching a term — the
    aggregation a search UI renders next to results. One narrow filtered
    scan + one partial-aggregated shuffle on the (tiny) facet key space;
    at scale the match filter is the same pushed postings semi-join the
    search path uses, so facets ride the query's own candidate set."""
    from ..functions.tokenizer import tokenize_expr

    docs = _docs(spark, sf_dir)
    return (
        docs.filter(
            F.array_contains(
                tokenize_expr(F.col("text"), lower_case=True), FACET_TERM
            )
        )
        .groupBy("lang", "source")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "source")
    )


SQL_FACET_COUNTS = f"""
SELECT lang, source, count(*) AS n_docs FROM documents
WHERE list_contains({_TOKS_SQL}, '{FACET_TERM}')
GROUP BY lang, source ORDER BY lang, source
"""


# --------------------------------------------------------------------------
# posting-length histogram: index-shape diagnostics (Zipf skew evidence)
# --------------------------------------------------------------------------

def q_posting_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """log2-bucket histogram of posting-list lengths (df per term) — the
    skew diagnostic that justifies the build's range-partitioned postings
    layout (a head bucket holding Zipf terms is visible here). Bucket is
    computed with INTEGER arithmetic (binary-digit count, not float log2,
    which misrounds at exact powers of two on some libm builds)."""
    toks = _tokens_df(spark, sf_dir)
    dfs = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    bucket = (
        F.length(F.conv(F.col("df").cast("string"), 10, 2)) - 1
    ).cast("long")
    return (
        dfs.groupBy(bucket.alias("log2_df"))
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            F.sum("df").cast("long").alias("total_postings"),
        )
        .orderBy("log2_df")
    )


SQL_POSTING_LENGTH_HIST = f"""
SELECT CAST(length(printf('%b', df)) - 1 AS BIGINT) AS log2_df,
       CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(df) AS BIGINT) AS total_postings
FROM (
  SELECT term, count(*) AS df FROM (
    SELECT DISTINCT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
  ) GROUP BY term
) GROUP BY log2_df ORDER BY log2_df
"""


# --------------------------------------------------------------------------
# hybrid search: BM25 + vector cosine fused by reciprocal-rank fusion
# --------------------------------------------------------------------------

RRF_K = 60
RRF_LIST = 20  # depth of each input ranking
RRF_TOPK = 10


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: the BM25 top-20 (lexical) and cosine top-20
    (vector, query = embedding 0, vec_id aligned with doc_id) fused by
    reciprocal-rank fusion ``Σ 1/(60+rank)``. The lexical ranking is the
    engine's ``SearchEngine.search_bm25`` (engine_queries.bm25_ranked),
    the vector one uses a broadcast query vector; the fusion itself
    joins two ≤20-row frames — driver-trivial at any corpus size. Ranks
    carried in the output so the fusion is auditable."""
    from .engine_queries import bm25_ranked

    w_lex = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    lex = (
        bm25_ranked(spark, sf_dir)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(RRF_LIST)
        .withColumn("lex_rank", F.row_number().over(w_lex).cast("long"))
        .select("doc_id", "lex_rank")
    )

    emb = _embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("e").alias("q"))
    dot = F.aggregate(
        F.zip_with("e", "q", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    sim = F.round(dot / (norm(F.col("e")) * norm(F.col("q"))), 4)
    w_vec = Window.orderBy(F.desc("cos_sim"), F.asc("doc_id"))
    vec = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(F.col("vec_id").alias("doc_id"), sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("doc_id"))
        .limit(RRF_LIST)
        .withColumn("vec_rank", F.row_number().over(w_vec).cast("long"))
        .select("doc_id", "vec_rank")
    )

    contrib = lambda c: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(RRF_K) + F.col(c)), F.lit(0.0)
    )
    return (
        lex.join(vec, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(contrib("lex_rank") + contrib("vec_rank"), 6).alias(
                "rrf_score"
            ),
            "lex_rank",
            "vec_rank",
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(RRF_TOPK)
    )


SQL_HYBRID_RRF = _SQL_BM25_CORE + f"""
, lex AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT)
           AS lex_rank
  FROM (SELECT doc_id, score FROM per_doc
        ORDER BY score DESC, doc_id ASC LIMIT {RRF_LIST})
), qv AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0
), cos AS (
  SELECT vec_id AS doc_id,
         round(list_dot_product(CAST(embedding AS DOUBLE[]), qe)
               / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(qe, qe))), 4) AS cos_sim
  FROM embeddings, qv WHERE vec_id <> 0
), vec AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id ASC) AS BIGINT)
           AS vec_rank
  FROM (SELECT doc_id, cos_sim FROM cos
        ORDER BY cos_sim DESC, doc_id ASC LIMIT {RRF_LIST})
)
SELECT doc_id,
       round(coalesce(CAST(1.0 AS DOUBLE) / ({RRF_K} + lex_rank), 0.0)
             + coalesce(CAST(1.0 AS DOUBLE) / ({RRF_K} + vec_rank), 0.0), 6)
         AS rrf_score,
       lex_rank, vec_rank
FROM lex FULL OUTER JOIN vec USING (doc_id)
ORDER BY rrf_score DESC, doc_id ASC LIMIT {RRF_TOPK}
"""


EXTRA_QUERIES = {
    "disjunctive_search": (q_disjunctive_search, SQL_DISJUNCTIVE_SEARCH),
    "prefix_search": (q_prefix_search, SQL_PREFIX_SEARCH),
    "proximity_search": (q_proximity_search, SQL_PROXIMITY_SEARCH),
    "champion_lists": (q_champion_lists, SQL_CHAMPION_LISTS),
    "negated_search": (q_negated_search, SQL_NEGATED_SEARCH),
    "facet_counts": (q_facet_counts, SQL_FACET_COUNTS),
    "posting_length_hist": (q_posting_length_hist, SQL_POSTING_LENGTH_HIST),
    "hybrid_rrf": (q_hybrid_rrf, SQL_HYBRID_RRF),
}
