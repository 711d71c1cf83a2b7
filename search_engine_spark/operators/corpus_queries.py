"""Corpus operators over the driver's ``documents`` / ``embeddings``
tables, each with a DuckDB-oracle SQL twin.

The search entries (conjunctive, single-term, BM25, filtered and
projected BM25, block-max WAND) answer through the shipped
:class:`.search.SearchEngine` over a persisted index built from
``documents`` (engine_queries.py); their oracles below are ANSI SQL over
the raw parquet, so the driver checks the engine users run. The other
operators (phrase adjacency, term statistics, dedup, similarity, text
analysis, the training-data pipeline) are single declarative DataFrame
programs over the raw parquet.

Every computed column is aliased identically in the Spark plan and the SQL
string; floats are rounded explicitly on both sides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import DEMO_STOP_WORDS
from ..functions.suggest import deletion_variants as _deletion_variants
from ..functions.tokenizer import duckdb_tokenize_sql, tokenize_expr
from .engine_queries import (
    q_bm25_scores_all,
    q_bm25_topk,
    q_bm25_topk_projected,
    q_conjunctive_search,
    q_filtered_bm25,
    q_single_term_topk,
    q_wand_topk,
)
from .multimodal import (
    SQL_MULTIMODAL_AUDIO_DECODE,
    SQL_MULTIMODAL_AUDIO_FRAMES,
    SQL_MULTIMODAL_FEATURES,
    SQL_MULTIMODAL_FRAMES,
    SQL_MULTIMODAL_IMAGE_DECODE,
    SQL_MULTIMODAL_IMAGE_RESIZE,
    SQL_MULTIMODAL_RESIZE,
    q_multimodal_audio_decode,
    q_multimodal_audio_frames,
    q_multimodal_features,
    q_multimodal_frames,
    q_multimodal_image_decode,
    q_multimodal_image_resize,
    q_multimodal_resize,
)

# shared constants between Spark impls and oracle SQL
CONJ_TERMS = ["filter", "join", "window"]
SINGLE_TERM = "merge"
PHRASE = ("table", "scan")
BM25_K1, BM25_B = 1.2, 0.75
MINHASH_SEEDS = [1, 2, 3, 4]
SHINGLE_N = 3
SHINGLE_DF_CAP = 64  # drop shingles in >64 docs before the pair join
JACCARD_MIN = 0.2
SIMHASH_BITS = 16
STOP_LIST = sorted(DEMO_STOP_WORDS)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _tokens_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, toks) with lowercased engine tokens."""
    return _docs(spark, sf_dir).select(
        "doc_id", tokenize_expr(F.col("text"), lower_case=True).alias("toks")
    )


_TOKS_SQL = duckdb_tokenize_sql("text", lower_case=True)


# --------------------------------------------------------------------------
# B1/B3 tokenize + Q16 count
# --------------------------------------------------------------------------

def q_tokenize_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tokens_df(spark, sf_dir).select(
        "doc_id", F.size("toks").cast("long").alias("n_tokens")
    )


SQL_TOKENIZE_COUNT = f"""
SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens FROM documents
"""


def q_doc_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).agg(F.count("*").alias("n_docs"))


SQL_DOC_COUNT = "SELECT count(*) AS n_docs FROM documents"


# --------------------------------------------------------------------------
# B5/B9 posting construction: document frequency (one posting per doc/term)
# --------------------------------------------------------------------------

def q_term_df_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _tokens_df(spark, sf_dir)
    return (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(50)
    )


SQL_TERM_DF_TOP50 = f"""
SELECT term, count(*) AS df FROM (
  SELECT DISTINCT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
) GROUP BY term ORDER BY df DESC, term ASC LIMIT 50
"""


# --------------------------------------------------------------------------
# Q3 conjunctive AND + Q4 single-term + Q12 top-k by doc order
# (SearchEngine.search, engine_queries.py)
# --------------------------------------------------------------------------

_terms_in = ", ".join(f"'{t}'" for t in CONJ_TERMS)
SQL_CONJUNCTIVE_SEARCH = f"""
SELECT doc_id FROM (
  SELECT doc_id, count(*) AS n_terms FROM (
    SELECT DISTINCT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
  ) WHERE term IN ({_terms_in}) GROUP BY doc_id
) WHERE n_terms = {len(CONJ_TERMS)} ORDER BY doc_id LIMIT 100
"""

SQL_SINGLE_TERM_TOPK = f"""
SELECT doc_id FROM documents
WHERE list_contains({_TOKS_SQL}, '{SINGLE_TERM}')
ORDER BY doc_id LIMIT 100
"""


# --------------------------------------------------------------------------
# Q5/Q6 phrase adjacency (positional index + shifted intersection)
# --------------------------------------------------------------------------

# stays declarative: the engine caps phrase candidates at INTERSECT_CAP =
# 100 (engine.ts:134), this oracle has no cap (306 rows at sf0.1)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True positional-operator implementation: per-doc positions of the
    two phrase words, second shifted by -1, array_intersect non-empty
    (engine.ts:267-284 semantics)."""
    docs = _docs(spark, sf_dir).filter(~F.col("text").contains('"'))
    toks = docs.select(
        "doc_id", tokenize_expr(F.col("text"), lower_case=True).alias("toks")
    )
    pos = toks.select(
        "doc_id", F.posexplode("toks").alias("pos", "term")
    ).filter(F.col("term").isin(list(PHRASE)))
    agg = pos.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.when(F.col("term") == PHRASE[0], F.col("pos")))
        ).alias("p0"),
        F.sort_array(
            F.collect_list(F.when(F.col("term") == PHRASE[1], F.col("pos")))
        ).alias("p1"),
    )
    shifted = F.transform(F.col("p1"), lambda x: x - F.lit(1))
    return (
        agg.filter(F.size(F.array_intersect(F.col("p0"), shifted)) > 0)
        .select("doc_id")
        .orderBy("doc_id")
    )


# oracle: token adjacency == regex adjacency on the whitespace-normalized
# text for this tokenizer (guarded on quote-free text; synthetic docs are)
SQL_PHRASE_SEARCH = f"""
SELECT doc_id FROM documents
WHERE NOT contains(text, '"')
  AND regexp_matches(
        regexp_replace(lower(text), '[^a-z0-9_åäö" \t\n]', ' ', 'g'),
        '(^|[ ]){PHRASE[0]}[ ]+{PHRASE[1]}([ ]|$)')
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# BM25 (full pipeline: tf, df, dl, avgdl, idf, score) — the oracles of
# the SearchEngine.search_bm25 entries (engine_queries.py)
# --------------------------------------------------------------------------

def _bm25_sql_core(terms_in: str) -> str:
    """Exhaustive-BM25 CTE chain for a literal term list (shared by the
    bm25_* twins and the wand_topk twin, which uses its own terms)."""
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS t FROM documents
), docs_dl AS (
  SELECT doc_id, len(t) AS dl, t FROM toks
), stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM docs_dl
), tf AS (
  SELECT doc_id, term, count(*) AS tf, min(dl) AS dl FROM (
    SELECT doc_id, dl, unnest(t) AS term FROM docs_dl
  ) WHERE term IN ({terms_in}) GROUP BY doc_id, term
), dfs AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id, tf.term,
         ln(1.0 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
           * tf.tf * ({BM25_K1} + 1.0)
           / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * tf.dl / stats.avgdl))
           AS s
  FROM tf, dfs, stats WHERE tf.term = dfs.term
), per_doc AS (
  SELECT doc_id, round(sum(s ORDER BY term), 6) AS score,
         count(*) AS n_terms
  FROM scored GROUP BY doc_id
)
"""


_SQL_BM25_CORE = _bm25_sql_core(_terms_in)

SQL_BM25_SCORES_ALL = _SQL_BM25_CORE + "SELECT doc_id, score, n_terms FROM per_doc ORDER BY doc_id"

SQL_BM25_TOPK = _SQL_BM25_CORE + (
    "SELECT doc_id, score, n_terms FROM per_doc "
    "ORDER BY score DESC, doc_id ASC LIMIT 100"
)

SQL_BM25_TOPK_PROJECTED = _SQL_BM25_CORE + (
    "SELECT p.doc_id, p.score, p.n_terms, d.lang, d.source, "
    "substr(d.text, 1, 120) AS introduction "
    "FROM per_doc p JOIN documents d USING (doc_id) "
    "ORDER BY p.score DESC, p.doc_id ASC LIMIT 100"
)

SQL_FILTERED_BM25 = _SQL_BM25_CORE + (
    "SELECT doc_id, score, n_terms FROM per_doc "
    "WHERE doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en') "
    "ORDER BY score DESC, doc_id ASC LIMIT 100"
)


WAND_TERMS = ["scan", "sort"]  # distinct from CONJ_TERMS; df skew differs
WAND_K = 10

SQL_WAND_TOPK = _bm25_sql_core(
    ", ".join(f"'{t}'" for t in WAND_TERMS)
) + (
    "SELECT doc_id, score, n_terms FROM per_doc "
    f"ORDER BY score DESC, doc_id ASC LIMIT {WAND_K}"
)


# --------------------------------------------------------------------------
# sorts / limits
# --------------------------------------------------------------------------

def q_top_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        q_tokenize_count(spark, sf_dir)
        .orderBy(F.desc("n_tokens"), F.asc("doc_id"))
        .limit(20)
    )


SQL_TOP_LONGEST = f"""
SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens FROM documents
ORDER BY n_tokens DESC, doc_id ASC LIMIT 20
"""


# --------------------------------------------------------------------------
# dedup: exact + prefix-fingerprint groups
# --------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n") > 1)
        .orderBy("text_hash")
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, count(*) AS n, min(doc_id) AS keep_doc_id
FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY text_hash
"""


def q_dedup_prefix_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _tokens_df(spark, sf_dir)
    prefix = F.concat_ws(" ", F.slice("toks", 1, 8))
    return (
        toks.groupBy(F.md5(prefix).alias("prefix_hash"))
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n") > 1)
        .orderBy("prefix_hash")
    )


SQL_DEDUP_PREFIX_GROUPS = f"""
SELECT md5(array_to_string(({_TOKS_SQL})[1:8], ' ')) AS prefix_hash,
       count(*) AS n, min(doc_id) AS keep_doc_id
FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY prefix_hash
"""


# --------------------------------------------------------------------------
# text analysis: quality metrics + per-language stats
# --------------------------------------------------------------------------

def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        tokenize_expr(F.col("text"), lower_case=True).alias("toks"),
    )
    stop_arr = F.array(*[F.lit(s) for s in STOP_LIST])
    n_tokens = F.size("toks")
    n_stop = F.size(
        F.filter(F.col("toks"), lambda t: F.array_contains(stop_arr, t))
    )
    n_distinct = F.size(F.array_distinct("toks"))
    return toks.select(
        "doc_id",
        "n_chars",
        n_tokens.cast("long").alias("n_tokens"),
        F.round(n_stop / F.nullif(n_tokens.cast("double"), F.lit(0.0)), 6).alias(
            "stopword_ratio"
        ),
        F.round(
            n_distinct / F.nullif(n_tokens.cast("double"), F.lit(0.0)), 6
        ).alias("distinct_ratio"),
    )


_stop_in = ", ".join(f"'{s}'" for s in STOP_LIST)
SQL_TEXT_QUALITY = f"""
WITH t AS (SELECT doc_id, length(text) AS n_chars, {_TOKS_SQL} AS toks FROM documents)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       round(len(list_filter(toks, x -> x IN ({_stop_in})))
             / nullif(CAST(len(toks) AS DOUBLE), 0.0), 6) AS stopword_ratio,
       round(len(list_distinct(toks))
             / nullif(CAST(len(toks) AS DOUBLE), 0.0), 6) AS distinct_ratio
FROM t
"""


def q_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        "lang", tokenize_expr(F.col("text")).alias("toks")
    )
    return (
        toks.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg(F.size("toks")), 6).alias("avg_tokens"),
        )
        .orderBy("lang")
    )


SQL_LANG_STATS = f"""
SELECT lang, count(*) AS n_docs,
       round(avg(len({_TOKS_SQL})), 6) AS avg_tokens
FROM documents GROUP BY lang ORDER BY lang
"""


# --------------------------------------------------------------------------
# language identification: CJK-script detection + stop-word overlap
# --------------------------------------------------------------------------

# Per-language function-word lists (high-frequency, ASCII-safe so the
# engine tokenizer — which keeps only [\w\dåäö] — preserves them intact).
# Deliberately small: at 100 TB this is a broadcast-free literal array in
# the plan; predicted language is a pure per-row column expression, so the
# operator is a narrow map with zero shuffle.
LANG_STOPWORDS = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "eine",
           "zu", "den", "von", "mit", "auf", "im", "auch"],
    "en": ["the", "a", "and", "of", "to", "in", "is", "that", "it",
           "for", "was", "on", "are", "with", "as"],
    "es": ["el", "los", "las", "y", "un", "una", "es", "en", "por",
           "para", "con", "no", "se", "su", "lo"],
    "fr": ["le", "les", "des", "et", "une", "est", "que", "pour",
           "dans", "qui", "pas", "sur", "au", "ce", "il"],
}
_CJK_NEG = "[^一-鿿]"  # strip-all-but-CJK; literal range, RE2+Java safe


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language identification (the stop-word-overlap heuristic named in
    COVERAGE.md): count token occurrences in each language's function-word
    list; predicted language = lexicographically-first argmax, 'und' when
    no list matches, with a CJK-script pre-check ('zh' iff any CJK char).
    On real text this is the classic cheap langid; on the synthetic corpus
    it mostly answers 'en', which the oracle twin reproduces exactly."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        "text",
        tokenize_expr(F.col("text"), lower_case=True).alias("toks"),
    )
    n_cjk = F.length(F.regexp_replace(F.col("text"), _CJK_NEG, "")).cast("long")
    def _hit_count(words: list[str]) -> Column:
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(
            F.filter(F.col("toks"), lambda t: F.array_contains(arr, t))
        ).cast("long")

    hits = {
        lang: _hit_count(words)
        for lang, words in sorted(LANG_STOPWORDS.items())
    }
    m = F.greatest(*hits.values())
    pred = F.when(n_cjk > 0, F.lit("zh")).when(m == 0, F.lit("und"))
    for lang in sorted(LANG_STOPWORDS):
        pred = pred.when(hits[lang] == m, F.lit(lang))
    evidence = F.when(n_cjk > 0, n_cjk).otherwise(m)
    return (
        d.select(
            "doc_id",
            pred.alias("pred_lang"),
            evidence.alias("evidence"),
        )
        .orderBy("doc_id")
    )


def _lang_hits_sql(words: list[str]) -> str:
    in_list = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(toks, x -> x IN ({in_list})))"


_LANG_HITS = {
    lang: _lang_hits_sql(words) for lang, words in sorted(LANG_STOPWORDS.items())
}
_LANG_PRED_CASES = "\n       ".join(
    f"WHEN h_{lang} = m THEN '{lang}'" for lang in sorted(LANG_STOPWORDS)
)
SQL_LANG_ID = f"""
WITH t AS (
  SELECT doc_id,
         length(regexp_replace(text, '{_CJK_NEG}', '', 'g')) AS n_cjk,
         {_TOKS_SQL} AS toks
  FROM documents
), h AS (
  SELECT doc_id, n_cjk,
         {", ".join(f"CAST({expr} AS BIGINT) AS h_{lang}" for lang, expr in _LANG_HITS.items())}
  FROM t
), g AS (
  SELECT *, greatest({", ".join(f"h_{lang}" for lang in sorted(LANG_STOPWORDS))}) AS m
  FROM h
)
SELECT doc_id,
       CASE WHEN n_cjk > 0 THEN 'zh'
            WHEN m = 0 THEN 'und'
       {_LANG_PRED_CASES}
       END AS pred_lang,
       CAST(CASE WHEN n_cjk > 0 THEN n_cjk ELSE m END AS BIGINT) AS evidence
FROM g ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# MinHash signatures + shingle-Jaccard near-dup pairs
# --------------------------------------------------------------------------

def _hash64(col: Column) -> Column:
    """Deterministic 60-bit hash from md5 hex — identical in DuckDB via
    ('0x' || substr(md5(x),1,15))::bigint."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _shingles(toks: Column) -> Column:
    """Distinct 3-token shingles, space-joined."""
    n = F.size(toks)
    idx = F.sequence(F.lit(1), n - (SHINGLE_N - 1))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, SHINGLE_N)))
    return F.array_distinct(sh)


_SHINGLES_SQL = (
    f"list_distinct(list_transform(range(1, len({_TOKS_SQL}) - {SHINGLE_N - 2}),"
    f" i -> array_to_string(({_TOKS_SQL})[i:i+{SHINGLE_N - 1}], ' ')))"
)


def _bigrams(toks: Column) -> Column:
    """Adjacent-token pairs as 'w1 w2' strings — the ONE definition of a
    token bigram (top_bigrams, bigram_logprob); empty for len<2."""
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    return F.zip_with(
        F.slice(toks, 1, n1),
        F.slice(toks, 2, n1),
        lambda a, b: F.concat_ws(" ", a, b),
    )


_BIGRAMS_SQL = (
    f"list_transform(range(1, len({_TOKS_SQL})),"
    f" i -> ({_TOKS_SQL})[i] || ' ' || ({_TOKS_SQL})[i+1])"
)


def _stop_filtered_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term) occurrences under the index build's B4 filter
    (stop words + 1-char tokens dropped) — the ONE definition shared by
    tf-idf, more-like-this, and PMI co-occurrence; SQL twins mirror it
    with ``len(term) >= 2 AND term NOT IN ({_stop_in})``."""
    toks = _tokens_df(spark, sf_dir)
    return toks.select("doc_id", F.explode("toks").alias("term")).filter(
        (F.length("term") >= 2) & ~F.col("term").isin(STOP_LIST)
    )


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _tokens_df(spark, sf_dir).filter(F.size("toks") >= SHINGLE_N)
    sh = toks.select("doc_id", F.explode(_shingles(F.col("toks"))).alias("sh"))
    aggs = [
        F.min(_hash64(F.concat_ws("|", F.lit(str(seed)), F.col("sh")))).alias(
            f"mh{seed}"
        )
        for seed in MINHASH_SEEDS
    ]
    return sh.groupBy("doc_id").agg(*aggs).orderBy("doc_id")


_mh_cols = ",\n       ".join(
    f"min(('0x' || substr(md5('{seed}' || '|' || sh), 1, 15))::BIGINT) AS mh{seed}"
    for seed in MINHASH_SEEDS
)
SQL_MINHASH_SIGNATURES = f"""
SELECT doc_id, {_mh_cols}
FROM (SELECT doc_id, unnest({_SHINGLES_SQL}) AS sh FROM documents
      WHERE len({_TOKS_SQL}) >= {SHINGLE_N})
GROUP BY doc_id ORDER BY doc_id
"""


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs by shingle Jaccard — the classic
    shingle->inverted-list->pair-count plan (no all-pairs product).

    The operator's DEFINITION includes a shingle document-frequency cap
    (SHINGLE_DF_CAP, oracle twin identical): a shingle appearing in more
    than CAP docs contributes CAP^2 rows to the equi-join, so one
    Zipf-frequent shingle ('in the course of') makes the join quadratic
    at scale. Capped shingles carry no near-dup signal anyway — they are
    boilerplate by construction. Dropping them bounds the join at
    |shingles| * CAP^2 regardless of corpus size (tested with an injected
    skew corpus in tests/test_corpus_oracle.py)."""
    toks = _tokens_df(spark, sf_dir).filter(F.size("toks") >= SHINGLE_N)
    sh_all = toks.select(
        "doc_id", F.explode(_shingles(F.col("toks"))).alias("sh")
    )
    rare = (
        sh_all.groupBy("sh")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") <= SHINGLE_DF_CAP)
        .select("sh")
    )
    sh = sh_all.join(rare, "sh")
    # denominator counts ALL shingles (pre-cap): a mostly-boilerplate doc
    # must not look near-identical to another just because only its rare
    # shingles survived the cap — the cap bounds the JOIN, not the
    # definition of |A ∪ B|
    sizes = sh_all.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    jac = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("common")
                / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_MIN)
    )
    return jac.orderBy("doc_a", "doc_b")


SQL_NGRAM_JACCARD_PAIRS = f"""
WITH sh_all AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS sh FROM documents
  WHERE len({_TOKS_SQL}) >= {SHINGLE_N}
), rare AS (
  SELECT sh FROM (
    SELECT sh, count(DISTINCT doc_id) AS df FROM sh_all GROUP BY sh
  ) WHERE df <= {SHINGLE_DF_CAP}
), sh AS (
  SELECT sh_all.doc_id, sh_all.sh FROM sh_all JOIN rare USING (sh)
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh_all GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(common / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(common / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE), 6) >= {JACCARD_MIN}
ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
# SimHash (16-bit) document fingerprint
# --------------------------------------------------------------------------

def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _tokens_df(spark, sf_dir)
    t = toks.select(
        "doc_id", F.explode(F.array_distinct("toks")).alias("term")
    ).withColumn("h", _hash64(F.col("term")))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    agg = t.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.cast("long").alias("simhash")).orderBy(
        "doc_id"
    )


_bit_sums_sql = ",\n       ".join(
    f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
    for j in range(SIMHASH_BITS)
)
_bit_join_sql = " + ".join(
    f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS)
)
SQL_SIMHASH = f"""
WITH t AS (
  SELECT doc_id, ('0x' || substr(md5(term), 1, 15))::BIGINT AS h FROM (
    SELECT DISTINCT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
  )
), sums AS (
  SELECT doc_id, {_bit_sums_sql} FROM t GROUP BY doc_id
)
SELECT doc_id, CAST({_bit_join_sql} AS BIGINT) AS simhash FROM sums ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# similarity search: brute-force cosine vs a query vector
# --------------------------------------------------------------------------

def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("e").alias("q"))
    joined = emb.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(qv))
    dot = F.aggregate(
        F.zip_with("e", "q", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    sim = F.round(dot / (norm(F.col("e")) * norm(F.col("q"))), 4)
    return (
        joined.select("vec_id", sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


SQL_COSINE_TOPK = """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(qe AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(qe AS DOUBLE[]), CAST(qe AS DOUBLE[])))), 4)
         AS cos_sim
FROM embeddings, q WHERE vec_id <> 0
ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
"""


# --------------------------------------------------------------------------
# transcripts synthesis invariant (input_hint per-turn text equality)
# --------------------------------------------------------------------------

def q_transcripts_synth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.transcripts import synthesize_transcripts

    tx = synthesize_transcripts(spark, f"{sf_dir}/documents.parquet")
    return tx.select("conv_id", "turn_idx", "role", "text", "tool").orderBy(
        "conv_id", "turn_idx"
    )


SQL_TRANSCRIPTS_SYNTH = """
SELECT 'conv-' || CAST(doc_id // 8 AS BIGINT) AS conv_id,
       CAST(doc_id % 8 AS INT) AS turn_idx,
       CASE doc_id % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
       array_to_string((string_split(text, ' '))[1:40], ' ') AS text,
       CASE WHEN doc_id % 3 = 2 THEN 'tool_' || source END AS tool
FROM documents ORDER BY conv_id, turn_idx
"""


# --------------------------------------------------------------------------
# MinHash-LSH banding: signature bands -> bucket join -> candidate pairs
# --------------------------------------------------------------------------

# 4 minhash values -> 2 bands of 2 rows each (classic banding: a pair is a
# candidate iff it collides in at least one band)
LSH_BANDS = [(MINHASH_SEEDS[0], MINHASH_SEEDS[1]),
             (MINHASH_SEEDS[2], MINHASH_SEEDS[3])]


def _lsh_pairs_unordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs without the presentation sort (clustering
    consumers don't need it — a global sort before a join is wasted)."""
    sigs = q_minhash_signatures(spark, sf_dir)
    bands = [
        sigs.select(
            "doc_id",
            F.md5(
                F.concat_ws(
                    "|", F.lit(str(bi)), F.col(f"mh{s1}"), F.col(f"mh{s2}")
                )
            ).alias("bucket"),
        )
        for bi, (s1, s2) in enumerate(LSH_BANDS)
    ]
    allb = bands[0].unionAll(bands[1])
    a, b = allb.alias("a"), allb.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs via LSH banding over the MinHash
    signatures — the scale path for dedup: no all-pairs join, only
    equi-joins on band buckets."""
    return _lsh_pairs_unordered(spark, sf_dir).orderBy("doc_a", "doc_b")


_sigs_core = f"""
sigs AS (
  SELECT doc_id, {_mh_cols}
  FROM (SELECT doc_id, unnest({_SHINGLES_SQL}) AS sh FROM documents
        WHERE len({_TOKS_SQL}) >= {SHINGLE_N})
  GROUP BY doc_id
)"""
_band_selects = " UNION ALL ".join(
    f"SELECT doc_id, md5('{bi}' || '|' || mh{s1} || '|' || mh{s2}) AS bucket FROM sigs"
    for bi, (s1, s2) in enumerate(LSH_BANDS)
)
SQL_MINHASH_LSH_PAIRS = f"""
WITH {_sigs_core},
bands AS ({_band_selects})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
# ANN: random-hyperplane LSH bucket + within-bucket cosine top-k
# --------------------------------------------------------------------------

# 4 planes -> 16 buckets: sized so the test corpora (hundreds of vectors)
# keep ~N/16 candidates per bucket; at 100 TB you'd raise planes with corpus
# size (buckets ~ N / desired candidate-set size) and partition by bucket
ANN_PLANES = 4
EMB_DIM = 64


def _plane_signs(j: int) -> list[float]:
    """Deterministic ±1 hyperplane components from md5 — identical
    literals are embedded in the oracle SQL."""
    import hashlib

    return [
        1.0
        if int(hashlib.md5(f"{j}:{d}".encode()).hexdigest()[0], 16) >= 8
        else -1.0
        for d in range(EMB_DIM)
    ]


def _dot_lit(e: Column, signs: list[float]) -> Column:
    lit_arr = F.array(*[F.lit(s) for s in signs])
    return F.aggregate(
        F.zip_with(e, lit_arr, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def q_ann_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbours for vec_id=0: hash every vector to a
    signed-hyperplane bucket (8 bits), then exact cosine only within the
    query's bucket. At scale the bucket column is a partition key — the
    candidate scan is pruned to ~1/2^8 of the table and the query side is
    a broadcast."""
    emb = _embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    bucket = None
    for j in range(ANN_PLANES):
        bit = F.when(_dot_lit(F.col("e"), _plane_signs(j)) > 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    emb = emb.withColumn("bucket", bucket.cast("int"))
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("e").alias("q"), F.col("bucket").alias("qbucket")
    )
    cand = emb.filter(F.col("vec_id") != 0).join(
        F.broadcast(qv), F.col("bucket") == F.col("qbucket")
    )
    dot = F.aggregate(
        F.zip_with("e", "q", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    sim = F.round(dot / (norm(F.col("e")) * norm(F.col("q"))), 4)
    return (
        cand.select("vec_id", sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


def _signs_sql(j: int) -> str:
    return "[" + ", ".join(str(s) for s in _plane_signs(j)) + "]"


_bucket_sql = " + ".join(
    f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), {_signs_sql(j)}) > 0 "
    f"THEN {1 << j} ELSE 0 END)"
    for j in range(ANN_PLANES)
)
SQL_ANN_LSH_COSINE = f"""
WITH b AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, ({_bucket_sql}) AS bucket
  FROM embeddings
), q AS (SELECT e AS qe, bucket AS qbucket FROM b WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(e, qe)
             / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))), 4)
         AS cos_sim
FROM b, q WHERE vec_id <> 0 AND bucket = qbucket
ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
"""


# --------------------------------------------------------------------------
# grouping-sets rollup + set operations (taxonomy categories the reference
# lacks, SURVEY.md §2.3 — covered here so the engine surface is complete)
# --------------------------------------------------------------------------

def q_lang_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(lang, source): per-(lang, source) doc counts plus per-lang
    and grand-total subtotal rows — one pass, Spark expands the grouping
    sets map-side (Expand node), no extra scans."""
    return (
        _docs(spark, sf_dir)
        .rollup("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            F.coalesce(F.col("lang"), F.lit("<all>")).alias("lang"),
            F.coalesce(F.col("source"), F.lit("<all>")).alias("source"),
            "n_docs",
            "total_chars",
        )
        .orderBy("lang", "source")
    )


SQL_LANG_SOURCE_ROLLUP = """
SELECT coalesce(lang, '<all>') AS lang,
       coalesce(source, '<all>') AS source,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY ROLLUP(lang, source)
ORDER BY lang, source
"""


def q_docs_except_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: docs containing the conjunctive terms' first word
    EXCEPT those containing the second, UNION ALL the INTERSECT of both —
    tagged so one result covers except/intersect/union in a single
    oracle-checked query."""
    toks = _tokens_df(spark, sf_dir)
    has = {
        t: toks.filter(F.array_contains("toks", t)).select("doc_id")
        for t in CONJ_TERMS[:2]
    }
    a, b = has[CONJ_TERMS[0]], has[CONJ_TERMS[1]]
    only_a = a.exceptAll(b).withColumn("tag", F.lit("only_first"))
    both = a.intersectAll(b).withColumn("tag", F.lit("both"))
    return only_a.unionAll(both).orderBy("tag", "doc_id")


SQL_DOCS_EXCEPT_INTERSECT = f"""
WITH a AS (
  SELECT doc_id FROM documents WHERE list_contains({_TOKS_SQL}, '{CONJ_TERMS[0]}')
), b AS (
  SELECT doc_id FROM documents WHERE list_contains({_TOKS_SQL}, '{CONJ_TERMS[1]}')
)
SELECT doc_id, 'only_first' AS tag FROM (SELECT doc_id FROM a EXCEPT ALL SELECT doc_id FROM b)
UNION ALL
SELECT doc_id, 'both' AS tag FROM (SELECT doc_id FROM a INTERSECT ALL SELECT doc_id FROM b)
ORDER BY tag, doc_id
"""


# --------------------------------------------------------------------------
# sessionization + percentile aggregates over the events table
# --------------------------------------------------------------------------

SESSION_GAP_S = 1800  # new session after a 30-minute silence


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization per user: lag over the event-time order,
    gap > 30 min starts a new session, session id = running count of
    session starts (classic lag + cumulative-sum window pair). Per-session
    rollup keeps the output compact. Window partitions by user_id, so at
    100 TB the shuffle key is the natural entity key — no global sort."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NTZ -> integer epoch microseconds (UTC session). All arithmetic that
    # feeds the output stays in exact int64 space so Spark and the DuckDB
    # oracle are bit-identical regardless of float summation order:
    #   - gap/duration: unix_micros vs epoch_us, both BIGINT
    #   - sum_value: value quantised to integer micro-units, summed as
    #     int64, divided back by the double 1e6 (one identical IEEE op)
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    value_u = F.round(F.col("value") * F.lit(1000000.0), 0).cast("long")
    gap_us = micros - F.lag(micros).over(by_user)
    is_start = F.when(
        gap_us.isNull() | (gap_us > SESSION_GAP_S * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    sess = (
        ev.withColumn("us", micros)
        .withColumn("value_u", value_u)
        .withColumn("s", is_start)
        .withColumn(
            "session_idx",
            F.sum("s").over(
                by_user.rowsBetween(Window.unboundedPreceding, 0)
            ).cast("long"),
        )
    )
    return (
        sess.groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("value_u") / F.lit(1000000.0)).alias("sum_value"),
            ((F.max("us") - F.min("us")) / F.lit(1000000.0)).alias(
                "duration_s"
            ),
        )
        .orderBy("user_id", "session_idx")
    )


SQL_SESSIONIZE = f"""
WITH g AS (
  SELECT user_id, event_id, ts,
         epoch_us(ts) AS us,
         CAST(round(value * 1000000.0) AS BIGINT) AS value_u,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                   > {SESSION_GAP_S * 1_000_000}
                   OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, us, value_u,
         CAST(sum(s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM g
)
SELECT user_id, session_idx,
       count(*) AS n_events,
       CAST(sum(value_u) AS BIGINT) / 1000000.0 AS sum_value,
       (max(us) - min(us)) / 1000000.0 AS duration_s
FROM numbered GROUP BY user_id, session_idx
ORDER BY user_id, session_idx
"""


# approx_percentile accuracy for the scale path: rank error <= 1/accuracy
# of the group size (Greenwald-Khanna sketch bound) — at 1e4, the approx
# p50 of an n-row group sits between the exact p49.99 and p50.01
APPROX_PCT_ACCURACY = 10000


def q_value_percentiles(
    spark: SparkSession, sf_dir: str, approx: bool = False,
    accuracy: int = APPROX_PCT_ACCURACY,
) -> DataFrame:
    """Exact p50/p90/p99 of value per event_type (linear interpolation —
    Spark `percentile` and DuckDB `quantile_cont` share the definition).
    The exact form is the registered oracle-checked default (bitwise
    comparison); ``approx=True`` is the 100 TB path — a mergeable
    Greenwald-Khanna sketch (`percentile_approx`) whose partial
    aggregates combine map-side, with rank error <= n/accuracy
    (tolerance-tested against the exact path in
    tests/test_approx_quantiles.py, timed in tools/quantile_bench.py)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ps = F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
    pct = (
        F.percentile_approx("value", ps, F.lit(accuracy))
        if approx
        else F.percentile("value", ps)
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(pct[0], 6).alias("p50"),
            F.round(pct[1], 6).alias("p90"),
            F.round(pct[2], 6).alias("p99"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


SQL_VALUE_PERCENTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99,
       count(*) AS n
FROM events GROUP BY event_type ORDER BY event_type
"""


# --------------------------------------------------------------------------
# relational coverage over the TPC-H-ish tables: agg + broadcast join
# --------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: single-pass algebraic aggregation
    over lineitem — everything map-side-combinable, one light shuffle on
    the tiny (returnflag, linestatus) key; scales linearly at 100 TB."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(
                F.sum(disc_price * (1 + F.col("l_tax"))), 4
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped top-k join: lineitem ⋈ orders ⋈ customer with the
    dimension side explicitly broadcast (customer filter is selective; at
    100 TB the fact-side scan keeps its date/segment filters pushed down
    and never shuffles for the dim join) → revenue top-10 via
    TakeOrderedAndProject."""
    cust = F.broadcast(
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderdate") < F.lit("1995-03-15"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_shipdate") > F.lit("1995-03-15"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(
            F.broadcast(orders.join(cust, orders.o_custkey == cust.c_custkey)),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(revenue), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


SQL_SHIPPING_PRIORITY = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < '1995-03-15'
  AND l_shipdate > '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
"""


# --------------------------------------------------------------------------
# event-time windowed aggregation over the events table (+ JSON props)
# --------------------------------------------------------------------------

def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time windows per event_type: count, sum(value),
    avg of the JSON ``props.k`` field. Batch twin of the Structured
    Streaming path (streaming/windows.py) — same F.window expression the
    watermarked stream uses, so batch ≡ stream is testable."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.window("ts", "1 day").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.round(
                F.avg(F.get_json_object("props", "$.k").cast("double")), 6
            ).alias("avg_k"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "n_events",
            "sum_value",
            "avg_k",
        )
        .orderBy("day", "event_type")
    )


SQL_EVENTS_WINDOWED = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value,
       round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 6) AS avg_k
FROM events
GROUP BY day, event_type
ORDER BY day, event_type
"""


# --------------------------------------------------------------------------
# n-gram statistics: corpus-wide top bigrams
# --------------------------------------------------------------------------

def q_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 token bigrams by frequency — the n-gram analogue of the
    posting df aggregation (B9/Q16 lineage): explode adjacent token pairs,
    algebraic count (map-side combine absorbs Zipf skew), top-k via
    TakeOrderedAndProject."""
    toks = _tokens_df(spark, sf_dir)
    pairs = toks.select(F.explode(_bigrams(F.col("toks"))).alias("bigram"))
    return (
        pairs.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("bigram"))
        .limit(25)
    )


SQL_TOP_BIGRAMS = f"""
WITH pairs AS (
  SELECT unnest({_BIGRAMS_SQL}) AS bigram FROM documents
)
SELECT bigram, count(*) AS freq
FROM pairs GROUP BY bigram
ORDER BY freq DESC, bigram ASC LIMIT 25
"""


# --------------------------------------------------------------------------
# deterministic train/test split (training-data pipeline staple)
# --------------------------------------------------------------------------

TT_TEST_PCT = 10  # doc goes to test iff md5(doc_id) mod 100 < 10


def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash split: split membership is a pure function of
    doc_id (md5 hex prefix mod 100), so it is stable across runs, cluster
    sizes, and data order — the property a 100 TB pipeline needs (no
    sampling state, no shuffle; a map-side column + algebraic agg)."""
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long") % 100
    )
    split = F.when(bucket < TT_TEST_PCT, F.lit("test")).otherwise(F.lit("train"))
    return (
        _docs(spark, sf_dir)
        .select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split")
    )


SQL_TRAIN_TEST_SPLIT = f"""
SELECT CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100 < {TT_TEST_PCT}
            THEN 'test' ELSE 'train' END AS split,
       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY split ORDER BY split
"""


# --------------------------------------------------------------------------
# embedding-cosine near-dup: LSH-band blocking + exact cosine verify
# --------------------------------------------------------------------------

# 6 bands × 2 hyperplanes (md5-derived signs, planes j = band*2 + row). The
# operator's DEFINITION includes the band collision — both engines compute
# "collides in ≥1 band AND exact cosine ≥ τ" — so Spark and the oracle are
# exact twins while the Spark plan stays shuffle-light: one equi-join on
# (band, code) instead of an all-pairs cross join, then exact verification
# only on the blocked candidates. At 100 TB the band code is the shuffle
# key (≍ bucketed join) and the verify stage touches ~|candidates| rows.
EMB_DEDUP_BANDS = 6
EMB_DEDUP_ROWS = 2
EMB_DEDUP_TAU = 0.45


def _cos_sim(e1: Column, e2: Column) -> Column:
    dot = F.aggregate(
        F.zip_with(e1, e2, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    sq = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    return dot / (F.sqrt(sq(e1)) * F.sqrt(sq(e2)))


def q_dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_a < vec_b): random-
    hyperplane LSH banding for candidate generation, exact cosine ≥ τ
    as the verify filter (cf. reference dedup-by-url B7,
    /root/reference/src/engine.ts:56-58 — here lifted to vector space)."""
    emb = _embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    # per-band code = little-endian int over the band's plane sign bits;
    # posexplode → (vec_id, band, code) → self equi-join on the band key
    codes = F.array(
        *[
            sum(
                F.when(
                    _dot_lit(
                        F.col("e"),
                        _plane_signs(band * EMB_DEDUP_ROWS + r),
                    )
                    > 0,
                    F.lit(1 << r),
                ).otherwise(F.lit(0))
                for r in range(EMB_DEDUP_ROWS)
            )
            for band in range(EMB_DEDUP_BANDS)
        ]
    )
    banded = emb.select(
        "vec_id", F.posexplode(codes).alias("band", "code")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.code") == F.col("b.code"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .distinct()
    )
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("e").alias("e_a"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("e").alias("e_b"))
    sim = F.round(_cos_sim(F.col("e_a"), F.col("e_b")), 4)
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= EMB_DEDUP_TAU)
        .orderBy("vec_a", "vec_b")
    )


_band_code_sql = ", ".join(
    "("
    + " + ".join(
        f"(CASE WHEN list_dot_product(e, {_signs_sql(band * EMB_DEDUP_ROWS + r)}) > 0 "
        f"THEN {1 << r} ELSE 0 END)"
        for r in range(EMB_DEDUP_ROWS)
    )
    + ")"
    for band in range(EMB_DEDUP_BANDS)
)
SQL_DEDUP_EMBEDDING_PAIRS = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), banded AS (
  SELECT vec_id, band - 1 AS band, codes[band] AS code
  FROM (SELECT vec_id, [{_band_code_sql}] AS codes FROM v),
       generate_series(1, {EMB_DEDUP_BANDS}) AS g(band)
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.code = b.code AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b,
       round(list_dot_product(ea.e, eb.e)
             / (sqrt(list_dot_product(ea.e, ea.e))
                * sqrt(list_dot_product(eb.e, eb.e))), 4) AS cos_sim
FROM cand
JOIN v ea ON ea.vec_id = cand.vec_a
JOIN v eb ON eb.vec_id = cand.vec_b
WHERE round(list_dot_product(ea.e, eb.e)
            / (sqrt(list_dot_product(ea.e, ea.e))
               * sqrt(list_dot_product(eb.e, eb.e))), 4) >= {EMB_DEDUP_TAU}
ORDER BY vec_a, vec_b
"""


# --------------------------------------------------------------------------
# near-dup clustering: connected components over the LSH pair graph
# --------------------------------------------------------------------------

def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH candidate-pair graph:
    every document in a near-dup pair gets the MINIMUM doc_id of its
    component as cluster id (the canonical representative a dedup pipeline
    keeps). Iterative label propagation — each round is one shuffle join,
    rounds are bounded by component diameter (tiny for dedup graphs); the
    same loop GraphFrames/Pregel runs at 100 TB. Deterministic: labels
    only ever decrease to the component minimum."""
    pairs = _lsh_pairs_unordered(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).persist()
    # localCheckpoint per round: fully materializes the new labels AND
    # truncates lineage, so each round's plan stays one join deep (a bare
    # persist would let the plan grow per round, and unpersisting the old
    # labels while the new frame is only partially cached would force
    # cascading recomputation on large graphs)
    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("cluster", F.col("doc_id"))
        .localCheckpoint()
    )
    while True:
        neighbor_min = (
            edges.join(
                labels.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                    "cluster", "nb_cluster"
                ),
                "doc_b",
            )
            .groupBy("doc_a")
            .agg(F.min("nb_cluster").alias("nb_min"))
            .withColumnRenamed("doc_a", "doc_id")
        )
        new_labels = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster"), F.coalesce(F.col("nb_min"), F.col("cluster"))
                ).alias("cluster"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.cluster") != F.col("o.cluster"))
            .take(1)
        )
        labels = new_labels
        if not changed:
            break
    edges.unpersist()
    return labels.orderBy("doc_id")


_LSH_PAIRS_SUBQ = f"""
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
"""

SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_sigs_core},
bands AS ({_band_selects}),
pairs AS ({_LSH_PAIRS_SUBQ}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
)
SELECT u AS doc_id,
       least(u, min(v)) AS cluster
FROM reach GROUP BY u ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# IVF-style ANN: deterministic coarse centroids, nprobe lists, exact rerank
# --------------------------------------------------------------------------

IVF_NLIST = 8    # coarse centroids: k-means-trained from seeds vec_id 1..8
IVF_NPROBE = 2   # probe the query's 2 nearest lists

# Lloyd k-means primitives, shared with behavior_extras.q_kmeans_clusters
KMEANS_DIM = 64  # embeddings table dimension (TESTDATA.md)
_KM_SCALE = 100000000.0  # 1e8: component quantum for exact int64 mean sums


def _km_distances(centroids: dict[int, list[float]]):
    """Squared-L2 distance columns d{cid} as a sequential left fold over
    the dims (F.aggregate), matching DuckDB's list_reduce fold order so
    the doubles are bit-identical."""
    cols = []
    for cid in sorted(centroids):
        ce = F.array(*[F.lit(float(v)) for v in centroids[cid]])
        d = F.aggregate(
            F.zip_with("ee", ce, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        cols.append(d.alias(f"d{cid}"))
    return cols


def _km_assign(df: DataFrame, centroids: dict[int, list[float]]) -> DataFrame:
    """(vec_id, ee, cluster): argmin over the distance columns, lowest
    cluster id on exact ties (first-match CASE chain — same ordering as
    the oracle's ``row_number() ORDER BY d, cid``)."""
    cids = sorted(centroids)
    with_d = df.select("vec_id", "ee", *_km_distances(centroids))
    expr = F.lit(cids[-1])
    for i in range(len(cids) - 2, -1, -1):
        cond = None
        for j in cids[i + 1 :]:
            c = F.col(f"d{cids[i]}") <= F.col(f"d{j}")
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(cids[i])).otherwise(expr)
    return with_d.select("vec_id", "ee", expr.alias("cluster"))


def _km_update(assigned: DataFrame) -> dict[int, list[float]]:
    """One Lloyd mean update over ``_km_assign`` output: per-cluster
    component means from int64-quantized (×1e8) sums, so the means are
    an exact, summation-order-independent function of the input that
    the DuckDB twins (``_km_sql_update``) reproduce bit-for-bit. One
    partial-aggregated shuffle; k rows reach the driver."""
    sums = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.round(F.col("ee")[i] * _KM_SCALE, 0).cast("long")
            ).alias(f"s{i}")
            for i in range(KMEANS_DIM)
        ],
    )
    return {
        int(r["cluster"]): [
            float(r[f"s{i}"]) / (float(r["n"]) * _KM_SCALE)
            for i in range(KMEANS_DIM)
        ]
        for r in sums.collect()  # ≤ k rows: bounded driver state
    }


def _ivf_trained_centroids(spark: SparkSession, sf_dir: str) -> dict:
    """IVF coarse centroids TRAINED with the same bit-exact Lloyd recipe
    as q_kmeans_clusters (behavior_extras): seeds = vectors vec_id
    1..IVF_NLIST, one argmin-L2 assignment, one ``_km_update``.
    Untrained first-K-vector centroids partition the space no better
    than random; one Lloyd update already moves each centroid to its
    region's mean. Driver state is k rows (bounded); at scale both
    training jobs are one narrow map + one k-row partial-aggregated
    shuffle."""
    emb = _embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("ee")
    )
    seeds = {
        int(r["vec_id"]): list(r["ee"])
        for r in emb.filter(
            F.col("vec_id").between(1, IVF_NLIST)
        ).collect()
    }
    return _km_update(_km_assign(emb, seeds))


def q_ann_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate nearest neighbours for vec_id=0: assign
    every vector to its max-cosine coarse centroid (broadcast, 8 rows —
    map-side), probe the query's IVF_NPROBE nearest lists, exact-rerank
    within them. Centroids are k-means-trained (_ivf_trained_centroids)
    and enter the plan as broadcast literals. At scale the centroid id
    is the partition key: the scan is pruned to nprobe/nlist of the
    table and no all-pairs shuffle exists (assignment aggregates
    map-side via partial max)."""
    emb = _embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    trained = _ivf_trained_centroids(spark, sf_dir)
    cent = F.broadcast(
        spark.createDataFrame(
            [(cid, trained[cid]) for cid in sorted(trained)],
            "cid BIGINT, c array<double>",
        )
    )
    sims = emb.crossJoin(cent).select(
        "vec_id", "cid", _cos_sim(F.col("e"), F.col("c")).alias("csim")
    )
    # argmax centroid, tie → lowest cid: max of struct(csim, -cid)
    asn = (
        sims.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("csim").alias("s"), (-F.col("cid")).alias("nc")
                )
            ).alias("b")
        )
        .select("vec_id", (-F.col("b.nc")).alias("centroid"))
    )
    probes = F.broadcast(
        sims.filter(F.col("vec_id") == 0)
        .orderBy(F.desc("csim"), F.asc("cid"))
        .limit(IVF_NPROBE)
        .select(F.col("cid").alias("centroid"))
    )
    qv = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(F.col("e").alias("q"))
    )
    return (
        asn.join(probes, "centroid")
        .filter(F.col("vec_id") != 0)
        .join(emb, "vec_id")
        .crossJoin(qv)
        .select(
            "vec_id",
            "centroid",
            F.round(_cos_sim(F.col("e"), F.col("q")), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


_KM_R = f"range(1, {KMEANS_DIM + 1})"


def _km_sql_assign(src: str, cents: str, out: str) -> str:
    return f"""
{out} AS (
  SELECT vec_id, ee, cid AS cluster FROM (
    SELECT e.vec_id, e.ee, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_reduce(
               list_transform({_KM_R},
                 i -> (e.ee[i] - c.ce[i]) * (e.ee[i] - c.ce[i])),
               (a, b) -> a + b) ASC, c.cid ASC
           ) AS rn
    FROM {src} e, {cents} c
  ) WHERE rn = 1
)"""


def _km_sql_update(src: str, out: str) -> str:
    return f"""
{out} AS (
  SELECT cluster AS cid,
         list(CAST(su AS DOUBLE) / (CAST(n AS DOUBLE) * {_KM_SCALE})
              ORDER BY i) AS ce
  FROM (
    SELECT cluster, i,
           sum(CAST(round(ee[CAST(i AS INT)] * {_KM_SCALE}) AS BIGINT)) AS su,
           count(*) AS n
    FROM {src}, {_KM_R} r(i)
    GROUP BY cluster, i
  ) GROUP BY cluster
)"""


# The cent CTE mirrors _ivf_trained_centroids: one argmin-L2 Lloyd
# assignment from seeds vec_id 1..IVF_NLIST, then one quantized mean
# update — the same unrolled SQL as behavior_extras' k-means twin.
SQL_ANN_IVF_COSINE = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ee FROM embeddings
), seeds AS (
  SELECT vec_id AS cid, ee AS ce FROM v WHERE vec_id BETWEEN 1 AND {IVF_NLIST}
),{_km_sql_assign("v", "seeds", "a1")},{_km_sql_update("a1", "cent")}, sims AS (
  SELECT v.vec_id, cent.cid,
         list_dot_product(v.ee, cent.ce)
           / (sqrt(list_dot_product(v.ee, v.ee))
              * sqrt(list_dot_product(cent.ce, cent.ce))) AS csim
  FROM v, cent
), asn AS (
  SELECT vec_id, cid AS centroid
  FROM (SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, cid ASC) AS rn
        FROM sims)
  WHERE rn = 1
), probes AS (
  SELECT cid AS centroid FROM sims WHERE vec_id = 0
  ORDER BY csim DESC, cid ASC LIMIT {IVF_NPROBE}
), q AS (SELECT ee AS qe FROM v WHERE vec_id = 0)
SELECT asn.vec_id, asn.centroid,
       round(list_dot_product(v.ee, q.qe)
             / (sqrt(list_dot_product(v.ee, v.ee))
                * sqrt(list_dot_product(q.qe, q.qe))), 4) AS cos_sim
FROM asn
JOIN probes ON asn.centroid = probes.centroid
JOIN v ON v.vec_id = asn.vec_id, q
WHERE asn.vec_id <> 0
ORDER BY cos_sim DESC, asn.vec_id ASC LIMIT 10
"""


# --------------------------------------------------------------------------
# token counting: whitespace (tokenize_count above) + BPE-ish regex
# --------------------------------------------------------------------------

BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), 0)
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
    )


SQL_TOKEN_COUNT_BPE = rf"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS BIGINT) AS n_bpe_tokens,
       CAST(len(list_distinct(regexp_extract_all(text, '{BPE_PATTERN}'))) AS BIGINT)
         AS n_distinct_tokens
FROM documents
"""


# --------------------------------------------------------------------------
# document fingerprinting: mod-p selection over shingle hashes (winnowing
# family — "hash-breaking" fingerprints)
# --------------------------------------------------------------------------

FP_MOD = 8


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _tokens_df(spark, sf_dir).filter(F.size("toks") >= SHINGLE_N)
    sh = toks.select("doc_id", F.explode(_shingles(F.col("toks"))).alias("sh"))
    h = _hash64(F.col("sh"))
    kept = sh.select("doc_id", h.alias("h")).filter(F.col("h") % FP_MOD == 0)
    return (
        kept.groupBy("doc_id")
        .agg(F.count("*").alias("n_fp"), F.min("h").alias("min_fp"))
        .orderBy("doc_id")
    )


SQL_DOC_FINGERPRINT = f"""
SELECT doc_id, count(*) AS n_fp, min(h) AS min_fp FROM (
  SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h FROM (
    SELECT doc_id, unnest({_SHINGLES_SQL}) AS sh FROM documents
    WHERE len({_TOKS_SQL}) >= {SHINGLE_N}
  )
) WHERE h % {FP_MOD} = 0
GROUP BY doc_id ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# conversation analytics: window functions over synthesized transcripts
# --------------------------------------------------------------------------

def q_conv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.transcripts import synthesize_transcripts

    tx = synthesize_transcripts(spark, f"{sf_dir}/documents.parquet")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    ts_s = F.col("ts").cast("long")
    g = tx.withColumn("gap_s", ts_s - F.lag(ts_s).over(w))
    return (
        g.groupBy("conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.when(F.col("role") == "user", 1).otherwise(0)).alias(
                "n_user"
            ),
            F.round(F.avg("gap_s"), 6).alias("avg_gap_s"),
        )
        .orderBy("conv_id")
    )


SQL_CONV_STATS = """
WITH tx AS (
  SELECT 'conv-' || CAST(doc_id // 8 AS BIGINT) AS conv_id,
         CAST(doc_id % 8 AS INT) AS turn_idx,
         CASE doc_id % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
              ELSE 'tool' END AS role,
         epoch(TIMESTAMP '2024-01-01 00:00:00'
               + ((doc_id % 1000000) * INTERVAL 1 MINUTE)) AS ts_s
  FROM documents
), g AS (
  SELECT conv_id, role,
         ts_s - lag(ts_s) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS gap_s
  FROM tx
)
SELECT conv_id, count(*) AS n_turns,
       CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
       round(avg(gap_s), 6) AS avg_gap_s
FROM g GROUP BY conv_id ORDER BY conv_id
"""


# --------------------------------------------------------------------------
# as-of join: each purchase event -> the user's most recent prior view
# --------------------------------------------------------------------------
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward-inclusive as-of join: every ``purchase`` event picks the
    most recent ``view`` event of the same user with ``view.ts <=
    purchase.ts`` (the join a feature/attribution pipeline runs over
    event streams; the reference engine has no temporal joins at all).

    Spark-first formulation: NOT an inequality join — Catalyst executes
    ``p.ts >= v.ts`` only as a broadcast-nested-loop or an unbounded
    sort-merge range, both of which go quadratic on a hot user. Instead
    the classic union + ordered-window shape: tag both sides, union,
    and carry the latest view forward with ``last(..., ignorenulls)``
    over ``(user_id, ts)``. ONE hash shuffle on the natural entity key
    and linear work per user — a hot user costs O(its events), not
    O(views x purchases), so the plan survives 100x skew.

    Output stays in exact int64 epoch-micros space (same bit-exact
    contract as q_sessionize) and missing matches surface as -1 rather
    than NULL so Spark and the DuckDB ASOF JOIN twin agree on the exact
    dtype at the driver's hash layer."""
    ev = _events(spark, sf_dir)
    sides = ev.filter(F.col("event_type").isin("purchase", "view")).select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
        (F.col("event_type") == "view").alias("is_view"),
    )
    # views sort BEFORE purchases at an equal timestamp -> inclusive (<=)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("us"), F.col("is_view").desc(), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    view_struct = F.last(
        F.when(F.col("is_view"), F.struct("event_id", "us")),
        ignorenulls=True,
    ).over(w)
    return (
        sides.withColumn("v", view_struct)
        .filter(~F.col("is_view"))
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("us").alias("purchase_us"),
            F.coalesce(F.col("v.event_id"), F.lit(-1))
            .cast("long").alias("view_id"),
            F.coalesce(F.col("v.us"), F.lit(-1))
            .cast("long").alias("view_us"),
        )
        .withColumn(
            "gap_s",
            F.when(
                F.col("view_id") >= 0,
                (F.col("purchase_us") - F.col("view_us"))
                / F.lit(1000000.0),
            ).otherwise(F.lit(-1.0)),
        )
        .orderBy("purchase_id")
    )


SQL_ASOF_JOIN = """
WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS us
           FROM events WHERE event_type = 'purchase'),
     v AS (SELECT event_id, user_id, epoch_us(ts) AS us
           FROM events WHERE event_type = 'view')
SELECT p.event_id AS purchase_id, p.user_id, p.us AS purchase_us,
       COALESCE(v.event_id, -1) AS view_id,
       COALESCE(v.us, -1) AS view_us,
       CASE WHEN v.event_id IS NOT NULL
            THEN (p.us - v.us) / 1000000.0 ELSE -1.0 END AS gap_s
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.us >= v.us
ORDER BY purchase_id
"""


# --------------------------------------------------------------------------
# quality filter chain (Gopher/C4-style document gating)
# --------------------------------------------------------------------------
QF_MIN_TOKENS = 20
QF_MAX_TOKENS = 100_000
QF_MEAN_WLEN_LO = 2.0
QF_MEAN_WLEN_HI = 12.0
QF_MIN_STOP_FRAC = 0.01
QF_MIN_ALPHA_FRAC = 0.6


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-chain document gating (the decision layer on top of
    q_text_quality's metrics): Gopher/C4-style thresholds on token
    count, mean word length, stop-word fraction, and alphabetic-word
    fraction, emitting per-rule flags plus the final keep decision for
    EVERY document (auditable — a pipeline wants to know why a doc was
    dropped, not just that it was).

    All metrics are higher-order array functions over one tokenize —
    single narrow pass, no shuffle, whole-stage codegen; at 100 TB this
    is a pure map over the corpus scan. Fractions are rounded to 6
    places on both engines BEFORE thresholding so the keep decision is
    bit-stable."""
    toks = _docs(spark, sf_dir).select(
        "doc_id", tokenize_expr(F.col("text"), lower_case=True).alias("toks")
    )
    stop_arr = F.array(*[F.lit(s) for s in STOP_LIST])
    n = F.size("toks").cast("long")
    nd = F.nullif(n.cast("double"), F.lit(0.0))
    mean_wlen = F.round(
        F.aggregate(
            F.transform("toks", F.length),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x.cast("long"),
        ) / nd,
        6,
    )
    stop_frac = F.round(
        F.size(F.filter("toks", lambda t: F.array_contains(stop_arr, t)))
        / nd,
        6,
    )
    alpha_frac = F.round(
        F.size(F.filter("toks", lambda t: t.rlike("^[a-z]+$"))) / nd, 6
    )
    flags = (
        toks.select(
            "doc_id",
            n.alias("n_tokens"),
            mean_wlen.alias("mean_wlen"),
            stop_frac.alias("stop_frac"),
            alpha_frac.alias("alpha_frac"),
        )
        .withColumn(
            "ok_len",
            (F.col("n_tokens") >= QF_MIN_TOKENS)
            & (F.col("n_tokens") <= QF_MAX_TOKENS),
        )
        .withColumn(
            "ok_wlen",
            (F.col("mean_wlen") >= QF_MEAN_WLEN_LO)
            & (F.col("mean_wlen") <= QF_MEAN_WLEN_HI),
        )
        .withColumn("ok_stop", F.col("stop_frac") >= QF_MIN_STOP_FRAC)
        .withColumn("ok_alpha", F.col("alpha_frac") >= QF_MIN_ALPHA_FRAC)
    )
    return flags.withColumn(
        "keep",
        F.col("ok_len") & F.col("ok_wlen") & F.col("ok_stop")
        & F.col("ok_alpha"),
    ).orderBy("doc_id")


SQL_QUALITY_FILTER = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         round(list_sum(list_transform(toks, x -> length(x)))
               / nullif(CAST(len(toks) AS DOUBLE), 0.0), 6) AS mean_wlen,
         round(len(list_filter(toks, x -> x IN ({_stop_in})))
               / nullif(CAST(len(toks) AS DOUBLE), 0.0), 6) AS stop_frac,
         round(len(list_filter(toks, x -> regexp_matches(x, '^[a-z]+$')))
               / nullif(CAST(len(toks) AS DOUBLE), 0.0), 6) AS alpha_frac
  FROM t
)
SELECT doc_id, n_tokens, mean_wlen, stop_frac, alpha_frac,
       (n_tokens >= {QF_MIN_TOKENS} AND n_tokens <= {QF_MAX_TOKENS})
         AS ok_len,
       (mean_wlen >= {QF_MEAN_WLEN_LO} AND mean_wlen <= {QF_MEAN_WLEN_HI})
         AS ok_wlen,
       (stop_frac >= {QF_MIN_STOP_FRAC}) AS ok_stop,
       (alpha_frac >= {QF_MIN_ALPHA_FRAC}) AS ok_alpha,
       (n_tokens >= {QF_MIN_TOKENS} AND n_tokens <= {QF_MAX_TOKENS}
        AND mean_wlen >= {QF_MEAN_WLEN_LO} AND mean_wlen <= {QF_MEAN_WLEN_HI}
        AND stop_frac >= {QF_MIN_STOP_FRAC}
        AND alpha_frac >= {QF_MIN_ALPHA_FRAC}) AS keep
FROM m ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# grouped top-k via salted two-stage window (skew-safe)
# --------------------------------------------------------------------------

TOPK_K = 3
TOPK_SALTS = 8  # stage-1 fan-out; survivors per group = TOPK_K * TOPK_SALTS


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K longest documents per language. A single
    ``row_number() OVER (PARTITION BY lang)`` would funnel every row of a
    hot language through one task — the Zipf problem SURVEY.md §6 calls
    out for head terms. Instead: stage 1 takes top-K within (lang, salt)
    — TOPK_SALTS parallel slices per language, each bounded — stage 2
    re-ranks the ≤ K·TOPK_SALTS survivors per language. Exact (any global
    top-K row is top-K within its salt slice) and the stage-2 window sees
    a constant number of rows per group regardless of corpus size."""
    docs = _docs(spark, sf_dir).select("lang", "doc_id", "n_chars")
    order = [F.desc("n_chars"), F.asc("doc_id")]
    stage1 = Window.partitionBy("lang", F.col("doc_id") % TOPK_SALTS).orderBy(*order)
    stage2 = Window.partitionBy("lang").orderBy(*order)
    return (
        docs.withColumn("rk", F.row_number().over(stage1))
        .filter(F.col("rk") <= TOPK_K)
        .drop("rk")
        .withColumn("rk", F.row_number().over(stage2).cast("long"))
        .filter(F.col("rk") <= TOPK_K)
        .orderBy("lang", "rk")
    )


SQL_TOPK_PER_GROUP = f"""
SELECT lang, doc_id, n_chars, rk FROM (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rk
  FROM documents
) WHERE rk <= {TOPK_K} ORDER BY lang, rk
"""


# --------------------------------------------------------------------------
# SymSpell spell correction (deletion-neighborhood equi-join — the scale
# path for term_suggest's broadcast nested-loop)
# --------------------------------------------------------------------------

SYMSPELL_TYPOS = ["fitler", "scann", "qury"]  # filter/scan/query typos
SYMSPELL_MAX_DIST = 2
SYMSPELL_K = 3


def q_symspell_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spell correction via SymSpell (Garbe's deletion-neighborhood
    trick): if levenshtein(a, b) <= 2 then deleting <= 2 chars from each
    reaches a common string (delete a's substituted+deleted chars, b's
    substituted+inserted chars), so depth-2 delete neighborhoods of the
    typo and the true term always intersect. Candidates therefore come
    from an EQUI-JOIN on the variant string — O(|V|·L²) precomputable
    index rows instead of term_suggest's O(|V|·|Q|) nested-loop
    levenshtein — and the final levenshtein() verification on the
    (tiny) candidate set makes the result set exactly the brute-force
    one; the oracle twin IS the brute force, so the driver hash proves
    the neighborhood argument. At scale the vocab-variant side is built
    once from the index's term_stats table and bucketed on the variant;
    per-query work is |variants(q)| ≈ L² hash lookups."""
    toks = _tokens_df(spark, sf_dir)
    vocab = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.length("term") >= 2)
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    vocab_var = vocab.select(
        "term", "df", F.explode(_deletion_variants("term")).alias("variant")
    )
    qs = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(t) for t in SYMSPELL_TYPOS])
        ).alias("query_term")
    )
    q_var = qs.select(
        "query_term",
        F.explode(_deletion_variants("query_term")).alias("variant"),
    )
    cand = (
        vocab_var.join(F.broadcast(q_var), "variant")
        .select("query_term", "term", "df")
        .distinct()
        .withColumn(
            "dist", F.levenshtein("query_term", "term").cast("long")
        )
        .filter(F.col("dist") <= SYMSPELL_MAX_DIST)
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
        ranked.filter(F.col("rank") <= SYMSPELL_K)
        .select(
            "query_term", "rank", F.col("term").alias("suggestion"),
            "dist", "df",
        )
        .orderBy("query_term", "rank")
    )


_symspell_typos_in = ", ".join(f"'{t}'" for t in SYMSPELL_TYPOS)

# the oracle is deliberately the BRUTE-FORCE formulation: matching it
# bit-for-bit is the proof that the deletion-neighborhood candidate set
# loses nothing within the verified distance bound
SQL_SYMSPELL_SUGGEST = f"""
WITH vocab AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM (
    SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
  ) WHERE len(term) >= 2 GROUP BY term
), qs AS (
  SELECT unnest([{_symspell_typos_in}]) AS query_term
), cand AS (
  SELECT query_term, term,
         CAST(levenshtein(query_term, term) AS BIGINT) AS dist, df
  FROM qs, vocab
  WHERE levenshtein(query_term, term) <= {SYMSPELL_MAX_DIST}
), ranked AS (
  SELECT query_term, term, dist, df,
         CAST(row_number() OVER (
           PARTITION BY query_term ORDER BY dist ASC, df DESC, term ASC
         ) AS BIGINT) AS rank
  FROM cand
)
SELECT query_term, rank, term AS suggestion, dist, df
FROM ranked WHERE rank <= {SYMSPELL_K}
ORDER BY query_term, rank
"""


# The driver's correctness sweep (CORRECTNESS_r05.json): these 50 names,
# in this order, are the first 50 entries of registry.QUERIES.
CORPUS_QUERIES = {
    "tokenize_count": (q_tokenize_count, SQL_TOKENIZE_COUNT),
    "doc_count": (q_doc_count, SQL_DOC_COUNT),
    "term_df_top50": (q_term_df_top50, SQL_TERM_DF_TOP50),
    "conjunctive_search": (q_conjunctive_search, SQL_CONJUNCTIVE_SEARCH),
    "single_term_topk": (q_single_term_topk, SQL_SINGLE_TERM_TOPK),
    "phrase_search": (q_phrase_search, SQL_PHRASE_SEARCH),
    "bm25_scores_all": (q_bm25_scores_all, SQL_BM25_SCORES_ALL),
    "bm25_topk": (q_bm25_topk, SQL_BM25_TOPK),
    "bm25_topk_projected": (q_bm25_topk_projected, SQL_BM25_TOPK_PROJECTED),
    "filtered_bm25": (q_filtered_bm25, SQL_FILTERED_BM25),
    "wand_topk": (q_wand_topk, SQL_WAND_TOPK),
    "top_longest": (q_top_longest, SQL_TOP_LONGEST),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_prefix_groups": (q_dedup_prefix_groups, SQL_DEDUP_PREFIX_GROUPS),
    "text_quality": (q_text_quality, SQL_TEXT_QUALITY),
    "lang_stats": (q_lang_stats, SQL_LANG_STATS),
    "lang_id": (q_lang_id, SQL_LANG_ID),
    "minhash_signatures": (q_minhash_signatures, SQL_MINHASH_SIGNATURES),
    "ngram_jaccard_pairs": (q_ngram_jaccard_pairs, SQL_NGRAM_JACCARD_PAIRS),
    "simhash": (q_simhash, SQL_SIMHASH),
    "cosine_topk": (q_cosine_topk, SQL_COSINE_TOPK),
    "transcripts_synth": (q_transcripts_synth, SQL_TRANSCRIPTS_SYNTH),
    "minhash_lsh_pairs": (q_minhash_lsh_pairs, SQL_MINHASH_LSH_PAIRS),
    "dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "ann_lsh_cosine": (q_ann_lsh_cosine, SQL_ANN_LSH_COSINE),
    "ann_ivf_cosine": (q_ann_ivf_cosine, SQL_ANN_IVF_COSINE),
    "dedup_embedding_pairs": (
        q_dedup_embedding_pairs,
        SQL_DEDUP_EMBEDDING_PAIRS,
    ),
    "lang_source_rollup": (q_lang_source_rollup, SQL_LANG_SOURCE_ROLLUP),
    "docs_except_intersect": (
        q_docs_except_intersect,
        SQL_DOCS_EXCEPT_INTERSECT,
    ),
    "sessionize": (q_sessionize, SQL_SESSIONIZE),
    "value_percentiles": (q_value_percentiles, SQL_VALUE_PERCENTILES),
    "pricing_summary": (q_pricing_summary, SQL_PRICING_SUMMARY),
    "shipping_priority": (q_shipping_priority, SQL_SHIPPING_PRIORITY),
    "events_windowed": (q_events_windowed, SQL_EVENTS_WINDOWED),
    "top_bigrams": (q_top_bigrams, SQL_TOP_BIGRAMS),
    "train_test_split": (q_train_test_split, SQL_TRAIN_TEST_SPLIT),
    "token_count_bpe": (q_token_count_bpe, SQL_TOKEN_COUNT_BPE),
    "doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "conv_stats": (q_conv_stats, SQL_CONV_STATS),
    "asof_join": (q_asof_join, SQL_ASOF_JOIN),
    "quality_filter": (q_quality_filter, SQL_QUALITY_FILTER),
    # multimodal plumbing (binary columns + mapInPandas)
    "multimodal_features": (q_multimodal_features, SQL_MULTIMODAL_FEATURES),
    "multimodal_resize": (q_multimodal_resize, SQL_MULTIMODAL_RESIZE),
    "multimodal_frames": (q_multimodal_frames, SQL_MULTIMODAL_FRAMES),
    # real-codec tier: genuine PNG/WAV bytes (pure-stdlib zlib/wave
    # codecs) decoded back and verified pixel/sample-exactly against
    # closed-form SQL
    "multimodal_image_decode": (
        q_multimodal_image_decode, SQL_MULTIMODAL_IMAGE_DECODE),
    "multimodal_image_resize": (
        q_multimodal_image_resize, SQL_MULTIMODAL_IMAGE_RESIZE),
    "multimodal_audio_decode": (
        q_multimodal_audio_decode, SQL_MULTIMODAL_AUDIO_DECODE),
    "multimodal_audio_frames": (
        q_multimodal_audio_frames, SQL_MULTIMODAL_AUDIO_FRAMES),
    "topk_per_group": (q_topk_per_group, SQL_TOPK_PER_GROUP),
    "symspell_suggest": (q_symspell_suggest, SQL_SYMSPELL_SUGGEST),
}


# batch query evaluation (operators.batch.q_batch_search): the three demo
# queries (conjunctive / single-term / phrase) answered by ONE fused plan;
# oracle = UNION ALL of the per-query SQL, each capped like the engine
# (engine.ts:134)
SQL_BATCH_SEARCH = f"""
SELECT 0 AS query_id, doc_id FROM (
  SELECT doc_id FROM (
    SELECT doc_id, count(*) AS n_terms FROM (
      SELECT DISTINCT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
      WHERE NOT contains(text, '"')
    ) WHERE term IN ({_terms_in}) GROUP BY doc_id
  ) WHERE n_terms = {len(CONJ_TERMS)} ORDER BY doc_id LIMIT 100
)
UNION ALL
SELECT 1 AS query_id, doc_id FROM (
  SELECT doc_id FROM documents
  WHERE NOT contains(text, '"')
    AND list_contains({_TOKS_SQL}, '{SINGLE_TERM}')
  ORDER BY doc_id LIMIT 100
)
UNION ALL
SELECT 2 AS query_id, doc_id FROM (
  SELECT doc_id FROM documents
  WHERE NOT contains(text, '"')
    AND regexp_matches(
          regexp_replace(lower(text), '[^a-z0-9_åäö" \t\n]', ' ', 'g'),
          '(^|[ ]){PHRASE[0]}[ ]+{PHRASE[1]}([ ]|$)')
  ORDER BY doc_id LIMIT 100
)
ORDER BY query_id, doc_id
"""
