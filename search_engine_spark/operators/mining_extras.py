"""Text/IR mining extras, each with an exact DuckDB twin.

Five operators a search-engine user reaches for right after the basics
(reference surface: engine.ts query paths; these are the standard
next-ring features from the IR literature):

- more-like-this — seed-document similarity query (Lucene MLT shape):
  the seed's top tf-idf terms become a disjunctive query scored by
  summed idf.
- n-gram infix (wildcard) search — ``*ar*`` term matching via a
  character-n-gram index (pg_trgm design): candidates from an equi-join
  on pattern grams, verified by a real ``contains``; never a full-vocab
  regex scan.
- term co-occurrence (PMI) — query-expansion statistics: terms that
  co-occur with a seed term at document level, ranked by pointwise
  mutual information.
- SimHash near-dup pairs — completes the SimHash pipeline (corpus has
  signatures only): banded equi-join blocking + Hamming verify, LOSSLESS
  for the chosen radius by pigeonhole.
- BPE merge candidates — the statistic a BPE tokenizer's first merge
  maximizes: corpus-frequency-weighted adjacent character-pair counts.

Exactness contract (same as corpus_queries): every float that reaches
the output is either a single IEEE op on exact integers or quantized to
integer micro-units before any reordering-sensitive SUM, so Spark and
DuckDB are bit-identical under the driver's strict hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .corpus_queries import (
    _TOKS_SQL,
    _docs,
    _stop_filtered_terms,
    _stop_in,
    _tokens_df,
)

# --------------------------------------------------------------------------
# more-like-this: seed doc's top tf-idf terms as a disjunctive idf query
# --------------------------------------------------------------------------

MLT_SEED_DOC = 7
MLT_TERMS = 5  # query terms drawn from the seed document
MLT_TOPK = 20


def q_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene-style More-Like-This: take the seed document's top
    ``MLT_TERMS`` terms by tf·idf, then rank every OTHER document by the
    summed idf of the seed terms it contains (idf-weighted coordination
    — the standard MLT scoring without length norm). At 100 TB the seed
    extraction reads one document's postings and the candidate pass is
    the same pushed ``term IN (...)`` scan the search path uses; the
    seed-term set (≤ MLT_TERMS rows) broadcasts.

    idf is quantized to integer micro-units BEFORE the per-doc sum so
    the sum is int64-exact (float sums of >2 terms are
    order-dependent); the output score divides back by 1e6 — one
    identical IEEE division on both sides."""
    terms = _stop_filtered_terms(spark, sf_dir)
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = _docs(spark, sf_dir).agg(F.count(F.lit(1)).alias("n_docs"))
    idf_u = F.round(
        F.log(F.col("n_docs").cast("double") / F.col("df").cast("double"))
        * 1000000.0,
        0,
    ).cast("long")
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("idf_u", idf_u)
    )
    seed_terms = (
        scored.filter(F.col("doc_id") == MLT_SEED_DOC)
        .orderBy(F.desc(F.col("tf") * F.col("idf_u")), F.asc("term"))
        .limit(MLT_TERMS)
        .select("term", "idf_u")
    )
    matches = (
        terms.distinct()
        .filter(F.col("doc_id") != MLT_SEED_DOC)
        .join(F.broadcast(seed_terms), "term")
    )
    return (
        matches.groupBy("doc_id")
        .agg(
            (F.sum("idf_u") / F.lit(1000000.0)).alias("mlt_score"),
            F.count(F.lit(1)).cast("long").alias("n_shared"),
        )
        .orderBy(F.desc("mlt_score"), F.asc("doc_id"))
        .limit(MLT_TOPK)
    )


_MLT_BASE = f"""
WITH terms AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
  ) WHERE len(term) >= 2 AND term NOT IN ({_stop_in})
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
), dfreq AS (
  SELECT term,
         count(*) AS df,
         CAST(round(ln((SELECT CAST(count(*) AS DOUBLE) FROM documents)
                       / CAST(count(*) AS DOUBLE)) * 1000000.0)
              AS BIGINT) AS idf_u
  FROM tf GROUP BY term
), seed AS (
  SELECT term, idf_u FROM tf JOIN dfreq USING (term)
  WHERE doc_id = {MLT_SEED_DOC}
  ORDER BY tf * idf_u DESC, term ASC LIMIT {MLT_TERMS}
)
"""

SQL_MORE_LIKE_THIS = _MLT_BASE + f"""
SELECT doc_id,
       CAST(sum(idf_u) AS BIGINT) / 1000000.0 AS mlt_score,
       CAST(count(*) AS BIGINT) AS n_shared
FROM (SELECT DISTINCT doc_id, term FROM terms) JOIN seed USING (term)
WHERE doc_id <> {MLT_SEED_DOC}
GROUP BY doc_id
ORDER BY mlt_score DESC, doc_id ASC LIMIT {MLT_TOPK}
"""


# --------------------------------------------------------------------------
# infix (wildcard) search via a character-n-gram index (pg_trgm design)
# --------------------------------------------------------------------------

INFIX = "ar"
INFIX_GRAM_N = 2


def q_infix_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wildcard ``*{INFIX}*`` term search: which vocabulary terms contain
    the pattern, with their document frequency. A ``LIKE '%..%'`` cannot
    use the term-sorted index layout (no prefix), so at scale the right
    structure is a character-n-gram index (PostgreSQL pg_trgm, Lucene
    ngram fields): candidates = terms whose gram set contains EVERY gram
    of the pattern (an equi-join on grams, one per pattern gram), then a
    cheap ``contains`` verify on the ≤candidates only — grams can
    over-match across non-adjacent positions (pattern 'aba' ⊂ grams of
    'abba'), which is exactly why the verify step exists (tested). The
    pattern's gram list is a literal; the vocab-side gram explode is the
    index build."""
    pattern_grams = sorted(
        {INFIX[i : i + INFIX_GRAM_N] for i in range(len(INFIX) - INFIX_GRAM_N + 1)}
    )
    toks = _tokens_df(spark, sf_dir)
    vocab = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    if not pattern_grams:
        # pattern shorter than the gram width: no gram blocking possible
        # — direct contains over the vocabulary (still vocab-sized work,
        # never corpus-sized; without this guard the empty isin() would
        # silently return nothing)
        return (
            vocab.filter(F.col("term").contains(INFIX))
            .select("term", "df")
            .orderBy("term")
        )
    idx = F.sequence(F.lit(1), F.length("term") - (INFIX_GRAM_N - 1))
    grams = F.array_distinct(
        F.transform(idx, lambda i: F.col("term").substr(i, F.lit(INFIX_GRAM_N)))
    )
    cand = (
        vocab.filter(F.length("term") >= INFIX_GRAM_N)
        .select("term", "df", F.explode(grams).alias("g"))
        .filter(F.col("g").isin(pattern_grams))
        .groupBy("term", "df")
        .agg(F.count(F.lit(1)).alias("n_grams"))
        .filter(F.col("n_grams") == len(pattern_grams))
    )
    return (
        cand.filter(F.col("term").contains(INFIX))  # verify on candidates only
        .select("term", "df")
        .orderBy("term")
    )


SQL_INFIX_SEARCH = f"""
SELECT term, CAST(count(*) AS BIGINT) AS df FROM (
  SELECT DISTINCT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
) WHERE contains(term, '{INFIX}')
GROUP BY term ORDER BY term
"""


# --------------------------------------------------------------------------
# term co-occurrence with a seed term, PMI-ranked (query expansion stats)
# --------------------------------------------------------------------------

COOC_SEED = "merge"
COOC_MIN_COUNT = 5
COOC_TOPK = 20


def q_cooccur_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level co-occurrence with ``COOC_SEED``, ranked by PMI
    ``ln(n_co·N / (df_seed·df_t))`` — the association statistic behind
    query-expansion and related-searches features. One distinct
    (doc, term) pass feeds all three frequencies; the seed's doc set is
    a semi-join (at scale: the seed term's posting list, broadcast when
    small, shuffle-join when it is a head term). PMI's argument is a
    ratio of exact int64 products — one division, one ln, then round-6,
    identical IEEE ops on both sides."""
    ex = _stop_filtered_terms(spark, sf_dir).distinct()
    seed_docs = ex.filter(F.col("term") == COOC_SEED).select("doc_id")
    n_docs = _docs(spark, sf_dir).agg(F.count(F.lit(1)).alias("n_docs"))
    df_seed = seed_docs.agg(F.count(F.lit(1)).alias("df_seed"))
    co = (
        ex.join(seed_docs, "doc_id")
        .filter(F.col("term") != COOC_SEED)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= COOC_MIN_COUNT)
    )
    dfreq = ex.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    pmi = F.round(
        F.log(
            (F.col("n_co") * F.col("n_docs")).cast("double")
            / (F.col("df_seed") * F.col("df")).cast("double")
        ),
        6,
    )
    return (
        co.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .crossJoin(F.broadcast(df_seed))
        .select(
            "term",
            F.col("n_co").cast("long").alias("n_co"),
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("term"))
        .limit(COOC_TOPK)
    )


SQL_COOCCUR_TERMS = f"""
WITH ex AS (
  SELECT DISTINCT doc_id, term FROM (
    SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
  ) WHERE len(term) >= 2 AND term NOT IN ({_stop_in})
), seed_docs AS (
  SELECT doc_id FROM ex WHERE term = '{COOC_SEED}'
), co AS (
  SELECT term, count(*) AS n_co FROM ex JOIN seed_docs USING (doc_id)
  WHERE term <> '{COOC_SEED}' GROUP BY term HAVING count(*) >= {COOC_MIN_COUNT}
), dfreq AS (
  SELECT term, count(*) AS df FROM ex GROUP BY term
)
SELECT term, CAST(n_co AS BIGINT) AS n_co,
       round(ln(CAST(n_co * (SELECT count(*) FROM documents) AS DOUBLE)
                / CAST((SELECT count(*) FROM seed_docs) * df AS DOUBLE)), 6)
         AS pmi
FROM co JOIN dfreq USING (term)
ORDER BY pmi DESC, term ASC LIMIT {COOC_TOPK}
"""


# --------------------------------------------------------------------------
# SimHash near-dup pairs: banded blocking + Hamming verify (lossless)
# --------------------------------------------------------------------------

SIMHASH_HAM_MAX = 3
SIMHASH_PAIR_BITS = 60  # wide signature just for pairing (sign bit avoided)
SIMHASH_BANDS = 6  # 60-bit signature → 6 bands of 10 bits
_BAND_WIDTH = SIMHASH_PAIR_BITS // SIMHASH_BANDS


def _simhash60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) with a 60-bit signature — same construction as
    ``q_simhash`` (md5-hashed distinct terms, per-bit majority vote) but
    wide enough to discriminate at corpus scale: the 16-bit demo
    signature collides pervasively already at 500 docs (7k exact-equal
    pairs), while 60 bits keep the Hamming-≤3 set a true near-dup set.
    60 not 64: bit 63 is the long sign bit and 2^60 literals stay exact
    on both engines."""
    from .corpus_queries import _hash64

    toks = _tokens_df(spark, sf_dir)
    t = toks.select(
        "doc_id", F.explode(F.array_distinct("toks")).alias("term")
    ).withColumn("h", _hash64(F.col("term")))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(SIMHASH_PAIR_BITS)
    ]
    agg = t.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for j in range(SIMHASH_PAIR_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.cast("long").alias("simhash"))


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ 3 — the pairing
    step the signature operator (``simhash``) feeds. All-pairs XOR is
    quadratic, so candidates come from an equi-join on (band, band_bits):
    with 6 bands of 10 bits, ≤3 differing bits can touch at most 3 bands,
    so every qualifying pair agrees on ≥1 band — the blocking is LOSSLESS
    by pigeonhole, which is why the brute-force SQL twin is a fair
    oracle. Verify computes the real Hamming distance on candidates only
    (bit_count of XOR, JVM-side). At 100 TB the band key is the shuffle
    key, same as the MinHash-LSH operator."""
    sim = _simhash60(spark, sf_dir)
    bands = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * _BAND_WIDTH)
                        .bitwiseAND((1 << _BAND_WIDTH) - 1)
                        .alias("bits"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.bits")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("long")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= SIMHASH_HAM_MAX)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


_bit_sums60 = ",\n       ".join(
    f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
    for j in range(SIMHASH_PAIR_BITS)
)
_bit_join60 = " + ".join(
    f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)"
    for j in range(SIMHASH_PAIR_BITS)
)
SQL_SIMHASH_PAIRS = f"""
WITH t AS (
  SELECT doc_id, ('0x' || substr(md5(term), 1, 15))::BIGINT AS h FROM (
    SELECT DISTINCT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
  )
), sums AS (
  SELECT doc_id, {_bit_sums60} FROM t GROUP BY doc_id
), s AS (
  SELECT doc_id, CAST({_bit_join60} AS BIGINT) AS simhash FROM sums
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAM_MAX}
ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
# BPE merge candidates: corpus-weighted adjacent character-pair counts
# --------------------------------------------------------------------------

BPE_TOPK = 20


def q_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The statistic a BPE tokenizer trainer's FIRST merge maximizes:
    adjacent character-pair frequencies over the corpus, weighted by how
    often each word occurs (Sennrich et al. 2016 operate on exactly this
    word-frequency table). Two shuffles total — term tf (vocab-sized),
    then pair counts over vocab·word_len rows, both tiny relative to the
    corpus — so tokenizer training stats come from the same engine
    tokens the index uses. Counts are exact int64."""
    toks = _tokens_df(spark, sf_dir)
    tf = (
        toks.select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .filter(F.length("term") >= 2)
    )
    idx = F.sequence(F.lit(1), F.length("term") - 1)
    pairs = tf.select(
        "tf",
        F.explode(
            F.transform(idx, lambda i: F.col("term").substr(i, F.lit(2)))
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("tf").cast("long").alias("weight"))
        .orderBy(F.desc("weight"), F.asc("pair"))
        .limit(BPE_TOPK)
    )


SQL_BPE_MERGE_PAIRS = f"""
WITH tf AS (
  SELECT term, count(*) AS tf FROM (
    SELECT unnest({_TOKS_SQL}) AS term FROM documents
  ) GROUP BY term HAVING len(term) >= 2
)
SELECT pair, CAST(sum(tf) AS BIGINT) AS weight FROM (
  SELECT unnest(list_transform(range(1, length(term)),
                               i -> substr(term, CAST(i AS INT), 2))) AS pair,
         tf
  FROM tf
)
GROUP BY pair ORDER BY weight DESC, pair ASC LIMIT {BPE_TOPK}
"""


EXTRA_QUERIES = {
    "more_like_this": (q_more_like_this, SQL_MORE_LIKE_THIS),
    "infix_search": (q_infix_search, SQL_INFIX_SEARCH),
    "cooccur_terms": (q_cooccur_terms, SQL_COOCCUR_TERMS),
    "simhash_pairs": (q_simhash_pairs, SQL_SIMHASH_PAIRS),
    "bpe_merge_pairs": (q_bpe_merge_pairs, SQL_BPE_MERGE_PAIRS),
}
