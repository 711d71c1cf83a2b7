"""Data-governance and corpus-statistics operators, fourth batch — each
with a DuckDB twin.

Six operators a production pretraining pipeline runs that the earlier
batches don't cover:

- PII detection + redaction (regex scan over a raw text field; counts
  per category and an md5 of the redacted text so the oracle verifies
  the REDACTION byte-for-byte, not just the counts). The synthetic
  corpus has no real PII, so deterministic fake PII is injected
  in-query — identically on both sides — as a function of ``doc_id``;
  the regex machinery exercised is the real operator.
- Span-level (chunk) duplication profile: fixed-size token chunks
  hashed and counted across documents — the granularity below document
  dedup (``dedup_exact``) and shingle near-dup (``minhash_lsh_pairs``)
  where boilerplate removal happens. Production chunkers use ~50-100
  token spans; CHUNK_TOKS is 4 here so the tiny synthetic vocabulary
  actually produces cross-document duplicates to verify against.
- Skew-safe two-stage (salted) rollup: the groupBy-with-hot-keys
  pattern — partial aggregation per (key, salt), then final merge per
  key. Result is bit-identical to a plain groupBy (the twin), only the
  physical shuffle differs: no single reducer ever sees a hot key's
  full row set.
- Vocabulary-growth (Heaps-law) curve over 3-grams: new-distinct-gram
  count per corpus-position bucket plus the running vocabulary size —
  the saturation diagnostic run when deciding whether more crawl data
  still adds novelty.
- PMI collocations over adjacent token pairs — the association-strength
  score used for tokenizer-merge candidates and phrase mining.
- Sliding-window interval join: events joined to OVERLAPPING 2-hour
  windows. The oracle twin uses the naive inequality join; the Spark
  plan expands each event to its candidate window keys and equi-joins —
  the bin-expansion technique that keeps a range join shuffle-joinable
  at 100 TB (an inequality join would be a broadcast nested loop over
  the full fact table).

Same driver contract as ``corpus_queries``: identical aliases both
sides, BIGINT wherever exactness matters, round-6 on float scores, and
money-style sums quantised to integer cents before summing (the
``lang_source_rollup`` convention) so the strict pandas-layer hash is
stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .corpus_queries import _TOKS_SQL, _docs, _events, _tokens_df
from .pipeline_extras import _G3_EXPR, _G3_SQL

# --------------------------------------------------------------------------
# PII detection + redaction
# --------------------------------------------------------------------------

# Java regex (Spark) and RE2 (DuckDB) agree on this restricted syntax:
# character classes, bounded repetition, literal dots — no backrefs or
# lookaround, which RE2 lacks.
EMAIL_RE = r"[a-z0-9]+@[a-z0-9]+\.[a-z]+"
PHONE_RE = r"555-[0-9]{4}"
IP_RE = r"10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


def _pii_raw_col() -> F.Column:
    """text + deterministic fake PII keyed on doc_id (mirrors the SQL
    twin expression exactly: same moduli, same lpad widths)."""
    d = F.col("doc_id")
    email = F.when(
        d % 5 == 0,
        F.concat(
            F.lit(" contact user"), d.cast("string"), F.lit("@example.com")
        ),
    ).otherwise(F.lit(""))
    phone = F.when(
        d % 7 == 0,
        F.concat(
            F.lit(" call 555-"),
            F.lpad((d % 10000).cast("string"), 4, "0"),
            F.lit(" now"),
        ),
    ).otherwise(F.lit(""))
    ip = F.when(
        d % 11 == 0,
        F.concat(
            F.lit(" host 10."),
            (d % 256).cast("string"),
            F.lit("."),
            ((d * 7) % 256).cast("string"),
            F.lit("."),
            ((d * 13) % 256).cast("string"),
            F.lit(" up"),
        ),
    ).otherwise(F.lit(""))
    return F.concat(F.col("text"), email, phone, ip)


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII scan + redaction. Narrow map fused into the
    parquet scan — zero shuffles before the final sort, so at 100 TB it
    runs at scan speed like the other per-doc quality columns. Redaction
    order: emails, then IPs, then phones (the patterns are mutually
    non-overlapping; the order is fixed so both engines produce the same
    bytes). The md5 over the redacted text makes the oracle compare the
    actual redacted output, not just the match counts."""
    raw = _pii_raw_col()
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(raw, EMAIL_RE, "<EMAIL>"), IP_RE, "<IP>"
        ),
        PHONE_RE,
        "<PHONE>",
    )
    n = lambda pat: F.size(  # noqa: E731
        F.regexp_extract_all(raw, F.lit(pat), 0)
    ).cast("long")
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            n(EMAIL_RE).alias("n_emails"),
            n(PHONE_RE).alias("n_phones"),
            n(IP_RE).alias("n_ips"),
            F.md5(redacted).alias("redacted_md5"),
        )
        .orderBy("doc_id")
    )


_PII_RAW_SQL = """text
    || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now' ELSE '' END
    || CASE WHEN doc_id % 11 = 0 THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id*7) % 256 AS VARCHAR) || '.' || CAST((doc_id*13) % 256 AS VARCHAR) || ' up' ELSE '' END"""

SQL_PII_REDACT = f"""
WITH raw AS (SELECT doc_id, {_PII_RAW_SQL} AS raw FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(raw, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(raw, '{PHONE_RE}')) AS BIGINT) AS n_phones,
  CAST(len(regexp_extract_all(raw, '{IP_RE}')) AS BIGINT) AS n_ips,
  md5(regexp_replace(regexp_replace(regexp_replace(raw,
      '{EMAIL_RE}', '<EMAIL>', 'g'),
      '{IP_RE}', '<IP>', 'g'),
      '{PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
FROM raw ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# span-level (chunk) duplication profile
# --------------------------------------------------------------------------

CHUNK_TOKS = 4  # production: ~50-100; 4 so the tiny vocab yields dups

_CHUNKS_EXPR = (
    f"CASE WHEN size(toks) >= {CHUNK_TOKS} THEN"
    f" transform(sequence(1, CAST(size(toks) DIV {CHUNK_TOKS} AS INT)),"
    f" i -> array_join(slice(toks, (i-1)*{CHUNK_TOKS}+1, {CHUNK_TOKS}), ' '))"
    " ELSE cast(array() AS array<string>) END"
)


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate token-chunks: every document is cut into
    consecutive CHUNK_TOKS-token chunks, each chunk is md5-hashed, and
    chunks seen in ≥2 distinct documents are reported with their spread.
    One narrow chunking pass (higher-order functions over the token
    array, no Python), then a single partial-aggregated shuffle on the
    chunk hash — the same plan shape as ``dedup_exact``, one level
    finer. At 100 TB the hash groupBy is the canonical scale-out dedup;
    hot boilerplate chunks are bounded because each document contributes
    a chunk at most once per occurrence slot."""
    chunks = (
        _tokens_df(spark, sf_dir)
        .select("doc_id", F.explode(F.expr(_CHUNKS_EXPR)).alias("chunk"))
        .select("doc_id", F.md5("chunk").alias("chunk_hash"))
    )
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("chunk_hash")
    )


SQL_CHUNK_DEDUP = f"""
WITH toked AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
chunks AS (
  SELECT doc_id,
         unnest(list_transform(range(1, CAST(len(toks)//{CHUNK_TOKS} AS BIGINT) + 1),
            i -> md5(array_to_string(
                 toks[(i-1)*{CHUNK_TOKS}+1:(i-1)*{CHUNK_TOKS}+{CHUNK_TOKS}], ' ')))) AS chunk_hash
  FROM toked WHERE len(toks) >= {CHUNK_TOKS}
)
SELECT chunk_hash,
       count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_occ
FROM chunks GROUP BY chunk_hash HAVING count(DISTINCT doc_id) >= 2
ORDER BY chunk_hash
"""


# --------------------------------------------------------------------------
# skew-safe salted rollup
# --------------------------------------------------------------------------

SALT_BUCKETS = 16


def q_salted_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus totals via an EXPLICIT two-stage salted
    aggregation: stage 1 groups by (lang, doc_id % 16) so a hot language
    (``lang`` is Zipf-ish: 'en' dominates) is spread over 16 reducers;
    stage 2 merges the 16 partials per language. The result is
    bit-identical to the single-stage groupBy the oracle runs — only the
    shuffle layout differs. This is the pattern for any hot-key rollup
    at 100 TB where one key holds >1 executor's worth of rows and AQE
    skew handling doesn't apply (it only splits JOIN partitions, not
    aggregation keys). Counts and sums are algebraic, so the two-stage
    split is exact."""
    partial = (
        _docs(spark, sf_dir)
        .withColumn("salt", (F.col("doc_id") % SALT_BUCKETS).cast("int"))
        .groupBy("lang", "salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum("n_chars").alias("pchars"),
        )
    )
    return (
        partial.groupBy("lang")
        .agg(
            F.sum("pn").cast("long").alias("n_docs"),
            F.sum("pchars").cast("long").alias("sum_chars"),
        )
        .orderBy("lang")
    )


SQL_SALTED_ROLLUP = """
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY lang ORDER BY lang
"""


# --------------------------------------------------------------------------
# vocabulary-growth (Heaps-law) curve over 3-grams
# --------------------------------------------------------------------------

VOCAB_BUCKET = 100  # docs per corpus-position bucket

# buckets per prefix-sum superbucket: like packing_extras.PACK_BUCKET this
# is a PURE FUNCTION of the key, so the two prefix-sum levels can never
# disagree about membership. Sized so the superbucket frame stays tiny at
# scale: at 10^11 docs there are 10^9 buckets -> ~7.6k superbuckets.
VOCAB_SUPERBUCKET = 131072


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New distinct 3-grams per bucket of 100 documents (in doc_id
    order) plus the running vocabulary size — the Heaps-law saturation
    curve. Plan: narrow gram expansion, one groupBy(gram) shuffle for
    min(doc_id) (first sighting), one tiny groupBy(bucket) over
    vocabulary-sized data, then a TWO-LEVEL prefix sum with no
    unpartitioned window anywhere (the r02 version funnelled all
    n_docs/100 bucket rows through ONE partition): superbucket offsets
    come from a triangular broadcast join over the ~n_docs/13M-row
    superbucket frame, and the within-superbucket running sum is a
    bucket-partitioned window (bounded at VOCAB_SUPERBUCKET rows,
    parallel). At 100 TB the only large shuffle is the first-sighting
    min — partial-aggregated, key space = gram vocabulary."""
    grams = (
        _tokens_df(spark, sf_dir)
        .withColumn("g3", F.expr(_G3_EXPR))
        .select("doc_id", F.explode("g3").alias("gram"))
    )
    first_seen = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    per_bucket = (
        first_seen.groupBy(
            (F.col("first_doc") / VOCAB_BUCKET)
            .cast("long")
            .alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("n_new"))
        .withColumn(
            "sb", F.expr(f"CAST(bucket DIV {VOCAB_SUPERBUCKET} AS BIGINT)")
        )
    )
    per_sb = per_bucket.groupBy("sb").agg(F.sum("n_new").alias("sbn"))
    # offset of each superbucket = sum of all STRICTLY EARLIER superbucket
    # totals — a triangular join over the tiny superbucket frame instead
    # of a global-order window, so no WindowExec single-partition funnel
    sb_off = (
        per_sb.alias("a")
        .join(
            F.broadcast(per_sb.select(
                F.col("sb").alias("psb"), F.col("sbn").alias("pn")
            )),
            F.col("psb") < F.col("a.sb"),
            "left",
        )
        .groupBy("a.sb")
        .agg(F.coalesce(F.sum("pn"), F.lit(0)).cast("long").alias("sb_off"))
    )
    w_in = (
        Window.partitionBy("sb")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        per_bucket.join(F.broadcast(sb_off), "sb")
        .select(
            "bucket",
            "n_new",
            (F.col("sb_off") + F.sum("n_new").over(w_in))
            .cast("long")
            .alias("cum_vocab"),
        )
        .orderBy("bucket")
    )


SQL_VOCAB_GROWTH = f"""
WITH toked AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
g AS (SELECT doc_id, unnest({_G3_SQL}) AS gram FROM toked),
first_seen AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram),
per_bucket AS (
  SELECT CAST(first_doc // {VOCAB_BUCKET} AS BIGINT) AS bucket,
         count(*) AS n_new
  FROM first_seen GROUP BY 1
)
SELECT bucket, n_new,
       CAST(sum(n_new) OVER (ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_vocab
FROM per_bucket ORDER BY bucket
"""


# --------------------------------------------------------------------------
# PMI collocations over adjacent token pairs
# --------------------------------------------------------------------------

PMI_MIN_COUNT = 5
PMI_TOP_K = 50

# adjacent-pair grams (reuses the 2-gram builders from pipeline_extras
# via the same CASE-guarded shape; defined locally for the x/y split)
_G2_EXPR_LOCAL = (
    "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks)-1),"
    " i -> concat(element_at(toks, i), ' ', element_at(toks, i+1)))"
    " ELSE cast(array() AS array<string>) END"
)
_G2_SQL_LOCAL = (
    "CASE WHEN len(toks) >= 2 THEN list_transform(range(1, len(toks)),"
    " i -> toks[i] || ' ' || toks[i+1]) ELSE [] END"
)


def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-pair collocations by pointwise mutual information
    ln(p(xy) / (p(x)p(y))) with a count floor of 5 — the association
    score behind tokenizer-merge candidates and phrase mining. The
    unigram count table is VOCABULARY-sized, so it broadcasts twice (x
    and y side); the bigram table takes one partial-aggregated shuffle;
    the top-k is TakeOrderedAndProject. No shuffle touches more than
    vocabulary²-bounded rows."""
    toks = _tokens_df(spark, sf_dir)
    bi_all = (
        toks.withColumn("g2", F.expr(_G2_EXPR_LOCAL))
        .select(F.explode("g2").alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    uni = (
        toks.select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # totals ride along as single-row broadcasts (no driver collect)
    tot_bi = bi_all.agg(F.sum("c_xy").cast("long").alias("tot_bi"))
    tot_uni = uni.agg(F.sum("c").cast("long").alias("tot_uni"))
    bi = bi_all.filter(F.col("c_xy") >= PMI_MIN_COUNT)
    ux = uni.select(F.col("term").alias("x"), F.col("c").alias("cx"))
    uy = uni.select(F.col("term").alias("y"), F.col("c").alias("cy"))
    pmi = F.round(
        F.log(
            (F.col("c_xy").cast("double") / F.col("tot_bi"))
            * (F.col("tot_uni").cast("double") * F.col("tot_uni"))
            / (F.col("cx") * F.col("cy").cast("double"))
        ),
        6,
    )
    return (
        bi.withColumn("x", F.split("gram", " ")[0])
        .withColumn("y", F.split("gram", " ")[1])
        .join(F.broadcast(ux), "x")
        .join(F.broadcast(uy), "y")
        .crossJoin(F.broadcast(tot_bi))
        .crossJoin(F.broadcast(tot_uni))
        .select(
            "gram", F.col("c_xy").cast("long").alias("c_xy"),
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "gram")
        .limit(PMI_TOP_K)
    )


SQL_PMI_BIGRAMS = f"""
WITH toked AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
bi AS (
  SELECT gram, count(*) AS c_xy FROM (
    SELECT unnest({_G2_SQL_LOCAL}) AS gram FROM toked
  ) GROUP BY gram
),
uni AS (
  SELECT term, count(*) AS c FROM (
    SELECT unnest(toks) AS term FROM toked
  ) GROUP BY term
),
tot AS (
  SELECT (SELECT CAST(sum(c_xy) AS BIGINT) FROM bi) AS tot_bi,
         (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS tot_uni
)
SELECT bi.gram, CAST(bi.c_xy AS BIGINT) AS c_xy,
       round(ln((CAST(bi.c_xy AS DOUBLE) / tot.tot_bi)
             * (CAST(tot.tot_uni AS DOUBLE) * tot.tot_uni)
             / (ux.c * CAST(uy.c AS DOUBLE))), 6) AS pmi
FROM bi CROSS JOIN tot
JOIN uni ux ON ux.term = split_part(bi.gram, ' ', 1)
JOIN uni uy ON uy.term = split_part(bi.gram, ' ', 2)
WHERE bi.c_xy >= {PMI_MIN_COUNT}
ORDER BY pmi DESC, gram LIMIT {PMI_TOP_K}
"""


# --------------------------------------------------------------------------
# sliding-window interval join (bin-expansion range join)
# --------------------------------------------------------------------------

def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events joined to OVERLAPPING 2-hour windows (one window starting
    at every distinct event hour), rolled up per window. The oracle twin
    runs the naive inequality join (``e.ts >= w.start AND e.ts <
    w.start + 2h``); Spark instead EXPANDS each event to its two
    candidate window keys — trunc(ts) and trunc(ts)−1h — and
    equi-joins against the window table. Same result, but the physical
    plan is a hash join on a timestamp key instead of a broadcast
    nested-loop: at 100 TB the fact side stays shuffle-joinable and the
    blow-up factor is exactly window_span/bin_size = 2. Value sums are
    quantised to integer cents pre-sum (lang_source_rollup convention)
    so the float total is order-independent."""
    ev = _events(spark, sf_dir).select(
        F.date_trunc("hour", "ts").alias("ehour"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    windows = ev.select(F.col("ehour").alias("wstart")).distinct()
    cand = ev.select(
        "cents",
        F.explode(
            F.array(
                F.col("ehour"),
                F.col("ehour") - F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("wstart"),
    )
    return (
        cand.join(F.broadcast(windows), "wstart")
        .groupBy("wstart")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("cents") / F.lit(100.0)).alias("sum_value"),
        )
        .select(
            F.date_format("wstart", "yyyy-MM-dd HH").alias("window_start"),
            "n_events",
            "sum_value",
        )
        .orderBy("window_start")
    )


SQL_INTERVAL_JOIN = """
WITH w AS (SELECT DISTINCT date_trunc('hour', ts) AS wstart FROM events)
SELECT strftime(w.wstart, '%Y-%m-%d %H') AS window_start,
       count(*) AS n_events,
       CAST(sum(CAST(round(e.value*100) AS BIGINT)) AS BIGINT) / 100.0
         AS sum_value
FROM w JOIN events e
  ON e.ts >= w.wstart AND e.ts < w.wstart + INTERVAL 2 HOUR
GROUP BY 1 ORDER BY 1
"""


EXTRA_QUERIES = {
    "pii_redact": (q_pii_redact, SQL_PII_REDACT),
    "chunk_dedup": (q_chunk_dedup, SQL_CHUNK_DEDUP),
    "salted_rollup": (q_salted_rollup, SQL_SALTED_ROLLUP),
    "vocab_growth": (q_vocab_growth, SQL_VOCAB_GROWTH),
    "pmi_bigrams": (q_pmi_bigrams, SQL_PMI_BIGRAMS),
    "interval_join": (q_interval_join, SQL_INTERVAL_JOIN),
}
