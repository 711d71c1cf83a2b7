"""BM25 top-k scoring — the scale path the reference lacks (SURVEY.md §4:
"tf in postings, document frequency + avgdl statistics, BM25").

Pure DataFrame program, fully JVM-side:

- postings filtered to the query terms: ``engine.postings`` decodes the
  ``blocks`` table, and the term filter reaches its scan (row-group
  pruned: blocks are range-laid-out and sorted by (term, doc_id))
- per-term stats (df) joined via an explicit ``broadcast`` — the stats side
  is |query terms| rows
- Lucene-style idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (always positive)
- score = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)); dl is
  denormalized into the blocks (``dls``) so scoring needs NO join against
  a per-doc table (norms-with-postings layout)
- per-doc sum folded in deterministic term order (array_sort + aggregate)
  so results are bit-identical across partition counts / cluster sizes —
  a plain groupBy().sum() on doubles would depend on partial-agg order
- orderBy(score desc, doc_id asc).limit(k) → TakeOrderedAndProject
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenizer import is_stop_word, tokenize

# Dataset.limit takes a Java int; no Spark result holds more rows, so a
# larger k ("all matches") is clamped here
LIMIT_MAX = 2**31 - 1


def query_terms(engine, text: str) -> list[str]:
    words, _ = tokenize(text)
    return sorted(
        {
            w.lower()
            for w in words
            if not is_stop_word(w, engine.config.stop_words)
        }
    )


def bm25_topk(
    engine, text: str, k: int = 10, conjunctive: bool = False,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Disjunctive (default) or conjunctive BM25 top-k.

    Returns (doc_id, score, n_terms) ordered best-first; ties break on
    ascending doc_id for cross-run determinism.

    ``allowed``: optional (doc_id) frame of metadata-eligible docs (the
    ``where=`` of ``SearchEngine.search_bm25``); semi-joined against the
    per-doc aggregate — one row per candidate doc, i.e. AFTER the
    postings sliver collapses, the smallest place the gate can sit —
    BEFORE the top-k, so a filtered query fills k from the filtered set.
    Scores keep full-corpus statistics (df, avgdl, N): filtering narrows
    WHICH docs are eligible, not what the corpus looks like — the same
    semantics as Lucene's filter clauses.
    """
    terms = query_terms(engine, text)
    spark = engine.spark
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double, n_terms int")

    k1 = F.lit(engine.config.bm25_k1)
    b = F.lit(engine.config.bm25_b)
    n_docs = F.lit(float(engine.corpus_stats["n_docs"]))
    avgdl = F.lit(float(engine.corpus_stats["avgdl"]) or 1.0)

    p = engine.postings.filter(F.col("term").isin(terms))

    stats_map = getattr(engine, "_stats_map", None)
    if stats_map is not None:
        # warm() pinned the vocabulary (term -> df) on the driver: inline
        # df as a literal CASE over the query terms — no stats job, no
        # broadcast build, the whole query is one action. Terms absent
        # from the map have no postings rows, so the fallback 0 never
        # reaches a live row.
        df_col = F.lit(0)
        for t in terms:
            df_col = F.when(
                F.col("term") == t, F.lit(int(stats_map.get(t, 0)))
            ).otherwise(df_col)
    else:
        stats = (
            engine.term_stats()
            .filter(F.col("term").isin(terms))
            .select("term", "df")
        )
        p = p.join(F.broadcast(stats), "term")
        df_col = F.col("df")

    idf = F.log(F.lit(1.0) + (n_docs - df_col + 0.5) / (df_col + 0.5))
    tf = F.col("tf").cast("double")
    norm = tf + k1 * (F.lit(1.0) - b + b * F.col("dl") / avgdl)
    score = (idf * tf * (k1 + F.lit(1.0)) / norm).alias("s")

    per_doc = (
        p.select("doc_id", "term", score)
        .groupBy("doc_id")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("term", "s"))),
                F.lit(0.0),
                lambda acc, x: acc + x["s"],
            ).alias("score"),
            F.count("*").alias("n_terms"),
        )
    )
    if conjunctive:
        per_doc = per_doc.filter(F.col("n_terms") == len(terms))
    if allowed is not None:
        per_doc = per_doc.join(allowed, "doc_id", "left_semi")
    return per_doc.orderBy(F.desc("score"), F.asc("doc_id")).limit(
        min(k, LIMIT_MAX)
    )
