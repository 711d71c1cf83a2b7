"""Batch query evaluation: N queries fused into ONE Spark plan.

The reference engine answers one query per call (engine.ts:105-151); at
Spark's execution model that shape pays the full job-scheduling floor
(~0.2-0.5 s on this host, NOTES.md) PER QUERY. The 100 TB serving story
is throughput, not single-probe latency: a serving tier batches the
in-flight queries and runs them as one plan, so the scheduling floor
amortizes to job_time / N per query.

Everything here is per-QUERY-SET constant in plan size: the number of
shuffles does not grow with the number of queries. Shape:

1. parse all queries driver-side (tiny, mirrors engine.ts:106-111)
2. ONE pushed ``term IN (union of all query terms)`` scan of
   term_positions (or its warmed cache)
3. broadcast-join a tiny query map (qid, term, member?, quote slot) —
   each posting row fans out only to the queries that asked for it
4. ONE groupBy(qid, doc_id): membership count + the quoted-adjacency
   predicate evaluated generically per quote group (higher-order
   fold of shifted position arrays — same algebra as
   search.py:_adjacency_expr, but data-driven so one expression serves
   every query in the batch)
5. per-query intersection cap (engine.ts:134) via a qid-partitioned
   window, docs join, ONE Arrow stage scoring+snippeting all queries
   (specs looked up by qid inside the UDF), per-query rank window.

Reference-parity per query is asserted against SearchEngine.search in
tests/test_batch_search.py (cold and warmed engines, conjunctive /
phrase / single-term / no-hit / stop-only queries).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.tokenizer import is_stop_word, tokenize
from .scoring import make_batch_score_intro_udf

BATCH_RESULT_SCHEMA = (
    "query_id int, rank int, doc_id long, score double, title string, "
    "introduction string, url string"
)

BM25_BATCH_SCHEMA = (
    "query_id int, rank int, doc_id long, score double, n_terms long"
)

BM25_BATCH_RESULT_SCHEMA = (
    "query_id int, rank int, doc_id long, score double, n_terms long, "
    "title string, introduction string, url string"
)

# per-(group, doc) adjacency predicate over the collected word slots of
# ONE quote group: every slot present, then fold array_intersect over
# the (-word_idx)-shifted position arrays — non-empty means the words
# appear adjacent in order (engine.ts:250-284). Same algebra as
# search.py:_adjacency_expr, but data-driven so one expression serves
# every distinct quote group in the batch.
_GROUP_OK_EXPR = """
size(qs) = gsize AND size(aggregate(
  slice(qs, 2, size(qs) - 1),
  transform(element_at(qs, 1).positions,
            p -> p - element_at(qs, 1).widx),
  (acc, u) -> array_intersect(
    acc, transform(u.positions, q -> q - u.widx))
)) > 0
"""


def parse_queries(texts: Sequence[str], stop_words) -> list[dict]:
    """Driver-side parse of every query (engine.ts:106-111): full word
    list + quote pairs, stop-filtered lookup copy, and the reference's
    single-list quirk flag (quote predicate skipped when only one lookup
    term, engine.ts:398-404). Quote expansion is shared with the
    single-query path (search._quote_pairs) so the two paths cannot
    drift."""
    from .search import _quote_pairs

    specs = []
    for qid, text in enumerate(texts):
        words, quotes = tokenize(text)
        lookup = [w for w in words if not is_stop_word(w, stop_words)]
        terms = sorted({w.lower() for w in lookup})
        raw_pairs, _qterms = _quote_pairs(words, quotes)
        pairs = [[w.lower() for w in p] for p in raw_pairs]
        specs.append(
            {
                "qid": qid,
                "text": text,
                "words": list(words),
                "quotes": list(quotes),
                "lookup": lookup,
                "terms": terms,
                "pairs": pairs,
                # Q4 quirk: single-lookup-term queries skip the phrase
                # predicate entirely (engine.ts:398-404)
                "apply_phrase": len(lookup) > 1 and bool(pairs),
            }
        )
    return specs


def _query_map_rows(
    specs: Sequence[dict],
) -> tuple[list, list, list, list, list]:
    """(member rows, group rows, cqid->gid rows, qinfo rows, qid map)
    for the broadcast sides — everything keyed by CANONICAL query id.

    The candidate set of a query depends only on its member-term set
    plus (when the phrase predicate applies) its quoted word sequences.
    Queries with identical signatures share one canonical id (cqid):
    membership and phrase work run once per distinct signature, and the
    qid map fans results back out to every asking query AFTER the
    intersection cap. Production batches repeat queries heavily
    (power-law query mix), so this is result sharing, not a bench trick.
    Quote groups are additionally deduplicated by content ACROSS
    signatures — a phrase shared by 50 different queries costs one
    positional aggregation.
    """
    gid_of: dict[tuple, int] = {}
    group_rows: list = []
    cqid_of: dict[tuple, int] = {}
    member, qinfo, cqid_gid, qid_map = [], [], set(), []
    for s in specs:
        if not s["terms"]:
            continue  # empty-lookup query -> no candidate rows by design
        gids = []
        if s["apply_phrase"]:
            # empty quote groups are False disjuncts in the single path
            # (search._adjacency_expr([]) = lit(False), OR-combined):
            # ignorable next to non-empty groups, but a query whose
            # groups are ALL empty can never match — no candidate rows
            nonempty = [p for p in s["pairs"] if p]
            if not nonempty:
                continue
            for pair in nonempty:
                key = tuple(pair)
                if key not in gid_of:
                    gid_of[key] = len(gid_of)
                    for i, w in enumerate(pair):
                        group_rows.append((gid_of[key], w, i, len(pair)))
                gids.append(gid_of[key])
        sig = (tuple(s["terms"]), tuple(sorted(set(gids))), s["apply_phrase"])
        if sig not in cqid_of:
            cqid = cqid_of[sig] = len(cqid_of)
            for t in s["terms"]:
                member.append((cqid, t))
            for g in sig[1]:
                cqid_gid.add((cqid, g))
            qinfo.append((cqid, len(s["terms"]), s["apply_phrase"]))
        qid_map.append((s["qid"], cqid_of[sig]))
    return member, group_rows, sorted(cqid_gid), qinfo, qid_map


def batch_candidates(
    spark,
    term_positions: DataFrame,
    specs: Sequence[dict],
    cap: int,
    postings: Optional[DataFrame] = None,
) -> Optional[DataFrame]:
    """(qid, doc_id) candidates for every query in ``specs``, each capped
    at ``cap`` in ascending doc_id order (engine.ts:134,391-431) — plan
    size constant in the number of queries.

    Membership and the phrase predicate run as SEPARATE branches joined
    on (qid, doc_id): the member branch needs only (doc_id, term) — from
    ``postings`` if given (column-pruned: no position arrays read or
    shuffled), else a pruned projection of ``term_positions`` — while
    the quote branch touches position arrays only for the quoted terms
    of phrase queries. Both aggregations and their join hash on the same
    keys, so the join adds no exchange. Member rows are unique per
    (qid, term, doc_id) by construction (postings are per-(term, doc)
    unique, B5), so membership is a plain count, not count-distinct.

    ``term_positions`` must have (doc_id, term, positions) with one row
    per (doc_id, term) — the index table or any equivalent derivation.
    Returns None when no query has a lookup term.
    """
    (member_rows, group_rows, cqid_gid_rows, qinfo_rows,
     qid_map_rows) = _query_map_rows(specs)
    if not member_rows:
        return None
    member_map = spark.createDataFrame(member_rows, "cqid int, term string")
    qinfo = spark.createDataFrame(
        qinfo_rows, "cqid int, n_terms int, apply_phrase boolean"
    )
    member_terms = sorted({t for _, t in member_rows})

    member_src = (
        postings if postings is not None else term_positions
    ).select("doc_id", "term")
    memb = (
        member_src.filter(F.col("term").isin(member_terms))
        .join(F.broadcast(member_map), "term")
        .groupBy("cqid", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_match"))
    )

    cand = memb.join(F.broadcast(qinfo), "cqid")
    if group_rows:
        gmap = spark.createDataFrame(
            group_rows, "gid int, term string, widx int, gsize int"
        )
        cqid_gid = spark.createDataFrame(cqid_gid_rows, "cqid int, gid int")
        quoted_terms = sorted({t for _, t, *_ in group_rows})
        # adjacency once per DISTINCT group content; survivors (docs
        # where the phrase occurs) are a small frame, fanned back out to
        # the asking signatures. distinct() because a signature
        # referencing two groups must OR them — one surviving row
        # suffices.
        gq = (
            term_positions.filter(F.col("term").isin(quoted_terms))
            .join(F.broadcast(gmap), "term")
            .groupBy("gid", "doc_id")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("widx", "positions"))
                ).alias("qs"),
                F.first("gsize").alias("gsize"),
            )
            .filter(F.expr(_GROUP_OK_EXPR))
            .select("gid", "doc_id")
        )
        ph = (
            gq.join(F.broadcast(cqid_gid), "gid")
            .select("cqid", "doc_id")
            .distinct()
            .withColumn("ph_ok", F.lit(True))
        )
        cand = cand.join(ph, ["cqid", "doc_id"], "left").filter(
            (F.col("n_match") == F.col("n_terms"))
            & (
                ~F.col("apply_phrase")
                | F.coalesce(F.col("ph_ok"), F.lit(False))
            )
        )
    else:
        cand = cand.filter(F.col("n_match") == F.col("n_terms"))
    cand = cand.select("cqid", "doc_id")
    w = Window.partitionBy("cqid").orderBy("doc_id")
    capped = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
        .drop("rn")
    )
    # fan canonical results back out to every asking query — AFTER the
    # cap, so shared signatures paid for membership/phrase/cap once
    qid_map = spark.createDataFrame(qid_map_rows, "qid int, cqid int")
    return capped.join(F.broadcast(qid_map), "cqid").select("qid", "doc_id")


def search_many(
    engine, texts: Sequence[str], max_count: int = 100
) -> DataFrame:
    """Reference-parity search for a BATCH of queries in one fused plan.

    Returns (query_id, rank, doc_id, score, title, introduction, url)
    ordered (query_id, rank) — per query_id, the rows equal
    ``SearchEngine.search(texts[query_id], max_count)`` in order.
    Queries with no results (or stop-word-only text) contribute no rows.
    """
    from .search import INTERSECT_CAP

    spark = engine.spark
    specs = parse_queries(texts, engine.config.stop_words)
    cand = batch_candidates(
        spark,
        engine.term_positions,
        specs,
        INTERSECT_CAP,
        postings=engine.postings,
    )
    if cand is None:
        return spark.createDataFrame([], BATCH_RESULT_SCHEMA)

    if engine._warmed and getattr(engine, "_docs_proj", None) is not None:
        # warmed: candidates shuffle to the pre-partitioned docs cache —
        # no collect anywhere, the whole batch is ONE job
        pages = engine._docs_proj.join(cand, "doc_id").select(
            "qid", "doc_id", "title", "url", "words"
        )
    else:
        # cold: ONE bounded collect (<= cap * n_queries rows) for the
        # whole batch so the doc fetch stays an IN-filter pushed into the
        # parquet scan — same fetch-after-slice shape as the single-query
        # cold path, paid once per batch instead of once per query
        pairs = cand.collect()
        if not pairs:
            return spark.createDataFrame([], BATCH_RESULT_SCHEMA)
        ids = sorted({r["doc_id"] for r in pairs})
        pair_df = spark.createDataFrame(
            [(r["qid"], r["doc_id"]) for r in pairs], "qid int, doc_id long"
        )
        pages = (
            engine.docs.filter(F.col("doc_id").isin(ids))
            .select("doc_id", "title", "url", "words")
            .join(F.broadcast(pair_df), "doc_id")
            .select("qid", "doc_id", "title", "url", "words")
        )

    # one qid-hash shuffle collapses the Arrow stage to a few tasks AND
    # pre-partitions for the rank window below (no second exchange)
    pages = pages.repartition(engine._serve_partitions(), "qid")

    udf_specs = {
        s["qid"]: (s["lookup"], s["words"], s["quotes"]) for s in specs
    }
    both = make_batch_score_intro_udf(udf_specs, engine.config.score_weights)
    scored = pages.withColumn("si", both("qid", "title", "url", "words"))
    rank_w = Window.partitionBy("qid").orderBy(
        F.desc(F.col("si.score")), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= max_count)
        .select(
            F.col("qid").alias("query_id"),
            "rank",
            "doc_id",
            F.col("si.score").alias("score"),
            "title",
            F.col("si.introduction").alias("introduction"),
            "url",
        )
        .orderBy("query_id", "rank")
    )


# driver-gate demo batch: one conjunctive, one single-term, one phrase
# query evaluated by the SAME fused machinery as search_many, over a
# term_positions frame derived in-plan from the documents table, not a
# persisted index (quote-free guard as in q_phrase_search — tokenizer
# quote handling vs the regex oracle)
def _batch_demo_queries() -> list[str]:
    """Built from the SAME constants the oracle SQL interpolates
    (corpus_queries.CONJ_TERMS/SINGLE_TERM/PHRASE) so the two sides of
    the batch_search gate can never drift."""
    from .corpus_queries import CONJ_TERMS, PHRASE, SINGLE_TERM

    return [" ".join(CONJ_TERMS), SINGLE_TERM, f'"{PHRASE[0]} {PHRASE[1]}"']


def q_batch_search(spark, sf_dir: str) -> DataFrame:
    """(query_id, doc_id) for the three demo queries, all from ONE fused
    plan: one token expansion, one aggregation, one capped window —
    the corpus-level twin of :func:`search_many`'s candidate stage."""
    from ..functions.tokenizer import tokenize_expr
    from .corpus_queries import _docs

    docs = _docs(spark, sf_dir).filter(~F.col("text").contains('"'))
    tp = (
        docs.select(
            "doc_id",
            tokenize_expr(F.col("text"), lower_case=True).alias("toks"),
        )
        .select("doc_id", F.posexplode("toks").alias("pos", "term"))
        .groupBy("doc_id", "term")
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
    )
    specs = parse_queries(_batch_demo_queries(), stop_words=None)
    cand = batch_candidates(spark, tp, specs, cap=100)
    return cand.select(
        F.col("qid").alias("query_id"), "doc_id"
    ).orderBy("query_id", "doc_id")


def bm25_many(
    engine, texts: Sequence[str], k: int = 10, conjunctive: bool = False,
    with_results: bool = False,
) -> DataFrame:
    """BM25 top-k for a batch of queries in one fused plan: one pushed
    IN-scan of postings, one broadcast of (qid, term[, idf]), one
    aggregation, one rank window. Per-query rows equal
    ``bm25_topk(engine, text, k, conjunctive)`` (tested).

    Warmed engines inline idf from the driver-pinned vocab map into the
    broadcast side — the batch stays a single job with no stats scan.

    ``with_results`` appends (title, introduction, url) per hit — the
    reference's ``SearchResult`` projection (engine.ts:141-150) batch-
    wide: one bounded fetch over the ≤ k·|queries| ranked ids plus ONE
    Arrow snippet stage for the whole batch (same shape as
    ``search_many``'s page stage).
    """
    from .bm25 import query_terms

    spark = engine.spark
    empty_schema = (
        BM25_BATCH_RESULT_SCHEMA if with_results else BM25_BATCH_SCHEMA
    )
    # canonical dedup: a BM25 result depends only on the sorted term
    # set, so identical signatures share one scoring pass and fan out to
    # their qids after the top-k window (result sharing, as in
    # batch_candidates)
    cqid_of: dict[tuple, int] = {}
    qid_map_rows = []
    for qid, text in enumerate(texts):
        terms = tuple(query_terms(engine, text))
        if not terms:
            continue
        if terms not in cqid_of:
            cqid_of[terms] = len(cqid_of)
        qid_map_rows.append((qid, cqid_of[terms]))
    if not cqid_of:
        return spark.createDataFrame([], empty_schema)
    # slot = index of the term in the signature's SORTED term list — the
    # per-doc score sum below adds slot columns left-to-right, which is
    # exactly the array_sort-fold order of the per-query path (bm25.py),
    # so batch scores are bit-identical to bm25_topk's
    qmap_rows = [
        (cqid, t, slot)
        for terms, cqid in cqid_of.items()
        for slot, t in enumerate(terms)
    ]
    union_terms = sorted({t for _, t, _ in qmap_rows})
    max_slots = max(len(terms) for terms in cqid_of)
    qinfo = spark.createDataFrame(
        [(cqid, len(terms)) for terms, cqid in cqid_of.items()],
        "cqid int, n_q_terms int",
    )

    k1 = F.lit(engine.config.bm25_k1)
    b = F.lit(engine.config.bm25_b)
    n_docs = F.lit(float(engine.corpus_stats["n_docs"]))
    avgdl = F.lit(float(engine.corpus_stats["avgdl"]) or 1.0)

    p = engine.postings.filter(F.col("term").isin(union_terms))

    stats_map = getattr(engine, "_stats_map", None)
    if stats_map is not None:
        # warm path: df resolved driver-side from the pinned vocab map and
        # shipped as an INT on the broadcast side; idf math stays in the
        # JVM expression below so scores are bit-identical to the
        # per-query path (a driver-side math.log differs from Math.log by
        # 1 ulp on some inputs — enough to break exact parity)
        qmap = spark.createDataFrame(
            [
                (cqid, t, slot, int(stats_map.get(t, 0)))
                for cqid, t, slot in qmap_rows
            ],
            "cqid int, term string, slot int, df int",
        )
        p = p.join(F.broadcast(qmap), "term")
    else:
        stats = (
            engine.term_stats()
            .filter(F.col("term").isin(union_terms))
            .select("term", "df")
        )
        qmap = spark.createDataFrame(
            qmap_rows, "cqid int, term string, slot int"
        )
        p = p.join(F.broadcast(stats), "term").join(
            F.broadcast(qmap), "term"
        )
    idf = F.log(
        F.lit(1.0) + (n_docs - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )

    tf = F.col("tf").cast("double")
    norm = tf + k1 * (F.lit(1.0) - b + b * F.col("dl") / avgdl)
    score = (idf * tf * (k1 + F.lit(1.0)) / norm).alias("s")

    # per-slot conditional sums instead of a collect_list fold: each slot
    # holds at most ONE row per (qid, doc) (terms are unique per posting),
    # so sum(when(slot=i, s)) is that exact double, and the left-to-right
    # addition below replays the per-query fold's order bit-for-bit —
    # plain hash aggregation, no per-group array build/sort
    slot_sums = [
        F.sum(F.when(F.col("slot") == i, F.col("s"))).alias(f"_s{i}")
        for i in range(max_slots)
    ]
    per_doc = (
        p.select("cqid", "doc_id", "slot", score)
        .groupBy("cqid", "doc_id")
        .agg(*slot_sums, F.count("*").alias("n_terms"))
    )
    total = F.lit(0.0)
    for i in range(max_slots):
        # x + 0.0 == x exactly for the positive BM25 partials, so absent
        # slots don't perturb the bit pattern
        total = total + F.coalesce(F.col(f"_s{i}"), F.lit(0.0))
    per_doc = per_doc.select(
        "cqid", "doc_id", total.alias("score"), "n_terms"
    )
    if conjunctive:
        per_doc = per_doc.join(F.broadcast(qinfo), "cqid").filter(
            F.col("n_terms") == F.col("n_q_terms")
        )
    w = Window.partitionBy("cqid").orderBy(F.desc("score"), F.asc("doc_id"))
    qid_map = spark.createDataFrame(qid_map_rows, "qid int, cqid int")
    ranked = (
        per_doc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .join(F.broadcast(qid_map), "cqid")
        .select(
            F.col("qid").alias("query_id"),
            "rank",
            "doc_id",
            "score",
            # long, matching the single-query path's n_terms type so
            # batch and single results union/append cleanly
            "n_terms",
        )
    )
    if not with_results:
        return ranked.orderBy("query_id", "rank")
    return _project_many(engine, ranked, texts)


def _project_many(engine, ranked: DataFrame, texts: Sequence[str]) -> DataFrame:
    """Attach (title, introduction, url) to a batch-ranked
    (query_id, rank, doc_id, score, n_terms) frame — the batch analogue
    of ``SearchEngine._project_results``: warmed engines merge-join the
    pinned docs projection (no collect, one plan); cold engines collect
    the ≤ k·|queries| ranked rows once so the page fetch is an IN-filter
    pushed into the docs scan. One Arrow stage snippets the whole batch
    (per-row query spec resolved by qid inside the UDF)."""
    spark = engine.spark
    specs = parse_queries(texts, engine.config.stop_words)
    udf_specs = {
        s["qid"]: (s["lookup"], s["words"], s["quotes"]) for s in specs
    }
    cols = ["query_id", "rank", "doc_id", "score", "n_terms"]
    if engine._warmed and getattr(engine, "_docs_proj", None) is not None:
        pages = engine._docs_proj.join(ranked, "doc_id").select(
            *cols, "title", "url", "words"
        )
    else:
        rows = ranked.collect()
        if not rows:
            return spark.createDataFrame([], BM25_BATCH_RESULT_SCHEMA)
        lit = spark.createDataFrame(
            [tuple(r[c] for c in cols) for r in rows], BM25_BATCH_SCHEMA
        )
        # engine._fetch_pages honors the cold_fetch config (fused vs
        # pushdown) and carries the ranked columns through its join
        pages = engine._fetch_pages(
            lit, ids=sorted({r["doc_id"] for r in rows})
        ).select(*cols, "title", "url", "words")
    pages = pages.repartition(engine._serve_partitions(), "query_id")
    both = make_batch_score_intro_udf(udf_specs, engine.config.score_weights)
    return (
        pages.withColumn(
            "si", both(F.col("query_id"), "title", "url", "words")
        )
        .select(
            *cols, "title",
            F.col("si.introduction").alias("introduction"), "url",
        )
        .orderBy("query_id", "rank")
    )
