"""Block-max WAND top-k over the delta-encoded blocks table.

The scale path for disjunctive top-k the reference cannot express (its
top-k early exit, /root/reference/src/engine.ts:391-431, streams postings
best-first in a single thread). Here the same "stop before scoring
everything" idea becomes *block-level pruning* — a batch-friendly,
deterministic re-statement of Block-Max WAND (Ding & Suel, SIGIR'11).
A query term's block metadata is df/block_size rows, so the plan runs on
the driver, in the numpy planner the serve tier runs too
(``block_bounds.WandPlanner``), and Spark only moves postings:

1. one job collects ``(term, first_doc, max_doc, block_max_partial
   [, bake_avgdl])`` of the query terms' blocks, with each term's df
   (warmed engines inline df from the pinned vocabulary);
2. one job collects the live postings of the planner's seed blocks
   (semi-joined to ``allowed``); the planner sets θ from them and keeps
   the blocks whose global and range bounds reach θ. When every block
   survives, the query runs the exhaustive plan (``bm25.bm25_topk``)
   instead — pruning would decode everything;
3. the surviving ``(term, first_doc)`` keys reach the blocks scan through
   a broadcast semi-join; their decode (``index_build.decode_blocks``: a
   SQL prefix sum over the deltas, no Python worker) gives the distinct
   candidate doc_ids;
4. exact BM25 on candidates only — same deterministic term-ordered fold
   as bm25.py, so ranks AND scores are bit-identical to the exhaustive
   path (tested), just computed over far fewer docs.

No Spark job computes a bound, a θ or a survivor set; every scan is
term-pruned and the candidate stage is a candidate-bounded join.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .block_bounds import WandPlanner, drift_corrected, empty_stats, idf
from .bm25 import LIMIT_MAX, bm25_topk, query_terms
from .index_build import decode_blocks


def _exact_scores(engine, terms: list[str], candidates: DataFrame,
                  stats: DataFrame) -> DataFrame:
    """Exact BM25 for the candidate doc_ids — identical expression tree to
    bm25.bm25_topk so WAND results are bit-identical to the exhaustive
    path (deterministic term-ordered fold)."""
    cfg = engine.config
    k1 = F.lit(cfg.bm25_k1)
    b = F.lit(cfg.bm25_b)
    n_docs = F.lit(float(engine.corpus_stats["n_docs"]))
    avgdl = F.lit(float(engine.corpus_stats["avgdl"]) or 1.0)

    p = engine.postings.filter(F.col("term").isin(terms))
    p = p.join(F.broadcast(stats), "term")
    p = p.join(candidates.hint("broadcast"), "doc_id")

    idf = F.log(F.lit(1.0) + (n_docs - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tf = F.col("tf").cast("double")
    norm = tf + k1 * (F.lit(1.0) - b + b * F.col("dl") / avgdl)
    score = (idf * tf * (k1 + F.lit(1.0)) / norm).alias("s")

    return (
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


def _blocks_at(engine, blocks: DataFrame, keys: set) -> DataFrame:
    """The blocks named by ``(term, first_doc)`` keys, through a broadcast
    semi-join (the term IN-list on ``blocks`` still reaches the scan)."""
    keys_df = engine.spark.createDataFrame(
        sorted(keys), "term string, first_doc long"
    )
    return blocks.join(F.broadcast(keys_df), ["term", "first_doc"],
                       "left_semi")


def _by_term(table, terms) -> dict:
    """Split a collected Arrow table's rows by its ``term`` column into
    ``term -> row indices``, for the given terms, without a Python object
    per row."""
    col = table.column("term").combine_chunks().dictionary_encode()
    codes = col.indices.to_numpy(zero_copy_only=False)
    code_of = {t: i for i, t in enumerate(col.dictionary.to_pylist())}
    return {
        t: np.flatnonzero(codes == code_of[t]) for t in terms if t in code_of
    }


def _column(table, name: str, dtype: str) -> np.ndarray:
    return np.asarray(
        table.column(name).to_numpy(zero_copy_only=False), dtype=dtype
    )


def _plan(engine, text: str, k: int, conjunctive: bool, allowed):
    """Plan one query on the driver. Returns ``(planner, blocks)``, or
    None when no doc can match.

    Both collects arrive as Arrow columns (``DataFrame.toArrow``) and go
    straight to numpy arrays: the block metadata is Σ df/block_size rows
    per query, so no ``Row`` object is made per block."""
    terms = query_terms(engine, text)
    if not terms:
        return None
    blocks = engine.blocks().filter(F.col("term").isin(terms))
    has_bake = "bake_avgdl" in blocks.columns
    meta = blocks.select(
        "term", "first_doc", "max_doc", "block_max_partial",
        *(["bake_avgdl"] if has_bake else []),
    )
    stats_map = getattr(engine, "_stats_map", None)
    if stats_map is None:
        # cold: df rides along in the same job
        meta = meta.join(
            F.broadcast(
                engine.term_stats()
                .filter(F.col("term").isin(terms))
                .select("term", "df")
            ),
            "term",
        )
    meta = meta.toArrow()
    rows = _by_term(meta, terms)
    if stats_map is None:
        dfs = _column(meta, "df", "int64")
        df_map = {t: int(dfs[at[0]]) for t, at in rows.items()}
    else:
        df_map = {t: stats_map[t] for t in terms if t in stats_map}
    kept = [t for t in sorted(rows) if t in df_map]
    ix = np.concatenate(
        [rows[t] for t in kept] or [np.empty(0, dtype="int64")]
    )
    n = float(engine.corpus_stats["n_docs"])
    planner = WandPlanner(
        terms, {t: idf(n, d) for t, d in df_map.items()},
        engine.config.bm25_k1, engine.config.bm25_b,
        float(engine.corpus_stats["avgdl"]) or 1.0,
        [t for t in kept for _ in rows[t]],
        _column(meta, "first_doc", "int64")[ix],
        _column(meta, "max_doc", "int64")[ix],
        drift_corrected(
            _column(meta, "block_max_partial", "float64")[ix],
            _column(meta, "bake_avgdl", "float64")[ix] if has_bake else None,
            float(engine.corpus_stats["avgdl"]),
        ),
    )
    if planner.empty(conjunctive):
        return None

    seed = engine._live_postings(_blocks_at(engine, blocks,
                                            planner.seed_keys()))
    if allowed is not None:
        seed = seed.join(allowed, "doc_id", "left_semi")
    seed = seed.select("term", "doc_id", "tf", "dl").toArrow()
    ids, tfs, dls = (
        _column(seed, "doc_id", "int64"),
        _column(seed, "tf", "float64"),
        _column(seed, "dl", "float64"),
    )
    planner.plan(
        {
            t: (ids[at], tfs[at], dls[at])
            for t, at in _by_term(seed, planner.scorable).items()
        },
        k, conjunctive,
    )
    return planner, blocks


def wand_topk(engine, text: str, k: int = 10, conjunctive: bool = False,
              allowed=None) -> DataFrame:
    """Block-max-pruned BM25 top-k. Returns (doc_id, score, n_terms)
    ordered (score desc, doc_id asc) — rank- and score-identical to
    ``bm25.bm25_topk`` (tested).

    ``allowed``: optional (doc_id) frame of metadata-eligible docs (the
    ``where=`` of ``SearchEngine.search_bm25``). θ is seeded over
    allowed docs only and decoded candidates are semi-joined against it
    before exact scoring, so the result is the true filtered top-k;
    block pruning stays lossless because block bounds upper-bound every
    doc, filtered or not."""
    planned = _plan(engine, text, k, conjunctive, allowed)
    if planned is None:
        return engine.spark.createDataFrame(
            [], "doc_id long, score double, n_terms int"
        )
    planner, blocks = planned
    if planner.fallback:
        return bm25_topk(
            engine, text, k=k, conjunctive=conjunctive, allowed=allowed
        )
    cand = (
        decode_blocks(_blocks_at(engine, blocks, planner.surviving_keys()))
        .select("doc_id")
        .distinct()
    )
    if allowed is not None:
        cand = cand.join(allowed, "doc_id", "left_semi")
    stats = (
        engine.term_stats()
        .filter(F.col("term").isin(planner.scorable))
        .select("term", "df")
    )
    scored = _exact_scores(engine, planner.scorable, cand, stats)
    if conjunctive:
        scored = scored.filter(F.col("n_terms") == len(planner.terms))
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(
        min(k, LIMIT_MAX)
    )


# the plan facts of WandPlanner.stats(); the serve tier's ``blocks_read``
# and ``candidates`` describe its own block reads, which the Spark path
# does not have (``_exact_scores`` reads the terms' postings)
PLAN_KEYS = ("terms", "theta", "blocks_total", "surviving_blocks",
             "global_surviving_blocks")


def wand_prune_stats(engine, text: str, k: int = 10,
                     conjunctive: bool = False) -> dict:
    """The plan ``wand_topk`` takes for one query: the :data:`PLAN_KEYS`
    of the serve tier's ``LocalIndexReader.last_wand_stats`` (θ, blocks
    total, surviving under the range and the global bound), plus
    ``would_fallback``: whether ``wand_topk`` answers this query with the
    exhaustive plan. Runs the two planning jobs only."""
    planned = _plan(engine, text, k, conjunctive, None)
    st = planned[0].stats() if planned is not None else empty_stats()
    return {
        **{key: st[key] for key in PLAN_KEYS},
        "would_fallback": planned is not None and planned[0].fallback,
    }
