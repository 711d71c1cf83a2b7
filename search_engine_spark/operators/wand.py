"""Block-max WAND top-k over the delta-encoded blocks table.

The scale path for disjunctive top-k the reference cannot express (its
top-k early exit, /root/reference/src/engine.ts:391-431, streams postings
best-first in a single thread). Here the same "stop before scoring
everything" idea becomes *block-level pruning* — a batch-friendly,
deterministic re-statement of Block-Max WAND (Ding & Suel, SIGIR'11):

1. driver-side (tiny): per-term idf from ``term_stats`` and per-term upper
   bound ``ub_t = idf_t * (k1+1) * max(bmp_eff)`` via an algebraic
   ``groupBy(term).max`` over the term-pruned blocks scan (map-side combine
   absorbs head-term skew; result is |query terms| rows). ``bmp_eff`` is
   the avgdl-drift-corrected block max (see ``block_max_eff``).
2. threshold seed: decode each term's top ``seed_blocks`` blocks by block
   upper bound, exact-score those docs, take the k-th best score as θ.
   θ is only a *lower bound* for pruning — correctness never depends on
   how good it is.
3. prune: a block of term t survives iff
   ``idf_t*(k1+1)*bmp_eff + Σ_{t'≠t} ub_{t'} ≥ θ``.
   Proof a top-k doc d survives: for t* = argmax contribution c_t(d), the
   block holding d for t* has ub ≥ c_{t*}(d) and the Σ-other bound covers
   the rest, so its bound ≥ score(d) ≥ θ. Pure Column filter, no shuffle.
4. decode surviving blocks (``index_build.decode_blocks``: a SQL prefix
   sum over the deltas, no Python worker) → distinct candidate doc_ids.
5. exact BM25 on candidates only — same deterministic term-ordered fold as
   bm25.py, so ranks AND scores are bit-identical to the exhaustive path
   (tested), just computed over far fewer docs.

At 10^12 turns every step is either a term-pruned scan, an algebraic agg,
a literal filter, or a candidate-bounded join — nothing materializes a
full posting list on the driver.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .bm25 import LIMIT_MAX, query_terms
from .index_build import decode_blocks


def block_max_eff(blocks: DataFrame, corpus_stats: dict):
    """Drift-corrected block upper-bound column: ``block_max_partial``
    scaled by ``max(1, avgdl_now / bake_avgdl)``.

    The baked partial ``tf/(tf+k1(1-b+b·dl/avgdl_bake))`` is
    monotonically increasing in avgdl, so whenever the scorer's corpus
    avgdl exceeds the one the block was baked with (an appended segment
    is baked at append time and ``refresh_stats`` moves the corpus stats
    without re-cutting blocks; compaction re-bakes them), the raw baked
    bound UNDER-estimates true contributions and pruning
    would silently drop top-k docs (repro'd; gated by
    tests/test_wand.py::test_wand_lossless_under_avgdl_drift). The
    correction restores validity for any drift direction: for
    avgdl_now ≥ bake, D_now ≥ (bake/avgdl_now)·D_bake since
    (1-r)(tf+k1(1-b)) ≥ 0, hence f_now ≤ f_bake·avgdl_now/bake; for
    avgdl_now ≤ bake, f_now ≤ f_bake directly. At zero drift the factor
    is exactly 1.0 (bit-identical bounds). Pre-``bake_avgdl`` indexes
    (built before the self-contained block format) fall back to the
    uncorrected bound — rebuild or compact to get drift safety."""
    if "bake_avgdl" not in blocks.columns:
        return F.col("block_max_partial")
    avgdl_now = float(corpus_stats.get("avgdl") or 0.0) or 1.0
    return F.col("block_max_partial") * F.greatest(
        F.lit(1.0), F.lit(avgdl_now) / F.col("bake_avgdl")
    )


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


def _prepare(engine, text: str):
    """Shared WAND head: term lookup, pruned blocks/stats scans, and the
    per-term df / block-max maps (pinned at warm(), one collect cold).
    Returns None when nothing is scorable."""
    terms = query_terms(engine, text)
    if not terms:
        return None
    stats = (
        engine.term_stats()
        .filter(F.col("term").isin(terms))
        .select("term", "df")
    )
    blocks = engine.blocks().filter(F.col("term").isin(terms))
    blocks = blocks.withColumn(
        "bmp_eff", block_max_eff(blocks, engine.corpus_stats)
    )

    stats_map = getattr(engine, "_stats_map", None)
    bmax_map = getattr(engine, "_block_max_map", None)
    bmin_map = getattr(engine, "_block_min_map", None)
    bcnt_map = getattr(engine, "_block_cnt_map", None)
    if stats_map is not None and bmax_map is not None:
        # warmed: the maps are pinned vocab-sized at warm() — no
        # per-query stats job at all
        df_map = {t: stats_map[t] for t in terms if t in stats_map}
        term_max = {t: bmax_map[t] for t in terms if t in bmax_map}
        term_min = {
            t: bmin_map[t] for t in terms if t in (bmin_map or {})
        }
        term_cnt = {
            t: bcnt_map[t] for t in terms if t in (bcnt_map or {})
        }
    else:
        # cold: ONE collect — stats and block min/max/count join before
        # hitting the driver
        per_term = (
            blocks.groupBy("term")
            .agg(
                F.max("bmp_eff").alias("mx"),
                F.min("bmp_eff").alias("mn"),
                F.count(F.lit(1)).alias("cnt"),
            )
            .join(stats, "term")
            .collect()
        )
        df_map = {r["term"]: r["df"] for r in per_term}
        term_max = {r["term"]: r["mx"] for r in per_term}
        term_min = {r["term"]: r["mn"] for r in per_term}
        term_cnt = {r["term"]: r["cnt"] for r in per_term}
    present = [t for t in terms if t in df_map and t in term_max]
    if not present:
        return None
    return present, blocks, stats, df_map, term_max, term_min, term_cnt


def _theta_schedule(engine, present, blocks, stats, df_map, n, k, *,
                    seed_blocks, theta_rounds, conjunctive,
                    allowed=None, diag=None):
    """Iteratively tightened pruning thresholds, one per round —
    INCREMENTAL: round r decodes each term's blocks ranked
    (r*seed_blocks, (r+1)*seed_blocks] by block upper bound, exact-scores
    ONLY the doc_ids no earlier round scored, and merges them into a
    driver-held k-best pool (k tuples). θ_r = pooled k-th best score.

    The earlier formulation re-scored the ENTIRE growing pool every
    round (``pool.union(ids).distinct()`` → exact_scores), paying
    O(r·seed_docs) scoring rows in round r; scores are deterministic per
    doc (term-ordered fold), so scoring each doc once and keeping the
    running k-best yields the IDENTICAL θ schedule (equality to the
    exhaustive path stays pytest-gated) at O(new ids) per round — the
    per-round scored-row counts ride out through ``diag``.

    Driver state is bounded: seen-ids ≤ rounds·|terms|·seed_blocks·
    block_size (the same bound the old pool job had), k-best is k
    tuples; each round's collect is ≤ that round's new ids. θ is
    non-decreasing and every θ is a true k-th-score lower bound, so
    correctness never depends on how many rounds run (they only shrink
    the decode set). Stops early when a round stops improving θ.

    ``allowed``: optional (doc_id) metadata-filter frame — seed ids are
    semi-joined against it BEFORE scoring, so θ lower-bounds the
    *filtered* k-th score (an unfiltered θ could overshoot it and prune
    blocks holding filtered top-k docs)."""
    block_ub = (
        F.col("bmp_eff")
        * _idf_expr(df_map, n)
        * F.lit(engine.config.bm25_k1 + 1.0)
    )
    ranked = blocks.withColumn("ub", block_ub).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("term").orderBy(F.desc("ub"), F.asc("first_doc"))
        ),
    )
    thetas: list[float] = []
    seen: set[int] = set()
    best: list[tuple[float, int]] = []  # (score, doc_id), len <= k
    theta = 0.0
    for rnd in range(max(1, theta_rounds)):
        lo, hi = rnd * seed_blocks, (rnd + 1) * seed_blocks
        ids_df = (
            decode_blocks(
                ranked.filter((F.col("rn") > lo) & (F.col("rn") <= hi))
            )
            .select("doc_id")
            .distinct()
        )
        if allowed is not None:
            ids_df = ids_df.join(allowed, "doc_id", "left_semi")
        ids = [r["doc_id"] for r in ids_df.collect()]
        new_ids = sorted(i for i in ids if i not in seen)
        scored_rows = 0
        if new_ids:
            seen.update(new_ids)
            cand = engine.spark.createDataFrame(
                [(i,) for i in new_ids], "doc_id long"
            )
            scores = _exact_scores(engine, present, cand, stats)
            if conjunctive:
                # θ must lower-bound the *conjunctive* k-th score, which
                # can sit below the disjunctive one — filter before
                # merging (non-qualifying docs stay in ``seen``: their
                # score is final, rescoring can't qualify them)
                scores = scores.filter(F.col("n_terms") == len(present))
            rows = scores.collect()
            scored_rows = len(rows)
            best.extend(
                (float(r["score"]), int(r["doc_id"])) for r in rows
            )
            best.sort(key=lambda t: (-t[0], t[1]))
            del best[k:]
        new_theta = best[k - 1][0] if len(best) >= k else 0.0
        thetas.append(max(theta, new_theta))
        if diag is not None:
            diag.append(
                {"decoded_ids": len(ids), "newly_scored_docs": scored_rows}
            )
        if rnd > 0 and new_theta <= theta + 1e-12:
            break
        theta = thetas[-1]
    return thetas


def theta_guard(theta: float) -> float:
    """Floating-point-safe prune threshold, used by EVERY bound-vs-θ
    comparison (here and in the serve tier's numpy twin).

    Block upper bounds are computed in a different multiplication order
    than the exact rescoring fold (``ub = bmp·idf·(k1+1)`` vs
    ``score = idf·(tf·(k1+1))/denom``), so a bound that mathematically
    EQUALS θ can land a couple of ULPs below it. θ is itself an exact
    candidate score whenever the seed pool already holds the true k-th
    best doc — the common case — and if that doc is also its own
    block's maximum with no other-term contribution, a strict fp
    comparison prunes the block holding the k-th best doc (caught by
    tests/test_differential_fuzz.py::test_skewed_corpus_wand_fuzz: a
    2-ULP-low bound at an exact boundary tie). Deflating θ by a
    relative 1e-12 (~4·10³ ULPs — far above the few-ULP association
    error, far below any meaningful score gap) keeps every such block;
    the only cost is also reading blocks whose bound lies within
    θ·1e-12 of θ.

    MARGIN CONTRACT: 1e-12 covers a bound/score expression of up to
    ~2000 float64 ops' relative error (n_ops · ε, ε = 2⁻⁵²≈2.2e-16);
    the current expressions are ≤ ~10-op chains per term with ≤ a few
    hundred summed terms, far inside that budget. If the bound or
    rescoring algebra ever grows a materially longer fp chain (long
    unpaired reductions, iterative refinement), re-derive the margin as
    n_ops·ε instead of editing this constant blind — the differential
    fuzz (test_skewed_corpus_wand_fuzz) is the only other net that
    catches an under-sized guard, and only probabilistically."""
    return theta - abs(theta) * 1e-12


def _min_global_bound(present, df_map, term_min, term_max, n, k1) -> float:
    """The WEAKEST block's global-bound value: ``min_t (idf_t·(k1+1)·
    min_bmp(t) + Σ_{t'≠t} ub_{t'})``. If even this clears the guarded θ,
    the global filter keeps every block — the trigger for the adaptive
    exhaustive fallback (see ``wand_topk``). Pure driver math over the
    per-term maps (no job)."""

    def idf(t: str) -> float:
        d = df_map[t]
        return math.log(1.0 + (n - d + 0.5) / (d + 0.5))

    ub = {t: idf(t) * (k1 + 1.0) * term_max[t] for t in present}
    tot = sum(ub.values())
    return min(
        idf(t) * (k1 + 1.0) * term_min[t] + (tot - ub[t]) for t in present
    )


def _prune_expr(present, df_map, term_max, n, k1, theta):
    """Literal block-survival filter for a given θ: a block of term t
    survives iff its own best-possible contribution plus every other
    term's global upper bound still reaches θ (fp-guarded, see
    :func:`theta_guard`)."""
    theta = theta_guard(theta)

    def idf(t: str) -> float:
        d = df_map[t]
        return math.log(1.0 + (n - d + 0.5) / (d + 0.5))

    ub = {t: idf(t) * (k1 + 1.0) * term_max[t] for t in present}
    sum_other = {t: sum(v for u, v in ub.items() if u != t) for t in present}
    expr = None
    for t in present:
        c = (theta - sum_other[t]) / (idf(t) * (k1 + 1.0))
        cond = (F.col("term") == t) & (F.col("bmp_eff") >= F.lit(c))
        expr = cond if expr is None else (expr | cond)
    return expr


# doc-id grid for the range-aware bound: per-(term, bucket) maxima stay
# ≤ |query terms| × WAND_RANGE_GRID rows REGARDLESS of corpus size, so
# both intermediate tables below broadcast at any scale
WAND_RANGE_GRID = 4096


def _range_refine(blocks, survivors, present, df_map, n, k1, theta):
    """Range-aware (true Block-Max WAND) refinement of the global-bound
    survivor set: instead of charging every other query term its GLOBAL
    maximum, charge it the maximum over blocks that actually overlap the
    candidate block's doc-id range — evaluated on a fixed ≤4096-bucket
    grid so the per-bucket maxima tables are size-bounded constants.

    Correctness: score(d) = Σ_t c_t(d) over the query terms t holding
    d, and every doc lies in exactly one bucket g. Take a doc d with
    score(d) ≥ θ and any block B of a term t* holding d. B covers g and
    ub_own(B) ≥ c_{t*}(d). For every other term t' holding d, the
    t'-block containing d also covers g, so
    bucketmax[t', g] ≥ its ub ≥ c_{t'}(d); terms not holding d add
    c = 0 ≤ bucketmax. Hence
    ub_own(B) + Σ_{t'≠t*} bucketmax[t', g] ≥ score(d) ≥ θ and B survives
    ``best = max_g (ub_own + sum_other(g)) ≥ θ``: every block holding a
    doc that can reach the top k is decoded. The per-bucket maxima
    MUST be computed over ALL blocks of the query terms (not just global
    survivors): a globally-pruned t'-block can still hold d's t'
    posting. Composing with the global filter stays lossless because
    both filters independently keep B.

    Cost: one explode (coverage factor ≈ 1-2 for range-laid head-term
    blocks, ≤ grid for a rare term spanning the space), two broadcast
    joins, one groupBy over block metadata — no posting is decoded.
    """
    theta = theta_guard(theta)
    span = max(1, int(math.ceil(n / WAND_RANGE_GRID)))
    ub_col = (
        F.col("bmp_eff") * _idf_expr(df_map, n) * F.lit(k1 + 1.0)
    )
    # clamp to the top bucket: doc ids can sit above n (sparse ids after
    # deletes without compaction, or stale corpus_stats), which would
    # otherwise push floor(doc/span) past the grid and break the
    # "≤ WAND_RANGE_GRID buckets, always broadcastable" size claim.
    # Clamping merges the overflow into bucket GRID-1 — bounds stay
    # valid (a bucket max over MORE blocks is never smaller), and both
    # ends clamp so the sequence stays lo ≤ hi
    top = F.lit(WAND_RANGE_GRID - 1)
    buckets = F.explode(
        F.sequence(
            F.least(F.floor(F.col("first_doc") / span), top),
            F.least(F.floor(F.col("max_doc") / span), top),
        )
    ).alias("g")
    cov_all = blocks.select("term", ub_col.alias("ub"), buckets)
    bmax = cov_all.groupBy("term", "g").agg(F.max("ub").alias("mx"))
    tot = bmax.groupBy("g").agg(F.sum("mx").alias("tot"))
    keep = (
        survivors.select("term", "first_doc", "max_doc", ub_col.alias("ub"),
                         buckets)
        # own-term bucket row always exists (this block covers g), so the
        # inner join drops nothing; sum over OTHER terms = tot - own max
        .join(F.broadcast(bmax), ["term", "g"])
        .join(F.broadcast(tot), "g")
        .groupBy("term", "first_doc", "max_doc")
        .agg(F.max(F.col("ub") + F.col("tot") - F.col("mx")).alias("best"))
        .filter(F.col("best") >= F.lit(float(theta)))
        .select("term", "first_doc", "max_doc")
    )
    # (term, first_doc, max_doc) is a block key: segments hold disjoint
    # dense doc-id ranges (docids.py), so no two blocks of a term share a
    # range. Plain join (AQE picks the strategy; keep is block metadata)
    return survivors.join(keep, ["term", "first_doc", "max_doc"])


def wand_topk(engine, text: str, k: int = 10, seed_blocks: int = 2,
              conjunctive: bool = False, theta_rounds: int = 2,
              range_aware: bool = True, allowed=None) -> DataFrame:
    """Block-max-pruned BM25 top-k. Returns (doc_id, score, n_terms)
    ordered (score desc, doc_id asc) — rank- and score-identical to
    ``bm25.bm25_topk`` (tested).

    ``allowed``: optional (doc_id) frame of metadata-eligible docs (the
    ``where=`` of ``SearchEngine.search_bm25``). θ is seeded over
    filtered docs only (see ``_theta_schedule``) and decoded candidates
    are semi-joined against it before exact scoring, so the result is
    the true filtered top-k; block pruning stays lossless because block
    bounds upper-bound every doc, filtered or not.

    ``range_aware`` (default on) applies the true Block-Max WAND bound
    (``_range_refine``) after the free global-bound literal filter: on
    multi-term queries the global bound alone rarely prunes (every other
    term is charged its corpus-wide maximum — with ≥3 comparable terms
    the Σ-other slack exceeds any realistic θ), while the range-aware
    bound charges only blocks that overlap the candidate block's doc-id
    range. Single-term queries skip it (the two bounds coincide).

    ``theta_rounds`` > 1 iteratively tightens θ before the final prune
    (see ``_theta_schedule``): each extra round costs one bounded
    scoring job and strictly shrinks the surviving-block set — worth it
    once corpora are big enough that decode dominates (the pruned
    fraction is reported per-round by ``wand_prune_stats`` in the
    bench)."""
    spark = engine.spark
    empty = "doc_id long, score double, n_terms int"
    prep = _prepare(engine, text)
    if prep is None:
        return spark.createDataFrame([], empty)
    present, blocks, stats, df_map, term_max, term_min, term_cnt = prep
    k1 = engine.config.bm25_k1
    n = float(engine.corpus_stats["n_docs"])

    thetas = _theta_schedule(
        engine, present, blocks, stats, df_map, n, k,
        seed_blocks=seed_blocks, theta_rounds=theta_rounds,
        conjunctive=conjunctive, allowed=allowed,
    )
    theta = thetas[-1]

    # -- adaptive exhaustive fallback (serving twin: serving/local.py) ----
    # When θ cannot beat ANY block bound, the pruning machinery would
    # decode every block and rescore everything — strictly more work
    # than the exhaustive plan over the same postings (results identical
    # by the pytest-gated equality). θ = 0 (seed couldn't fill k) can
    # never prune; otherwise the check is free driver math against the
    # weakest global bound, and only when THAT keeps everything do we
    # pay one metadata-only count to ask whether the range-aware bound
    # still prunes (it usually carries multi-term pruning).
    # a partially warmed engine may lack the per-term min/count maps:
    # then the check cannot run and WAND prunes as it would without it
    fallback = theta <= 0.0
    if not fallback and all(
        t in term_min and t in term_cnt for t in present
    ) and _min_global_bound(
        present, df_map, term_min, term_max, n, k1
    ) >= theta_guard(theta):
        if not range_aware or len(present) == 1:
            fallback = True
        else:
            total = sum(term_cnt[t] for t in present)
            surv_cnt = _range_refine(
                blocks, blocks, present, df_map, n, k1, theta
            ).count()
            fallback = surv_cnt >= total
    if fallback:
        from .bm25 import bm25_topk

        return bm25_topk(
            engine, text, k=k, conjunctive=conjunctive, allowed=allowed
        )

    # -- prune (pure filter, literal thresholds), decode, exact score ------
    survivors = blocks.filter(
        _prune_expr(present, df_map, term_max, n, k1, theta)
    )
    if range_aware and len(present) > 1 and theta > 0.0:
        survivors = _range_refine(
            blocks, survivors, present, df_map, n, k1, theta
        )
    cand = decode_blocks(survivors).select("doc_id").distinct()
    if allowed is not None:
        cand = cand.join(allowed, "doc_id", "left_semi")
    scored = _exact_scores(engine, present, cand, stats)
    if conjunctive:
        scored = scored.filter(F.col("n_terms") == len(present))
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(
        min(k, LIMIT_MAX)
    )


def wand_prune_stats(engine, text: str, k: int = 10, seed_blocks: int = 2,
                     conjunctive: bool = False,
                     theta_rounds: int = 2,
                     range_aware: bool = True) -> dict:
    """Bench/diagnostic helper: block counts and pruned fraction per θ
    round for one query — evidence that iterative tightening prunes
    MORE blocks at equal (tested-identical) results, and that the
    range-aware bound prunes where the global bound cannot
    (``global_pruned_fraction`` rides along for comparison). Per-round
    ``newly_scored_docs`` evidences the incremental θ formulation
    (round r scores only its new ids, not the whole pool).

    The term-filtered blocks scan is re-read by the θ schedule plus two
    counts per round — persist it for the helper's lifetime so the
    diagnostic doesn't pay the scan 2·rounds+1 times."""
    prep = _prepare(engine, text)
    if prep is None:
        return {"n_blocks": 0, "rounds": []}
    present, blocks, stats, df_map, term_max, term_min, term_cnt = prep
    blocks = blocks.persist()
    k1 = engine.config.bm25_k1
    n = float(engine.corpus_stats["n_docs"])
    diag: list[dict] = []
    thetas = _theta_schedule(
        engine, present, blocks, stats, df_map, n, k,
        seed_blocks=seed_blocks, theta_rounds=theta_rounds,
        conjunctive=conjunctive, diag=diag,
    )
    total = blocks.count()
    rounds = []
    for i, th in enumerate(thetas):
        glob = blocks.filter(
            _prune_expr(present, df_map, term_max, n, k1, th)
        )
        surv_g = glob.count()
        if range_aware and len(present) > 1 and th > 0.0:
            surv = _range_refine(
                blocks, glob, present, df_map, n, k1, th
            ).count()
        else:
            surv = surv_g
        rounds.append(
            {
                "round": i,
                "theta": round(th, 6),
                "surviving_blocks": surv,
                "pruned_fraction": round(1.0 - surv / max(1, total), 4),
                "global_surviving_blocks": surv_g,
                "global_pruned_fraction": round(
                    1.0 - surv_g / max(1, total), 4
                ),
                **(diag[i] if i < len(diag) else {}),
            }
        )
    blocks.unpersist()
    # mirrors wand_topk's adaptive check: True means a live query of this
    # shape would skip the machinery and run the exhaustive plan
    would_fallback = (
        not rounds
        or rounds[-1]["theta"] <= 0.0
        or rounds[-1]["surviving_blocks"] >= total
    )
    return {
        "n_blocks": total,
        "terms": len(present),
        "rounds": rounds,
        "would_fallback": would_fallback,
    }


def _idf_expr(df_map: dict, n: float):
    """Literal when/otherwise chain mapping term -> idf (few query terms)."""
    expr = F.lit(0.0)
    for t, d in df_map.items():
        expr = F.when(
            F.col("term") == t,
            F.lit(math.log(1.0 + (n - d + 0.5) / (d + 0.5))),
        ).otherwise(expr)
    return expr
