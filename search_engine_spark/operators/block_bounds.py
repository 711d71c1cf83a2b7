"""Block-max WAND bound algebra — numpy only, shared by both WANDs.

Both Block-Max WAND paths (Ding & Suel, SIGIR'11) plan from the same few
numbers per posting block: ``(term, first_doc, max_doc,
block_max_partial[, bake_avgdl])``. A query term's metadata is
df / block_size rows, so the planner runs on one process — the serve
tier's reader (``serving/local.py``) and the Spark driver
(``operators/wand.py``) alike — and only the decode of the blocks it keeps
is engine-specific:

1. **block bound** ``ub = idf_t · (k1+1) · bmp_eff``, where ``bmp_eff`` is
   the drift-corrected block max (:func:`drift_corrected`);
2. **θ seed**: each term's :data:`WAND_SEED_BLOCKS` blocks of highest
   bound (ties on ``first_doc``) are decoded by the caller and folded per
   doc (:meth:`WandPlanner.fold`); θ is the k-th best PARTIAL sum over the
   live (and allowed) seed postings. Partial ≤ total pointwise, so θ
   lower-bounds the k-th best score; under ``conjunctive`` only docs
   holding every query term in the seed may set it (their partial is
   their total);
3. **global bound**: a block of term t survives iff
   ``ub + Σ_{t'≠t} max_ub(t') ≥ θ``;
4. **range bound** (:meth:`WandPlanner.survivors`): charge every other
   term only its max over blocks overlapping this block's doc-id range
   on a :data:`WAND_RANGE_GRID`-bucket grid (span from the observed max
   doc id). Never looser than the global bound;
5. **fallback**: when every block survives, pruning would decode
   everything — the caller answers exhaustively instead.

Every bound-vs-θ comparison goes through :func:`theta_guard`.
"""

from __future__ import annotations

import math
from typing import Optional

import numpy as np

# blocks per term decoded to seed θ
WAND_SEED_BLOCKS = 4

# doc-id grid of the range bound: the per-(term, bucket) maxima are a
# |query terms| × WAND_RANGE_GRID array regardless of corpus size
WAND_RANGE_GRID = 4096


def theta_guard(theta: float) -> float:
    """Floating-point-safe prune threshold, used by EVERY bound-vs-θ
    comparison.

    Block upper bounds are computed in a different multiplication order
    than the exact rescoring fold (``ub = idf·(k1+1)·bmp`` vs
    ``score = idf·(tf·(k1+1))/denom``), so a bound that mathematically
    EQUALS θ can land a couple of ULPs below it. θ is itself an exact
    score whenever the seed already holds the true k-th best doc — the
    common case — and if that doc is also its own block's maximum with
    no other-term contribution, a strict fp comparison prunes the block
    holding the k-th best doc (caught by
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


def idf(n_docs: float, df: int) -> float:
    """Lucene-style BM25 idf, the same expression as both exact scorers."""
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def drift_corrected(
    bmp: np.ndarray, bake: Optional[np.ndarray], avgdl_now: float
) -> np.ndarray:
    """Block max ``block_max_partial`` scaled by ``max(1, avgdl_now /
    bake_avgdl)``.

    The baked partial ``tf/(tf+k1(1-b+b·dl/avgdl_bake))`` increases with
    avgdl, so whenever the scorer's avgdl exceeds the one the block was
    baked with (an appended segment is baked at append time, and
    ``refresh_stats`` moves the corpus stats without re-cutting blocks;
    compaction re-bakes them), the raw bound UNDER-estimates true
    contributions and pruning would drop top-k docs (gated by
    tests/test_wand.py::test_wand_lossless_under_avgdl_drift). The factor
    restores validity for any drift direction: for avgdl_now ≥ bake,
    D_now ≥ (bake/avgdl_now)·D_bake since (1-r)(tf+k1(1-b)) ≥ 0, hence
    f_now ≤ f_bake·avgdl_now/bake; for avgdl_now ≤ bake, f_now ≤ f_bake
    directly. At zero drift the factor is exactly 1.0.

    ``bake`` is None for an index without the column. A block whose bake
    is unknown (NaN: a pre-``bake_avgdl`` segment in a mixed-format
    index) or zero keeps its uncorrected bound — a NaN factor would fail
    every ``>=`` and prune the block even at zero drift."""
    bmp = np.asarray(bmp, dtype="float64")
    if bake is None:
        return bmp
    with np.errstate(invalid="ignore", divide="ignore"):
        factor = (float(avgdl_now) or 1.0) / np.asarray(bake, dtype="float64")
    return bmp * np.where(np.isfinite(factor), np.maximum(1.0, factor), 1.0)


def empty_stats() -> dict:
    """The plan statistics of a query that reads no block."""
    return {
        "terms": 0, "blocks_total": 0, "surviving_blocks": 0,
        "global_surviving_blocks": 0, "blocks_read": 0,
        "candidates": 0, "theta": 0.0, "fallback": None,
    }


def _expand(blocks: np.ndarray, g1: np.ndarray, g2: np.ndarray):
    """One row per (block, bucket) of each block's bucket range
    ``g1[b]..g2[b]``: the block index, the bucket, and where each
    block's run starts — a ``np.repeat`` expansion, no per-block loop."""
    n = g2[blocks] - g1[blocks] + 1
    start = np.cumsum(n) - n
    blk = np.repeat(blocks, n)
    step = np.arange(len(blk)) - np.repeat(start, n)
    return blk, g1[blk] + step, start


class WandPlanner:
    """One query's block-max plan over its terms' block metadata.

    ``terms``: the query's distinct terms, sorted; ``idf``: term → idf for
    the terms with statistics; ``m_terms``/``m_first``/``m_max``/``m_bmp``:
    one entry per block of those terms, ``m_bmp`` drift-corrected. The
    caller decodes :meth:`seed_keys`, hands the live postings to
    :meth:`plan`, then decodes :meth:`surviving_keys` (or answers
    exhaustively when :attr:`fallback`)."""

    def __init__(self, terms, idf, k1, b, avgdl, m_terms, m_first, m_max,
                 m_bmp):
        self.terms = list(terms)
        self.idf = idf
        self.k1, self.b, self.avgdl = k1, b, avgdl
        self.m_terms = list(m_terms)
        self.m_first = np.asarray(m_first, dtype="int64")
        self.m_max = np.asarray(m_max, dtype="int64")
        self.scorable = sorted({*self.m_terms})
        # each block's term as its index in ``scorable``
        code = {t: j for j, t in enumerate(self.scorable)}
        self.m_tid = np.fromiter(
            (code[t] for t in self.m_terms), dtype="int64",
            count=len(self.m_terms),
        )
        self.m_ub = np.array(
            [idf[t] for t in self.scorable], dtype="float64"
        )[self.m_tid] * (k1 + 1.0) * np.asarray(m_bmp, dtype="float64")
        self.seed = np.zeros(len(self.m_ub), dtype=bool)
        self.theta = 0.0
        self.surv = np.ones(len(self.m_ub), dtype=bool)
        self.global_surv = len(self.m_ub)

    def empty(self, conjunctive: bool) -> bool:
        """No block to read, or a conjunctive query with a term the index
        does not hold (no doc can then match every term)."""
        return len(self.m_ub) == 0 or (
            conjunctive and len(self.scorable) < len(self.terms)
        )

    def seed_keys(self) -> set:
        """``(term, first_doc)`` of each term's WAND_SEED_BLOCKS blocks of
        highest bound, ties on ``first_doc``."""
        taken: dict[str, int] = {}
        for i in np.lexsort((self.m_first, -self.m_ub)):
            t = self.m_terms[i]
            if taken.get(t, 0) < WAND_SEED_BLOCKS:
                self.seed[i] = True
                taken[t] = taken.get(t, 0) + 1
        return self._keys(self.seed)

    def fold(self, arrays: dict, restrict: Optional[np.ndarray] = None):
        """Per-doc (ids, score, term-count) over ``term -> (ids, tf, dl)``
        arrays, summed in sorted-term order — bit-compatible with the
        serve tier's exhaustive fold. ``restrict``: sorted ids to score
        (None = every decoded doc)."""
        k1, b, avgdl = self.k1, self.b, self.avgdl
        if restrict is None:
            restrict = np.unique(np.concatenate(
                [a[0] for a in arrays.values()]
            )) if arrays else np.empty(0, dtype="int64")
        acc = np.zeros(len(restrict))
        cnt = np.zeros(len(restrict), dtype="int64")
        for t in sorted(arrays):
            ids, tf, dl = arrays[t]
            sc = self.idf[t] * tf * (k1 + 1.0) / (
                tf + k1 * (1.0 - b + b * dl / avgdl)
            )
            pos = np.searchsorted(restrict, ids)
            np.clip(pos, 0, max(len(restrict) - 1, 0), out=pos)
            hit = (
                restrict[pos] == ids
                if len(restrict) else np.zeros(len(ids), dtype=bool)
            )
            np.add.at(acc, pos[hit], sc[hit])
            np.add.at(cnt, pos[hit], 1)
        return restrict, acc, cnt

    def plan(self, seed_arrays: dict, k: int, conjunctive: bool) -> None:
        """θ from the live seed postings, then the surviving blocks. With
        ``k <= 0`` no k-th score exists: θ stays 0 and every block
        survives."""
        self.theta = 0.0
        if seed_arrays and k > 0:
            _, acc, cnt = self.fold(seed_arrays)
            elig = acc[cnt == len(self.terms)] if conjunctive else acc
            if len(elig) >= k:
                self.theta = float(np.partition(elig, -k)[-k])
        self.surv, self.global_surv = self.survivors(self.theta)

    def survivors(self, theta: float) -> tuple[np.ndarray, int]:
        """Keep-mask of the blocks that may hold a doc scoring ≥ θ, and
        the global bound's survivor count.

        Global bound: the block of d for t* = argmax c_t(d) has
        ub ≥ c_{t*}(d), and Σ-other covers the rest, so its bound ≥
        score(d) ≥ θ.

        Range bound, for multi-term queries: score(d) = Σ_t c_t(d) over
        the query terms holding d, and d lies in exactly one bucket g.
        For any block B of a term t* holding d, B covers g and
        ub(B) ≥ c_{t*}(d); for every other term t' holding d, its block
        holding d also covers g, so bucketmax[t', g] ≥ c_{t'}(d) (terms
        not holding d add 0 ≤ bucketmax). Hence
        ub(B) + Σ_{t'≠t*} bucketmax[t', g] ≥ score(d) ≥ θ and B
        survives. The maxima run over ALL blocks of the query terms, not
        just the global survivors: a globally pruned t'-block can still
        hold d's t' posting. Doc ids above the grid clamp into the top
        bucket — a max over more blocks is never smaller.

        No Python loop runs per block: term codes (:attr:`m_tid`) index
        the per-term maxima, each block's bucket range is expanded with
        ``np.repeat`` (:func:`_expand`) and folded into the (term,
        bucket) maxima with ``np.maximum.at``, and a multi-bucket
        block's best other-term charge is one ``np.maximum.reduceat``
        over its run. Work is O(blocks + Σ buckets spanned + |terms| ·
        grid)."""
        m_tid, m_first, m_max, m_ub = (
            self.m_tid, self.m_first, self.m_max, self.m_ub
        )
        if theta <= 0.0:
            return np.ones(len(m_ub), dtype=bool), len(m_ub)
        theta_cmp = theta_guard(theta)
        g_ub = np.zeros(len(self.scorable))
        np.fmax.at(g_ub, m_tid, m_ub)
        sum_ub = sum(g_ub.tolist())  # left to right, in scorable order
        surv = m_ub + (sum_ub - g_ub[m_tid]) >= theta_cmp
        global_surv = int(surv.sum())
        if len(self.scorable) < 2 or not surv.any():
            return surv, global_surv

        grid = WAND_RANGE_GRID
        span = max(1, int(int(m_max.max()) // grid + 1))
        g1 = np.minimum(m_first // span, grid - 1).astype("int64")
        g2 = np.minimum(m_max // span, grid - 1).astype("int64")
        # B[t·grid + g]: max bound of term t's blocks covering bucket g
        # (flat, so np.maximum.at takes its one-index fast path)
        B = np.zeros(len(self.scorable) * grid)
        row = m_tid * grid
        blk, bucket, _ = _expand(np.arange(len(m_ub)), g1, g2)
        np.maximum.at(B, row[blk] + bucket, m_ub[blk])
        tot = B.reshape(len(self.scorable), grid).sum(axis=0)
        keep = np.ones(len(m_ub), dtype=bool)
        single = g1 == g2
        check = surv & single
        keep[check] = (
            m_ub[check] + tot[g1[check]] - B[row[check] + g1[check]]
        ) >= theta_cmp
        multi = np.flatnonzero(surv & ~single)
        if len(multi):
            blk, bucket, start = _expand(multi, g1, g2)
            other = tot[bucket] - B[row[blk] + bucket]
            keep[multi] = (
                m_ub[multi] + np.maximum.reduceat(other, start) >= theta_cmp
            )
        return surv & keep, global_surv

    @property
    def fallback(self) -> bool:
        """Every block survives: pruning would read them all."""
        return bool(self.surv.all())

    def _keys(self, mask: np.ndarray) -> set:
        return {
            (self.m_terms[i], int(self.m_first[i]))
            for i in np.flatnonzero(mask)
        }

    def surviving_keys(self) -> set:
        return self._keys(self.surv)

    def stats(self) -> dict:
        """The plan's numbers, in the shape of
        ``LocalIndexReader.last_wand_stats``."""
        total = len(self.m_ub)
        read = self.seed if self.fallback else self.seed | self.surv
        return {
            **empty_stats(),
            "terms": len(self.scorable),
            "blocks_total": total,
            "surviving_blocks": int(self.surv.sum()),
            "global_surviving_blocks": self.global_surv,
            "blocks_read": int(read.sum()),
            "theta": self.theta,
            "fallback": "exhaustive" if self.fallback else None,
        }
