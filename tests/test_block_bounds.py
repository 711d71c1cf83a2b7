"""The block-max bound algebra both WANDs plan with
(operators/block_bounds.py), on hand-built block metadata — no Spark,
no index."""

import math
import random

import numpy as np

from search_engine_spark.operators.block_bounds import (
    WAND_RANGE_GRID,
    WandPlanner,
    drift_corrected,
    theta_guard,
)

K1, B, AVGDL = 1.2, 0.75, 10.0


def planner(terms, blocks, idf=None):
    """``blocks``: (term, first_doc, max_doc, block_max_partial) rows."""
    idf = idf or {t: 1.0 for t in terms}
    m_terms, first, mx, bmp = zip(*blocks)
    return WandPlanner(sorted(terms), idf, K1, B, AVGDL, m_terms, first, mx,
                       bmp)


def test_range_bound_prunes_where_global_cannot():
    """Every block's global bound reaches θ (the other term's corpus-wide
    max rescues it), but only a0 and b0 share a doc range: the range
    bound charges a1 and b1 nothing for the other term and prunes them."""
    u = K1 + 1.0  # ub = idf · (k1+1) · bmp, idf = 1
    p = planner(["a", "b"], [
        ("a", 0, 99, 1.0 / u), ("a", 1000, 1099, 1.0 / u),
        ("b", 0, 99, 1.0 / u), ("b", 5000, 5099, 0.6 / u),
    ])
    surv, global_surv = p.survivors(1.5)
    assert global_surv == 4
    assert surv.tolist() == [True, False, True, False]
    # a single-term query has no other term to charge: the bounds agree
    single = planner(["a"], [("a", 0, 99, 1.0 / u),
                             ("a", 1000, 1099, 0.5 / u)])
    s, g = single.survivors(0.9)
    assert s.tolist() == [True, False] and g == 1
    # θ = 0 (the seed could not fill k) keeps everything: the fallback
    p.plan({}, k=10, conjunctive=False)
    assert p.theta == 0.0 and p.fallback


def _score(tf, dl):
    return tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / AVGDL))


def test_sparse_doc_ids_above_n_docs_stay_lossless():
    """Doc ids far above any n_docs (sparse ids after deletes) and far
    beyond the grid: the span comes from the observed max id, so every
    block holding a doc that scores ≥ θ survives."""
    rng = random.Random(7)
    block = 4
    postings = {}  # term -> sorted [(doc_id, tf, dl)]
    # a everywhere, b in the first half, c clustered in the first tenth
    for t, p_hold, span in (("a", 0.9, 400), ("b", 0.5, 200),
                            ("c", 0.5, 40)):
        postings[t] = [
            (10**9 + 7919 * d, rng.randint(1, 5), rng.randint(3, 20))
            for d in range(span) if rng.random() < p_hold
        ]

    def as_arrays(post):
        ids, tf, dl = zip(*post)
        return np.array(ids), np.array(tf, float), np.array(dl, float)

    rows, chunks = [], {}
    for t, post in postings.items():
        for i in range(0, len(post), block):
            chunk = post[i:i + block]
            chunks[(t, chunk[0][0])] = chunk
            rows.append((t, chunk[0][0], chunk[-1][0],
                         max(_score(tf, dl) / (K1 + 1.0)
                             for _, tf, dl in chunk)))
    p = planner(list(postings), rows, {"a": 0.2, "b": 1.5, "c": 3.0})
    assert int(p.m_max.max()) > WAND_RANGE_GRID * 1000

    seed: dict = {}
    for t, f in p.seed_keys():
        seed.setdefault(t, []).extend(chunks[(t, f)])
    seed_arrays = {t: as_arrays(sorted(post)) for t, post in seed.items()}
    p.plan(seed_arrays, k=5, conjunctive=False)
    assert p.theta > 0.0 and not p.fallback

    ids, acc, _ = p.fold(
        {t: as_arrays(post) for t, post in postings.items()})
    top = set(ids[acc >= theta_guard(p.theta)].tolist())
    assert len(top) >= 5
    for i, (t, f, mx) in enumerate(zip(p.m_terms, p.m_first, p.m_max)):
        holds = {d for d, _, _ in postings[t] if f <= d <= mx}
        if holds & top:
            assert p.surv[i], (t, f)
    assert not p.surv.all()  # and the bounds still prune


def test_nan_bake_avgdl_keeps_the_uncorrected_bound():
    bmp = np.array([0.5, 0.5, 0.5, 0.5])
    bake = np.array([math.nan, 2.0, 8.0, 0.0])
    got = drift_corrected(bmp, bake, 4.0)
    # unknown bake: uncorrected; avgdl grew 2x: doubled; avgdl shrank:
    # never below the baked bound; zero bake: uncorrected
    assert got.tolist() == [0.5, 1.0, 0.5, 0.5]
    assert drift_corrected(bmp, None, 4.0).tolist() == bmp.tolist()


def _reference_survivors(p, theta):
    """``survivors`` from its docstring, one block at a time: global
    bound ``ub + Σ_{t'≠t} max_ub(t') ≥ θ``; for two or more terms also
    ``ub + max_{g ∈ block's buckets} Σ_{t'≠t} bucketmax[t', g] ≥ θ``,
    the grid spanning the observed max doc id."""
    theta_cmp = theta_guard(theta)
    ub = p.m_ub.tolist()
    terms = p.m_terms
    n = len(ub)
    if theta <= 0.0:
        return [True] * n, n
    g_ub = {t: max(u for u, tt in zip(ub, terms) if tt == t)
            for t in p.scorable}
    keep = [
        ub[i] + sum(g_ub[t] for t in p.scorable if t != terms[i])
        >= theta_cmp
        for i in range(n)
    ]
    global_surv = sum(keep)
    if len(p.scorable) < 2:
        return keep, global_surv
    grid = WAND_RANGE_GRID
    span = max(1, int(p.m_max.max()) // grid + 1)

    def buckets(i):
        lo = min(int(p.m_first[i]) // span, grid - 1)
        return range(lo, min(int(p.m_max[i]) // span, grid - 1) + 1)

    bucketmax: dict = {}
    for i in range(n):
        for g in buckets(i):
            key = (terms[i], g)
            bucketmax[key] = max(bucketmax.get(key, 0.0), ub[i])
    for i in range(n):
        if keep[i]:
            charge = max(
                sum(bucketmax.get((t, g), 0.0)
                    for t in p.scorable if t != terms[i])
                for g in buckets(i)
            )
            keep[i] = ub[i] + charge >= theta_cmp
    return keep, global_surv


def test_range_bound_matches_per_block_reference():
    """The vectorised range bound against the per-block reference above,
    on random metadata mixing single-bucket blocks, blocks spanning many
    buckets, and doc ids far above the grid. Bounds are dyadic (idf 1 or
    1/2, k1 + 1 = 2, block maxima in 1/64 steps) so every sum is exact
    and the two must agree bit for bit."""
    rng = random.Random(11)
    pruned_by_range = 0
    for trial in range(40):
        terms = ["a", "b", "c", "d"][:rng.randint(1, 4)]
        top = rng.choice([3000, 10**6, 10**9])
        blocks = []
        for t in terms:
            for _ in range(rng.randint(1, 30)):
                first = rng.randrange(top)
                width = rng.choice([0, 1, top // 5000, top // 40, top // 3])
                blocks.append((t, first, min(top, first + width),
                               rng.randint(1, 64) / 64))
        rng.shuffle(blocks)
        m_terms, first, mx, bmp = zip(*blocks)
        p = WandPlanner(sorted(terms), {t: rng.choice([1.0, 0.5])
                                        for t in terms},
                        1.0, B, AVGDL, m_terms, first, mx, bmp)
        best = float(p.m_ub.max())
        for theta in (0.0, best / 2, best, best * 1.5, best * 2,
                      best * len(terms)):
            surv, global_surv = p.survivors(theta)
            want, want_global = _reference_survivors(p, theta)
            assert surv.tolist() == want, (trial, theta)
            assert global_surv == want_global, (trial, theta)
            pruned_by_range += global_surv - int(surv.sum())
    assert pruned_by_range > 0  # the range bound did prune somewhere
