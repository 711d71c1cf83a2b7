"""The (k+1)-cut of the driver's ``wand_topk`` entry, without Spark.

``tie_safe_top`` keeps the engine's top k only when the (k+1)-th rounded
score is strictly below the k-th; otherwise it ranks every match, so no
doc outside the engine's answer can tie into the oracle's
``ORDER BY round(score) DESC, doc_id LIMIT k``.
"""

from search_engine_spark.operators.engine_queries import tie_safe_top


def ranking(top, every):
    """A fake ``rank(n)`` that records each ask: ``top`` is the engine's
    best n rows, ``every`` the full match set, both sorted by (rounded
    score desc, doc_id asc)."""
    asked = []

    def rank(n):
        asked.append(n)
        return every if n is None else top[:n]

    return rank, asked


def test_tie_at_the_cut_reasks_for_every_match():
    # docs 4, 9 and 2 round to 2.5; the engine's unrounded ranking put 4
    # and 9 first, but the oracle breaks the rounded tie on doc_id, so
    # doc 2 — outside the engine's top 3 — is the oracle's second row
    top = [(1, 3.0, 2), (4, 2.5, 1), (9, 2.5, 1)]
    every = [(1, 3.0, 2), (2, 2.5, 1), (4, 2.5, 1), (9, 2.5, 1), (5, 1.0, 1)]
    rank, asked = ranking(top, every)
    assert tie_safe_top(rank, 2) == [(1, 3.0, 2), (2, 2.5, 1)]
    assert asked == [3, None]


def test_strict_gap_at_the_cut_is_accepted():
    top = [(1, 3.0, 2), (4, 2.5, 1), (9, 2.499999, 1)]
    rank, asked = ranking(top, None)
    assert tie_safe_top(rank, 2) == top[:2]
    assert asked == [3]


def test_fewer_than_k_plus_one_rows_is_accepted():
    # two matches in all, tied: they are every match, nothing to re-ask
    top = [(1, 3.0, 2), (4, 3.0, 1)]
    rank, asked = ranking(top, None)
    assert tie_safe_top(rank, 2) == top
    assert asked == [3]
    rank, asked = ranking([], None)
    assert tie_safe_top(rank, 10) == []
    assert asked == [11]
