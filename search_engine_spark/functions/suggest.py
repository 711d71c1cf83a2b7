"""SymSpell deletion-neighborhood helpers, shared by the corpus-level
spell-correction operator (operators/corpus_queries.q_symspell_suggest)
and the engine's did-you-mean surface (SearchEngine.suggest).

The trick (Garbe's SymSpell): if levenshtein(a, b) <= d then deleting
<= d characters from each side reaches a common string (drop a's
substituted+deleted characters and b's substituted+inserted ones), so
depth-d deletion neighborhoods intersect and candidate generation is an
EQUI-join on the variant string instead of an all-pairs levenshtein.
A final levenshtein() verification on the candidates makes the result
exactly the brute-force one.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# all strings reachable by deleting one character: positions 1..len, each
# producing prefix[1..i-1] ++ suffix[i+1..]
_D1_TMPL = (
    "transform(sequence(1, length({c})), i -> "
    "concat(substring({c}, 1, i-1), substring({c}, i+1, length({c}))))"
)


def deletion_variants(col_name: str) -> Column:
    """Column expr: the deletion neighborhood of depth 2 of a string
    column — the string itself, every 1-delete, every 2-delete —
    deduplicated. |variants| = 1 + n + n(n-1)/2 for length n (word
    terms, so a few hundred at most). Safe for n >= 1 inputs (vocabulary
    terms are length >= 2, so the inner sequence() never sees an empty
    string)."""
    d1 = _D1_TMPL.format(c=col_name)
    d2 = (
        f"flatten(transform({d1}, t -> transform(sequence(1, length(t)), "
        "j -> concat(substring(t, 1, j-1), substring(t, j+1, length(t))))))"
    )
    return F.expr(f"array_distinct(concat(array({col_name}), {d1}, {d2}))")
