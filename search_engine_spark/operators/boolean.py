"""Extended boolean query surface over the persisted index.

The reference grammar is AND + quoted phrases (engine.ts:105-151). This
adds the two operators every production engine grows next, evaluated
directly on the engine's ``postings`` (decoded from ``blocks``):

- ``-word``  — exclusion (AND NOT)
- ``word*``  — prefix atom, satisfied by ANY indexed term with that prefix

Design points for 100 TB:

- The whole candidate stage is ONE scan + ONE aggregation: required,
  excluded, and prefix atoms all ride a single pushed scan predicate
  (``In(term, ...) OR StringStartsWith(term, ...)`` — both parquet-pushable,
  and the blocks layout is range-partitioned + sorted by term, so a
  prefix is a contiguous slice, not a full scan). Exclusions are a
  conditional count in the same groupBy — no separate anti-join pass; the
  NOT term's posting list costs the same as a positive term's.
- No Python anywhere: this is a filter surface, returned in the
  reference's candidate order (ascending doc_id = rank). Ranked
  retrieval composes on top: ``search_bm25(...)`` for scored results,
  ``search(...)`` for reference-parity scoring of AND/phrase queries.
- Exclusion-only queries return empty by design (negation needs a
  positive atom to scan against — the Lucene rule; a bare NOT would be a
  full-corpus scan).
"""

from __future__ import annotations

from functools import reduce
from operator import or_
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenizer import is_stop_word, tokenize

BOOLEAN_RESULT_SCHEMA = "doc_id long, title string, url string"


def parse_boolean_query(
    text: str, stop_words
) -> tuple[list[str], list[str], list[str], list[str]]:
    """Split on whitespace BEFORE tokenizing so the ``-``/``*`` markers
    survive (the tokenizer strips punctuation); each atom's body is then
    normalized by the engine tokenizer. Returns ``(required, excluded,
    prefixes, excluded_prefixes)`` — ``-word*`` composes both markers
    (exclude ANY term with that prefix). Multi-token atoms: a negated
    atom excludes all its tokens (the last one as a prefix if starred);
    a positive prefix atom's last token is the prefix, earlier tokens
    become required words. Stop words and sub-2-char words are dropped
    from required/excluded — they are never indexed (B4), so excluding
    one is a no-op and requiring one would match nothing."""
    required: list[str] = []
    excluded: list[str] = []
    prefixes: list[str] = []
    excluded_prefixes: list[str] = []
    for atom in text.split():
        neg = atom.startswith("-")
        body = atom[1:] if neg else atom
        star = body.endswith("*")
        if star:
            body = body[:-1]
        words = [w.lower() for w in tokenize(body).words]
        if not words:
            continue
        if neg and star:
            excluded.extend(words[:-1])
            excluded_prefixes.append(words[-1])
        elif neg:
            excluded.extend(words)
        elif star:
            required.extend(words[:-1])
            prefixes.append(words[-1])
        else:
            required.extend(words)

    def indexed(ws: Sequence[str]) -> list[str]:
        return sorted(
            {w for w in ws if len(w) >= 2 and not is_stop_word(w, stop_words)}
        )

    return (
        indexed(required),
        indexed(excluded),
        sorted(set(prefixes)),
        sorted(set(excluded_prefixes)),
    )


def boolean_candidates(
    engine,
    required: Sequence[str],
    excluded: Sequence[str],
    prefixes: Sequence[str],
    excluded_prefixes: Sequence[str] = (),
) -> DataFrame:
    """(doc_id) matching ``AND(required) AND NOT(excluded) AND
    AND(prefixes) AND NOT(excluded_prefixes)`` — one pushed postings
    scan, one aggregation."""
    preds = []
    in_set = list(required) + list(excluded)
    if in_set:
        preds.append(F.col("term").isin(in_set))
    preds.extend(
        F.col("term").startswith(p)
        for p in list(prefixes) + list(excluded_prefixes)
    )
    scan = reduce(or_, preds)
    p = engine.postings.select("doc_id", "term").filter(scan)

    aggs = [
        F.count(F.when(F.col("term").isin(list(required)), 1)).alias("n_req"),
        F.count(F.when(F.col("term").isin(list(excluded)), 1)).alias("n_exc"),
    ]
    for i, pre in enumerate(prefixes):
        aggs.append(
            F.max(
                F.when(F.col("term").startswith(pre), 1).otherwise(0)
            ).alias(f"_pf{i}")
        )
    for i, pre in enumerate(excluded_prefixes):
        aggs.append(
            F.max(
                F.when(F.col("term").startswith(pre), 1).otherwise(0)
            ).alias(f"_xpf{i}")
        )
    agg = p.groupBy("doc_id").agg(*aggs)
    cond = (F.col("n_req") == len(required)) & (F.col("n_exc") == 0)
    for i in range(len(prefixes)):
        cond = cond & (F.col(f"_pf{i}") == 1)
    for i in range(len(excluded_prefixes)):
        cond = cond & (F.col(f"_xpf{i}") == 0)
    return agg.filter(cond).select("doc_id")


def search_boolean(engine, text: str, max_count: int = 100) -> DataFrame:
    """Evaluate an extended boolean query against the index. Returns
    (doc_id, title, url) in ascending doc_id (the reference's candidate
    rank order, engine.ts:391-431), capped like the reference at the
    intersection stage."""
    from .search import INTERSECT_CAP

    required, excluded, prefixes, excluded_prefixes = parse_boolean_query(
        text, engine.config.stop_words
    )
    if not required and not prefixes:
        return engine.spark.createDataFrame([], BOOLEAN_RESULT_SCHEMA)
    cand = (
        boolean_candidates(
            engine, required, excluded, prefixes, excluded_prefixes
        )
        .orderBy("doc_id")
        .limit(INTERSECT_CAP)
    )
    if engine._warmed and getattr(engine, "_docs_proj", None) is not None:
        out = engine._docs_proj.join(cand, "doc_id")
    else:
        # fetch-after-slice: <=100 ids pushed into the docs parquet scan
        ids = [r["doc_id"] for r in cand.collect()]
        if not ids:
            return engine.spark.createDataFrame([], BOOLEAN_RESULT_SCHEMA)
        out = engine.docs.filter(F.col("doc_id").isin(ids))
    return (
        out.select("doc_id", "title", "url")
        .orderBy("doc_id")
        .limit(max_count)
    )
