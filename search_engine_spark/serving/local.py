"""In-process serving tier over a Spark-built index directory — no Spark
job, no JVM, in the query path.

Spark BUILDS and maintains the index (operators/index_build.py, deletes,
compaction, streaming/incremental); this module SERVES it. It exists
because a Spark action pays a ~0.2-0.5 s scheduling floor per query on
any cluster — the right tool for the build and for analytic/batch
retrieval, the wrong tool for a single 4 ms probe. The reference engine
(/root/reference/src/engine.ts + memory-storage.ts) answers from process
memory; the equal-semantics analogue over a Spark-built index is a
serving node that pins its shard of the posting lists and reads
everything else from pruned parquet scans. This class is that node.

100 TB story. The build already lays the tables out for sharded serving:
``blocks`` (the one posting store, delta-coded) and ``term_positions``
are range-partitioned and SORTED on (term, doc_id), ``docs`` on doc_id,
all under plain parquet files on a Hadoop-compatible FS. A serving fleet
therefore shards by term range (each node opens only its term-range's
blocks files — this class accepts any subset of the table's files via
the directory it is pointed at) and fetches documents by doc-id from
row-group-pruned reads against object storage. What a node PINS is its
postings sliver only — (term, doc_id, tf, dl) decoded from its blocks,
a few bytes per posting — never the corpus; document bodies and
positional lists stay on storage behind bounded caches. One node serving
the whole bench-scale index here is the degenerate (single-shard) case
of that fleet, exactly like the reference's single process.

Parity by construction: the query paths reuse the SAME pure-Python
implementations the Spark engine's Arrow stages run —
``functions.tokenizer.tokenize``, ``operators.scoring.score_page``,
``operators.snippets.construct_introduction`` — and BM25 reproduces
``operators.bm25.bm25_topk``'s deterministic fold (per-doc sum in
sorted-term order, Lucene idf, identical expression grouping), so
results are rank-identical to the Spark paths with scores equal to
within 1 ULP (libm log vs JVM Math.log); pytest-gated
in tests/test_serving_local.py against parity search (engine.test.ts
suites), BM25 (disjunctive/conjunctive), tombstoned indexes, and the
unpinned (cold) read path.

Freshness contract matches SearchEngine: a reader is a SNAPSHOT of the
index at open time (the parquet file listing + tombstones it saw);
reopen to advance after a refresh/compaction — the staged snapshot-swap
in compaction keeps directories consistent at every instant.
"""

from __future__ import annotations

import json
import os
from collections import OrderedDict
from typing import Iterable, Optional, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

from ..config import EngineConfig
from ..functions.tokenizer import is_stop_word, tokenize
from ..operators.block_bounds import (
    WandPlanner,
    drift_corrected,
    empty_stats,
    idf,
)
from ..operators.index_build import decode_block_arrays
from ..operators.scoring import score_page
from ..operators.search import INTERSECT_CAP, _quote_pairs
from ..operators.snippets import construct_introduction

RESULT_COLUMNS = ["doc_id", "score", "title", "introduction", "url"]
BM25_COLUMNS = ["doc_id", "score", "n_terms"]
BM25_RESULT_COLUMNS = [
    "doc_id", "score", "n_terms", "title", "introduction", "url"
]

# positional postings kept per term in the phrase LRU — bounds phrase
# serving memory to O(cache_terms × positions of one term's shard)
POSITIONS_CACHE_TERMS = 1024

# WAND caches: block METADATA per term (first_doc/max_doc/bmax — a few
# numbers per block, df/block_size rows per term) and DECODED block
# postings per (term, first_doc) key (≤ block_size postings each, so the
# cache is ≤ BLOCK_CACHE_BLOCKS × block_size × 24 B ≈ tens of MB) — a
# serving node's working set, never the index
BLOCK_META_CACHE_TERMS = 512
BLOCK_CACHE_BLOCKS = 4096

# query shapes (terms, conjunctive, k) proven unprunable and routed to
# the exhaustive scorer — a few dozen bytes per entry
WAND_PLAN_CACHE_SHAPES = 4096

# dense per-doc score accumulator cap for BM25: below this doc-id span a
# float64 scatter-add array (8 bytes/doc) beats sorting the concatenated
# posting ids; above it (or with sparse ids beyond 4× n_docs) the
# sort-based merge path runs — at fleet scale a shard never owns a dense
# doc space, so the merge path is the 100 TB shape
DENSE_SCORE_MAX_DOCS = 50_000_000


def snapshot_token(index_dir: str) -> tuple:
    """Cheap fingerprint of an index directory's state. Every mutation
    path touches at least one constituent: ``build_index`` /
    ``append_batch`` append manifest entries, ``refresh_stats`` rewrites
    corpus_stats.json, ``delete_docs`` adds a tombstones part file, and
    compaction's staged snapshot-swap rewrites the manifest. A handful
    of stat/listdir calls — cheap enough to poll per serving batch
    (LocalIndexReader.is_stale and serve_daemon --refresh auto do)."""
    parts: list = []
    for name in ("manifest.jsonl", "corpus_stats.json"):
        p = os.path.join(index_dir, name)
        try:
            st = os.stat(p)
            parts.append((name, st.st_size, st.st_mtime_ns))
        except FileNotFoundError:
            parts.append((name, -1, -1))
    tdir = os.path.join(index_dir, "tombstones")
    try:
        files = tuple(sorted(
            f for f in os.listdir(tdir) if f.startswith("part-")
        ))
    except FileNotFoundError:
        files = ()
    parts.append(("tombstones", files))
    return tuple(parts)


def _intersect_sorted(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Intersection of two ASCENDING unique arrays without re-sorting
    (np.intersect1d sorts the concatenation — O((m+n)log(m+n)); this is
    O(m log n) with m the smaller side)."""
    if len(a) > len(b):
        a, b = b, a
    if len(a) == 0 or len(b) == 0:
        return a[:0]
    idx = np.searchsorted(b, a)
    np.clip(idx, 0, len(b) - 1, out=idx)
    return a[b[idx] == a]


def check_k(k: int) -> None:
    """A negative k is refused, as Spark's ``limit`` refuses it."""
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")


def topk_order(ids: np.ndarray, scores: np.ndarray, k: int) -> np.ndarray:
    """Positions of the k best rows by (score desc, doc_id asc) — the
    first k of ``np.lexsort((ids, -scores))`` without sorting every row.

    ``np.partition`` finds the k-th largest score in O(n); every row
    scoring at least that much is kept, so rows tied at the cut stay in
    and the ``lexsort`` over them (k′ ≥ k rows) breaks those ties on
    doc_id exactly as the full sort would."""
    n = len(scores)
    if k <= 0:
        return np.empty(0, dtype="int64")
    neg = -scores
    if k >= n:
        return np.lexsort((ids, neg))
    cut = np.partition(neg, k - 1)[k - 1]
    at = np.flatnonzero(neg <= cut)
    return at[np.lexsort((ids[at], neg[at]))][:k]


def _group_runs(tbl: pa.Table) -> dict:
    """(term → (start, end)) run offsets over a (term, …)-sorted table.
    Vectorized via dictionary codes — no Python loop over rows."""
    n = tbl.num_rows
    if n == 0:
        return {}
    enc = pc.dictionary_encode(tbl["term"])
    chunk = (
        enc.combine_chunks() if isinstance(enc, pa.ChunkedArray) else enc
    )
    if isinstance(chunk, pa.ChunkedArray):  # older pyarrow returns CA
        chunk = chunk.chunk(0)
    codes = chunk.indices.to_numpy(zero_copy_only=False)
    vocab = chunk.dictionary.to_pylist()
    bounds = np.flatnonzero(np.diff(codes)) + 1
    starts = np.concatenate([[0], bounds])
    ends = np.concatenate([bounds, [n]])
    return {
        vocab[codes[s]]: (int(s), int(e)) for s, e in zip(starts, ends)
    }


class LocalIndexReader:
    """Single-node (single-shard) serving reader over an index built by
    :func:`..operators.index_build.build_index`.

    ``pin_postings`` (default True): decode the shard's blocks into
    (term, doc_id, tf, dl) arrays in process memory at open — the
    reference's resident-index shape. With False, every query decodes
    its term sliver's blocks through a pyarrow dataset filter (parquet
    row-group stats on the sorted ``term`` column prune the read) — the
    beyond-node-RAM mode; results identical (tested).

    ``pin_docs`` (default False): additionally pin the
    (doc_id, title, url, words) projection for in-memory snippet/score
    fetches. Bench-scale convenience — at 100 TB the docs table stays on
    storage and the ≤100-id fetch is a pruned parquet read (default).
    """

    def __init__(
        self,
        index_dir: str,
        config: EngineConfig = EngineConfig(),
        pin_postings: bool = True,
        pin_docs: bool = False,
    ):
        self.index_dir = index_dir
        self.config = config
        self._want_pin_postings = pin_postings
        self._want_pin_docs = pin_docs
        self._open()

    def _open(self) -> None:
        """(Re)bind this reader to the CURRENT on-disk index state: fresh
        dataset handles (file listings), stats, tombstones, empty caches,
        re-pinned tables. ``__init__`` and :meth:`refresh` both land
        here, so a refreshed reader is indistinguishable from a freshly
        opened one."""
        index_dir = self.index_dir
        blocks_dir = os.path.join(index_dir, "blocks")
        if any(f.startswith("part-") for f in os.listdir(blocks_dir)):
            # root-level files beside the seg= directories: pyarrow's
            # dataset would read their postings a second time
            raise ValueError(
                f"{index_dir} was built by an older layout (blocks files "
                "outside seg= directories); rebuild into a fresh directory"
            )
        self._snapshot = self._snapshot_token()
        with open(os.path.join(index_dir, "corpus_stats.json")) as fh:
            self.corpus_stats = json.load(fh)
        self._docs_ds = ds.dataset(
            os.path.join(index_dir, "docs"),
            format="parquet", partitioning="hive",
        )
        self._tp_ds = ds.dataset(
            os.path.join(index_dir, "term_positions"),
            format="parquet", partitioning="hive",
        )
        self._blk_ds = ds.dataset(
            blocks_dir, format="parquet", partitioning="hive",
        )
        self._tombstones = self._load_tombstones()
        self._df_map = self._load_term_stats()
        self._runs: Optional[dict] = None
        if self._want_pin_postings:
            self._pin_postings()
        self._pos_cache: "OrderedDict[str, tuple]" = OrderedDict()
        self._blk_meta_cache: "OrderedDict[str, tuple]" = OrderedDict()
        self._blk_cache: "OrderedDict[tuple, tuple]" = OrderedDict()
        # (terms, conjunctive, k) shapes proven unprunable → exhaustive
        self._wand_plan_cache: "OrderedDict[tuple, bool]" = OrderedDict()
        self._docs_pin: Optional[tuple] = None
        if self._want_pin_docs:
            self._pin_docs()

    # -- snapshot / refresh ----------------------------------------------

    def _snapshot_token(self) -> tuple:
        return snapshot_token(self.index_dir)

    def is_stale(self) -> bool:
        """True when the on-disk index has advanced past the snapshot
        this reader serves (new segments, refreshed stats, new
        tombstones, or a compaction swap)."""
        return self._snapshot_token() != self._snapshot

    def refresh(self, force: bool = False) -> bool:
        """Advance to the current on-disk snapshot; returns whether a
        reopen happened. The serving-fleet contract for serve-while-
        ingest: writers only ever ADD files or replace whole small files
        atomically (fsio's temp/rename), so an open reader keeps serving
        its snapshot untouched and ``refresh()`` swaps to the new one in
        one step — no partially-visible state in between (pytest-gated in
        tests/test_serving_refresh.py). No-op (and no cache loss) when
        nothing changed, unless ``force``."""
        if not force and not self.is_stale():
            return False
        self._open()
        return True

    # -- open-time loading ---------------------------------------------------

    def _load_tombstones(self) -> np.ndarray:
        tdir = os.path.join(self.index_dir, "tombstones")
        if not os.path.isdir(tdir) or not any(
            f.startswith("part-") for f in os.listdir(tdir)
        ):
            return np.empty(0, dtype="int64")
        t = ds.dataset(tdir, format="parquet").to_table(columns=["doc_id"])
        return np.unique(t["doc_id"].to_numpy(zero_copy_only=False))

    def _load_term_stats(self) -> dict:
        t = ds.dataset(
            os.path.join(self.index_dir, "term_stats"), format="parquet"
        ).to_table(columns=["term", "df"])
        return dict(
            zip(t["term"].to_pylist(),
                t["df"].to_numpy(zero_copy_only=False).tolist())
        )

    def _pin_postings(self) -> None:
        self._runs, self._doc_ids, self._tfs, self._dls = (
            self._decode_postings(None)
        )

    def _decode_postings(self, filter) -> tuple:
        """(term → (start, end) runs, doc_ids, tf, dl) for the blocks
        matching ``filter``, decoded, tombstone-masked and sorted on
        (term, doc_id). Ordering the BLOCKS on (term, first_doc) orders
        the postings: a term's blocks hold disjoint doc-id ranges (one
        doc lives in one segment, and a segment cuts a term's sorted run
        in order), so the sort runs over block keys and the postings
        follow by one gather. Pinned dtypes: int64 ids, int32 tf and dl."""
        tbl = self._blk_ds.to_table(
            filter=filter,
            columns=["term", "first_doc", "doc_deltas", "tfs", "dls"],
        )
        counts, ids, tfs, dls = decode_block_arrays(tbl)
        order = pc.sort_indices(
            tbl.select(["term", "first_doc"]),
            sort_keys=[("term", "ascending"), ("first_doc", "ascending")],
        ).to_numpy()
        starts = np.cumsum(counts) - counts
        counts = counts[order]
        # posting offset of every sorted block start (+ the end)
        bounds = np.concatenate([[0], np.cumsum(counts)])
        perm = np.repeat(starts[order] - bounds[:-1], counts)
        perm += np.arange(len(perm))
        keep = self._mask_dead(ids[perm])
        perm = perm[keep]
        at = np.concatenate([[0], np.cumsum(keep)])[bounds]
        runs = {
            t: (int(at[s]), int(at[e]))
            for t, (s, e) in _group_runs(
                tbl.select(["term"]).take(order)
            ).items()
            if at[e] > at[s]
        }
        return runs, ids[perm], tfs[perm], dls[perm].astype("int32")

    def _pin_docs(self) -> None:
        t = (
            self._docs_ds.to_table(
                columns=["doc_id", "title", "url", "words"]
            )
            .sort_by("doc_id")
            .combine_chunks()
        )
        self._docs_pin = (
            t["doc_id"].to_numpy(zero_copy_only=False),
            t["title"].to_pylist(),
            t["url"].to_pylist(),
            t["words"].to_pylist(),
        )

    # -- per-term array access (pinned or cold) -------------------------------

    def _term_arrays(self, terms: Sequence[str]) -> dict:
        """term → (doc_ids asc, tf, dl) numpy views for the given terms.
        Pinned: dict lookup + array slice. Cold: ONE pruned blocks read
        for all terms (row-group stats on the sorted term column)."""
        if self._runs is not None:
            out = {}
            for t in terms:
                se = self._runs.get(t)
                if se is None:
                    continue
                s, e = se
                out[t] = (
                    self._doc_ids[s:e], self._tfs[s:e], self._dls[s:e]
                )
            return out
        runs, ids, tfs, dls = self._decode_postings(
            pc.field("term").isin(list(terms))
        )
        return {
            t: (ids[s:e], tfs[s:e], dls[s:e])
            for t, (s, e) in runs.items()
        }

    def _positions(self, term: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(doc_ids asc, flat_doc, flat_pos) for one term from
        term_positions (stop words INCLUDED — quoted stop words need
        them, B6), LRU-cached per term. ``flat_doc``/``flat_pos`` are
        the per-occurrence (doc_id, position) pairs in (doc, pos) order
        — the columnar layout the vectorized adjacency works on."""
        hit = self._pos_cache.get(term)
        if hit is not None:
            self._pos_cache.move_to_end(term)
            return hit
        tbl = self._tp_ds.to_table(
            filter=pc.field("term") == term,
            columns=["doc_id", "positions"],
        )
        if len(self._tombstones):
            tbl = tbl.filter(pa.array(self._mask_dead(
                tbl["doc_id"].to_numpy()
            )))
        tbl = tbl.sort_by("doc_id").combine_chunks()
        ids = tbl["doc_id"].to_numpy(zero_copy_only=False)
        plist = tbl["positions"]
        if isinstance(plist, pa.ChunkedArray):
            plist = (
                plist.combine_chunks() if plist.num_chunks != 1
                else plist.chunk(0)
            )
        if tbl.num_rows:
            counts = pc.list_value_length(plist).to_numpy(
                zero_copy_only=False
            ).astype("int64")
            flat_doc = np.repeat(ids, counts)
            flat_pos = plist.flatten().to_numpy(
                zero_copy_only=False
            ).astype("int64")
        else:
            flat_doc = np.empty(0, dtype="int64")
            flat_pos = np.empty(0, dtype="int64")
        entry = (ids, flat_doc, flat_pos)
        self._pos_cache[term] = entry
        while len(self._pos_cache) > POSITIONS_CACHE_TERMS:
            self._pos_cache.popitem(last=False)
        return entry

    # -- Q16 -------------------------------------------------------------------

    def count(self) -> int:
        return int(self.corpus_stats["n_docs"]) - len(self._tombstones)

    # -- Q1-Q15: reference-parity search ---------------------------------------

    def search(
        self,
        text: str,
        max_count: int = 100,
        allowed_ids: Optional[Iterable[int]] = None,
        arrays: Optional[dict] = None,
    ) -> pd.DataFrame:
        """Reference-parity free-text search; row- and order-identical to
        ``SearchEngine.search`` (tested). ``allowed_ids``: optional
        precomputed doc-id set gating candidates BEFORE the intersection
        cap — the serving-node analogue of ``search(where=...)``, whose
        id frames a fleet precomputes per filter (SearchEngine's
        _allowed_ids cache is exactly that, Spark-side)."""
        words, quotes = tokenize(text)
        lookup = [
            w for w in words if not is_stop_word(w, self.config.stop_words)
        ]
        if not lookup:
            return pd.DataFrame(columns=RESULT_COLUMNS)
        cand = self._candidate_ids(
            words, quotes, lookup, allowed_ids, arrays=arrays
        )
        return self._render_parity(words, quotes, lookup, cand, max_count)

    def _render_parity(
        self,
        words: Sequence[str],
        quotes: Sequence[int],
        lookup: Sequence[str],
        cand: np.ndarray,
        max_count: int,
    ) -> pd.DataFrame:
        """Score + rank + snippet the candidate ids — the tail of
        :meth:`search`, shared with the fleet coordinator
        (``serving.fleet.FleetReader``), which computes candidates
        across shards but renders through any one node (the docs table
        is shared storage)."""
        scored = [
            (
                doc_id,
                score_page(
                    lookup, self.config.score_weights, title, url, pwords
                ),
                title, url, pwords,
            )
            for doc_id, title, url, pwords in self._fetch(cand)
        ]
        scored.sort(key=lambda r: (-r[1], r[0]))
        # snippet AFTER the slice — the reference's own shape
        # (engine.ts:141-150 snippets only the top maxCount); identical
        # output, ~40% less per-query Python at max_count << candidates
        rows = [
            (
                doc_id, score, title,
                construct_introduction(words, quotes, pwords), url,
            )
            for doc_id, score, title, url, pwords in scored[:max_count]
        ]
        return pd.DataFrame(rows, columns=RESULT_COLUMNS)

    def _candidate_ids(
        self,
        words: Sequence[str],
        quotes: Sequence[int],
        lookup: Sequence[str],
        allowed_ids: Optional[Iterable[int]],
        arrays: Optional[dict] = None,
    ) -> np.ndarray:
        """Candidate generation ≡ SearchEngine.candidates: single-list
        fast path (quote predicate SKIPPED, engine.ts:398-404), k-way
        intersection, fused phrase predicate; ascending doc_id, capped
        at INTERSECT_CAP after the allowed gate."""
        terms = sorted({w.lower() for w in lookup})
        allowed = self._as_id_array(allowed_ids)
        if len(lookup) == 1:
            arrays = (
                arrays if arrays is not None else self._term_arrays(terms)
            )
            ids = (
                arrays[terms[0]][0]
                if terms[0] in arrays
                else np.empty(0, dtype="int64")
            )
            ids = self._apply_allowed(ids, allowed)
            return ids[:INTERSECT_CAP]
        ids = self._membership(terms, arrays=arrays)
        ids = self._apply_allowed(ids, allowed)
        if quotes:
            pairs, _ = _quote_pairs(words, quotes)
            ids = _intersect_sorted(ids, self._quote_match_docs(pairs))
        return ids[:INTERSECT_CAP]

    @staticmethod
    def _as_id_array(allowed_ids) -> Optional[np.ndarray]:
        if allowed_ids is None:
            return None
        return np.unique(np.fromiter(
            (int(x) for x in allowed_ids), dtype="int64"
        ))

    @staticmethod
    def _apply_allowed(
        ids: np.ndarray, allowed: Optional[np.ndarray]
    ) -> np.ndarray:
        if allowed is None or len(ids) == 0:
            return ids
        return ids[np.isin(ids, allowed, assume_unique=False)]

    def _membership(
        self, terms: Sequence[str], arrays: Optional[dict] = None
    ) -> np.ndarray:
        """Docs containing EVERY term: fold of merge-based intersections
        over the per-term posting id arrays (each ascending-unique by
        build-time dedup, B5), smallest list first so each step is
        O(m log n) in the running intersection size m. ``arrays``: the
        fleet-merge hook — pre-merged per-term arrays replacing this
        node's own slivers (serving/fleet.py)."""
        arrays = arrays if arrays is not None else self._term_arrays(terms)
        if len(arrays) < len(terms):
            return np.empty(0, dtype="int64")
        per = sorted((arrays[t][0] for t in terms), key=len)
        ids = per[0]
        for cur in per[1:]:
            ids = _intersect_sorted(ids, cur)
            if len(ids) == 0:
                break
        return ids

    def _quote_match_docs(self, pairs: Sequence[Sequence[str]]) -> np.ndarray:
        """Docs where ANY quoted word sequence occurs adjacently —
        vectorized ≡ of search._adjacency_expr: quoted word j's
        occurrences become keys ``doc*span + (pos - j)``; a doc contains
        the phrase iff all k key arrays share a key. One sorted-array
        intersection per quoted word, over the quoted terms' position
        slivers only — replaces a per-candidate Python loop, whose cost
        on a never-matching phrase would be O(|membership|)."""
        matched: list[np.ndarray] = []
        for qw in pairs:
            if not qw:
                continue
            entries = [self._positions(w.lower()) for w in qw]
            if any(len(e[1]) == 0 for e in entries):
                continue
            # span > max_pos + shift keeps keys unique per (doc, pos)
            # and ascending across docs
            span = 2 + len(qw) + max(int(e[2].max()) for e in entries)
            folded: Optional[np.ndarray] = None
            for j, (_, flat_doc, flat_pos) in enumerate(entries):
                keys = flat_doc * span + (flat_pos - j)
                folded = (
                    keys if folded is None
                    else _intersect_sorted(folded, keys)
                )
                if len(folded) == 0:
                    break
            if folded is not None and len(folded):
                # folded ⊆ the j=0 keys, so pos ≥ 0 and // is exact
                matched.append(np.unique(folded // span))
        if not matched:
            return np.empty(0, dtype="int64")
        return np.unique(np.concatenate(matched))

    def _fetch(self, ids: np.ndarray) -> list[tuple]:
        """(doc_id, title, url, words) for a bounded id set — pinned-docs
        array lookups, else ONE row-group-pruned parquet read (the docs
        table is doc_id-sorted per segment, so an IN filter prunes to a
        handful of row groups — the only viable shape at 10^12 docs)."""
        if len(ids) == 0:
            return []
        if self._docs_pin is not None:
            d_ids, titles, urls, words = self._docs_pin
            if len(d_ids) == 0:
                return []
            ids = np.asarray(ids, dtype="int64")
            pos = np.searchsorted(d_ids, ids)
            np.clip(pos, 0, len(d_ids) - 1, out=pos)
            hit = d_ids[pos] == ids
            return [
                (int(doc), titles[i], urls[i], words[i])
                for doc, i in zip(
                    ids[hit].tolist(), pos[hit].tolist()
                )
            ]
        tbl = self._docs_ds.to_table(
            filter=pc.field("doc_id").isin([int(x) for x in ids]),
            columns=["doc_id", "title", "url", "words"],
        )
        return list(zip(
            tbl["doc_id"].to_numpy(zero_copy_only=False).tolist(),
            tbl["title"].to_pylist(),
            tbl["url"].to_pylist(),
            tbl["words"].to_pylist(),
        ))

    # -- BM25 (scale path) -------------------------------------------------------

    def bm25_accumulators(
        self, terms: Sequence[str], arrays: Optional[dict] = None
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Per-doc partial BM25 sums over THIS reader's postings for the
        given sorted term list: ``(doc_ids asc, partial_scores,
        matched_term_counts)``. The building block of both
        :meth:`search_bm25` (single node = whole index) and the
        term-range-sharded fleet merge (``serving.fleet.FleetReader``):
        a fleet partitions the posting FILES across shards, so each
        (term, doc) posting row lives in exactly one shard and summing
        the shards' accumulators in shard (= term-range) order
        reproduces the single-reader sorted-term fold bit-for-bit.
        Scoring uses corpus-GLOBAL df/avgdl/N (the full term_stats table
        every node opens) — sharding narrows which postings a node
        holds, never what the corpus looks like."""
        empty = np.empty(0, dtype="int64")
        k1, b = self.config.bm25_k1, self.config.bm25_b
        n = float(self.corpus_stats["n_docs"])
        avgdl = float(self.corpus_stats["avgdl"]) or 1.0
        arrays = arrays if arrays is not None else self._term_arrays(terms)
        id_chunks: list[np.ndarray] = []
        sc_chunks: list[np.ndarray] = []
        for t in terms:  # sorted-term order = the Spark fold's add order
            if t not in arrays:
                continue
            df = self._df_map.get(t)
            if df is None:
                # serve-while-ingest edge: postings landed before their
                # stats refresh — unscorable, same as the stats join
                # dropping the rows
                continue
            ids, tf, dl = arrays[t]
            tf = tf.astype("float64")
            dl = dl.astype("float64")
            sc = idf(n, df) * tf * (k1 + 1.0) / (
                tf + k1 * (1.0 - b + b * dl / avgdl)
            )
            id_chunks.append(ids)
            sc_chunks.append(sc)
        if not id_chunks:
            return empty, np.empty(0), np.empty(0, dtype="int64")
        max_id = max(int(ids[-1]) for ids in id_chunks)  # each asc
        if max_id <= max(4 * int(n), DENSE_SCORE_MAX_DOCS // 8) and \
                max_id <= DENSE_SCORE_MAX_DOCS:
            # dense scatter-add over the doc-id span: per-term ids are
            # unique, so `acc[ids] += sc` is one vectorized pass per
            # term, added in sorted-term chunk order — the same fold
            # order as the merge path and the Spark aggregate
            acc = np.zeros(max_id + 1)
            cnt = np.zeros(max_id + 1, dtype="int64")
            for ids, sc in zip(id_chunks, sc_chunks):
                acc[ids] += sc
                cnt[ids] += 1
            uniq = np.flatnonzero(cnt)
            return uniq, acc[uniq], cnt[uniq]
        # sparse doc ids (a fleet shard's slice of a 10^12-doc space):
        # sort-based merge, no dense allocation
        all_ids = np.concatenate(id_chunks)
        all_sc = np.concatenate(sc_chunks)
        uniq, inv = np.unique(all_ids, return_inverse=True)
        scores = np.bincount(inv, weights=all_sc, minlength=len(uniq))
        counts = np.bincount(inv, minlength=len(uniq))
        return uniq, scores, counts

    def search_bm25(
        self,
        text: str,
        k: int = 10,
        conjunctive: bool = False,
        allowed_ids: Optional[Iterable[int]] = None,
        with_results: bool = False,
        arrays: Optional[dict] = None,
    ) -> pd.DataFrame:
        """BM25 top-k ≡ ``operators.bm25.bm25_topk`` (Lucene idf; per-doc
        sum folded in sorted-term order, matching the Spark path's
        deterministic aggregate — scores agree to 1 ULP, ranks exactly;
        ties break on ascending doc_id). ``with_results`` appends the
        (title, introduction, url) projection over the ≤k ranked ids,
        like ``SearchEngine.search_bm25(with_results=True)``.

        Ranking costs O(matches) plus a sort of the rows scoring at
        least the k-th best score (:func:`topk_order`), never a sort of
        every match. ``k < 0`` raises ``ValueError`` (as Spark's
        ``limit`` does); ``k == 0`` returns the empty frame."""
        check_k(k)
        words, quotes = tokenize(text)
        terms = sorted({
            w.lower()
            for w in words
            if not is_stop_word(w, self.config.stop_words)
        })
        empty_cols = BM25_RESULT_COLUMNS if with_results else BM25_COLUMNS
        if not terms or k == 0:
            return pd.DataFrame(columns=empty_cols)
        uniq, scores, counts = self.bm25_accumulators(terms, arrays=arrays)
        if len(uniq) == 0:
            return pd.DataFrame(columns=empty_cols)
        keep = np.ones(len(uniq), dtype=bool)
        if conjunctive:
            keep &= counts == len(terms)
        allowed = self._as_id_array(allowed_ids)
        if allowed is not None:
            keep &= np.isin(uniq, allowed)
        uniq, scores, counts = uniq[keep], scores[keep], counts[keep]
        top = topk_order(uniq, scores, k)
        return self._ranked(uniq[top], scores[top], counts[top],
                            with_results, words, quotes)

    def _ranked(
        self, ids: np.ndarray, scores: np.ndarray, counts: np.ndarray,
        with_results: bool, words: Sequence[str], quotes: Sequence[int],
    ) -> pd.DataFrame:
        """The one answer frame of a ranked BM25 top-k. ``with_results``
        adds the (title, introduction, url) projection over its ≤k rows
        — shared by search_bm25, wand_topk, and so the fleet merge (any
        node can render: the docs table is shared storage)."""
        frame = {
            "doc_id": ids,
            "score": scores,
            "n_terms": counts.astype("int64"),
        }
        if not with_results:
            return pd.DataFrame(frame)
        if len(ids) == 0:
            return pd.DataFrame(columns=BM25_RESULT_COLUMNS)
        fetched = {
            doc: (title, url, pwords)
            for doc, title, url, pwords in self._fetch(ids)
        }
        titles, intros, urls = [], [], []
        for doc in ids.tolist():
            title, url, pwords = fetched[doc]
            titles.append(title)
            intros.append(construct_introduction(words, quotes, pwords))
            urls.append(url)
        frame.update(title=titles, introduction=intros, url=urls)
        return pd.DataFrame(frame)

    # -- Block-Max WAND (cold-mode scale path) ---------------------------------

    def _mask_dead(self, ids: np.ndarray) -> np.ndarray:
        """Boolean keep-mask dropping tombstoned doc ids (tombstones are
        sorted unique, so membership is one searchsorted pass)."""
        if len(self._tombstones) == 0 or len(ids) == 0:
            return np.ones(len(ids), dtype=bool)
        pos = np.searchsorted(self._tombstones, ids)
        np.clip(pos, 0, len(self._tombstones) - 1, out=pos)
        return self._tombstones[pos] != ids

    def _read_block_postings(self, keys: set) -> dict:
        """Decode the blocks named by ``keys`` (a set of
        ``(term, first_doc)`` pairs) into ``term -> (doc_ids, tfs, dls)``
        numpy arrays. Decoded blocks live in a bounded LRU (a serving
        node's warm working set); misses are fetched in ONE pruned
        parquet read for all missing blocks (term + first_doc filters
        hit the row-group stats of the (term, doc_id)-sorted layout) and
        decoded together (``index_build.decode_block_arrays``); ids
        within a term are unique across blocks (a doc lives in exactly
        one segment)."""
        if not keys:
            return {}
        miss = [kk for kk in keys if kk not in self._blk_cache]
        if miss:
            tbl = self._blk_ds.to_table(
                filter=(
                    pc.field("term").isin(sorted({t for t, _ in miss}))
                    & pc.field("first_doc").isin(
                        sorted({f for _, f in miss})
                    )
                ),
                columns=["term", "first_doc", "doc_deltas", "tfs", "dls"],
            )
            counts, ids, tfs, dls = decode_block_arrays(tbl)
            at = np.concatenate([[0], np.cumsum(counts)])
            tfs, dls = tfs.astype("float64"), dls.astype("float64")
            miss_set = set(miss)  # the two isins over-select cross pairs
            for i, kk in enumerate(zip(tbl["term"].to_pylist(),
                                       tbl["first_doc"].to_pylist())):
                if kk in miss_set:
                    s, e = at[i], at[i + 1]
                    self._blk_cache[kk] = (ids[s:e], tfs[s:e], dls[s:e])
        out: dict[str, list] = {}
        for kk in sorted(keys):
            hit = self._blk_cache.get(kk)
            if hit is None:
                continue  # key names a block that doesn't exist
            self._blk_cache.move_to_end(kk)
            out.setdefault(kk[0], []).append(hit)
        while len(self._blk_cache) > BLOCK_CACHE_BLOCKS:
            self._blk_cache.popitem(last=False)
        return {
            t: tuple(np.concatenate(cols) for cols in zip(*chunks))
            for t, chunks in out.items()
        }

    def _block_meta(self, terms: Sequence[str]) -> tuple:
        """Per-block metadata (term list, first_doc, max_doc,
        drift-corrected block_max_partial arrays) for the given terms,
        through a bounded per-term LRU — the metadata is a few numbers
        per block, so a term's entry is df/block_size rows, read WITHOUT
        the array columns.

        The cached bound is ``block_bounds.drift_corrected`` (see its
        docstring for the monotonicity proof and the NaN rule of a
        mixed-format index). The reader's avgdl is a constant of the open
        snapshot, so the correction bakes into the cache entry."""
        missing = [t for t in terms if t not in self._blk_meta_cache]
        if missing:
            has_bake = "bake_avgdl" in self._blk_ds.schema.names
            cols = ["term", "first_doc", "max_doc", "block_max_partial"]
            if has_bake:
                cols.append("bake_avgdl")
            meta = self._blk_ds.to_table(
                filter=pc.field("term").isin(sorted(missing)), columns=cols
            )
            tarr = np.asarray(meta["term"].to_pylist(), dtype=object)
            first = meta["first_doc"].to_numpy(zero_copy_only=False)
            mx = meta["max_doc"].to_numpy(zero_copy_only=False)
            bmp = drift_corrected(
                meta["block_max_partial"].to_numpy(zero_copy_only=False),
                meta["bake_avgdl"].to_numpy(zero_copy_only=False)
                if has_bake else None,
                float(self.corpus_stats["avgdl"]),
            )
            for t in missing:
                m = tarr == t
                self._blk_meta_cache[t] = (first[m], mx[m], bmp[m])
        m_terms: list[str] = []
        chunks = []
        for t in terms:
            entry = self._blk_meta_cache[t]
            self._blk_meta_cache.move_to_end(t)
            m_terms.extend([t] * len(entry[0]))
            chunks.append(entry)
        while len(self._blk_meta_cache) > BLOCK_META_CACHE_TERMS:
            self._blk_meta_cache.popitem(last=False)
        return (
            m_terms,
            np.concatenate([c[0] for c in chunks]),
            np.concatenate([c[1] for c in chunks]),
            np.concatenate([c[2] for c in chunks]),
        )

    def wand_topk(
        self,
        text: str,
        k: int = 10,
        conjunctive: bool = False,
        allowed_ids: Optional[Iterable[int]] = None,
        with_results: bool = False,
    ) -> pd.DataFrame:
        """Block-Max WAND top-k ≡ :meth:`search_bm25` (rank- and
        score-identical, pytest-gated) that reads only the posting BLOCKS
        that can matter instead of the query terms' full posting lists —
        the cold-mode (beyond-node-RAM) serving shape at 10^12 turns,
        where a head term's sliver is GBs but its surviving blocks are
        KBs. The plan — block bounds, θ seed, global and range bounds,
        fallback — is ``operators.block_bounds.WandPlanner``, the same
        planner the Spark path runs on its driver:

        1. read per-block METADATA only (term, first_doc, max_doc,
           block_max_partial — no array columns) for the query terms;
        2. decode the planner's seed blocks, masked by ``allowed_ids`` /
           tombstones, and let it set θ and the surviving blocks;
        3. candidates = docs decoded from surviving blocks; exact
           rescoring additionally decodes each term's blocks whose
           [first_doc, max_doc] range intersects the candidates, then
           folds the SAME expression in the SAME sorted-term order as
           :meth:`search_bm25` — blocks carry raw (tf, dl), so the score
           is computed against CURRENT corpus stats, not baked ones.

        The candidates are ranked by :func:`topk_order` (O(candidates)
        selection, then a sort of the rows tied at or above the k-th best
        score). ``k < 0`` raises ``ValueError``; ``k == 0`` returns the
        empty frame before any planning.

        Diagnostics land in ``self.last_wand_stats`` (blocks_total /
        surviving / read / candidates / theta) — the bench's evidence
        that pruning holds at serve time.
        """
        check_k(k)
        words, quotes = tokenize(text)
        terms = sorted({
            w.lower()
            for w in words
            if not is_stop_word(w, self.config.stop_words)
        })

        def empty() -> pd.DataFrame:  # built only on the paths that return it
            return pd.DataFrame(
                columns=BM25_RESULT_COLUMNS if with_results else BM25_COLUMNS
            )

        self.last_wand_stats = empty_stats()
        if not terms or k == 0:
            return empty()
        # adaptive exhaustive fallback, cached per query shape: when a
        # previous run of this (terms, conjunctive, k) shape proved that
        # NO block is prunable (flat block maxima — the bench corpus's
        # tiny uniform vocabulary is the worst case), the WAND machinery
        # is pure overhead over exhaustive BM25 (results are identical by
        # the pytest-gated equality), so repeat probes skip straight to
        # :meth:`search_bm25`. Keyed on k too (θ shrinks with k) and only
        # consulted without ``allowed_ids`` (a filter changes θ); the
        # cache dies with the snapshot (cleared in ``_open``).
        plan_key = (tuple(terms), conjunctive, k)
        if allowed_ids is None and plan_key in self._wand_plan_cache:
            self._wand_plan_cache.move_to_end(plan_key)
            self.last_wand_stats["fallback"] = "exhaustive-cached"
            return self.search_bm25(
                text, k=k, conjunctive=conjunctive,
                with_results=with_results,
            )
        n = float(self.corpus_stats["n_docs"])
        idfs = {
            t: idf(n, d)
            for t in terms
            if (d := self._df_map.get(t)) is not None
        }
        if not idfs:
            return empty()
        planner = WandPlanner(
            terms, idfs, self.config.bm25_k1, self.config.bm25_b,
            float(self.corpus_stats["avgdl"]) or 1.0,
            *self._block_meta(sorted(idfs)),
        )
        if planner.empty(conjunctive):
            return empty()
        allowed = self._as_id_array(allowed_ids)
        seed_keys = planner.seed_keys()
        planner.plan(
            self._filter_live(self._read_block_postings(seed_keys), allowed),
            k, conjunctive,
        )
        self.last_wand_stats = planner.stats()
        if planner.fallback:
            # θ cannot beat ANY block bound (even range-refined), so
            # pruning would read every block anyway — decode-all +
            # restricted rescore is strictly more work than the
            # exhaustive fold over the same postings. Answer exhaustively
            # (identical results, pytest-gated) and cache the shape so
            # repeat probes skip the metadata/seed work.
            if allowed_ids is None:
                self._wand_plan_cache[plan_key] = True
                while len(self._wand_plan_cache) > WAND_PLAN_CACHE_SHAPES:
                    self._wand_plan_cache.popitem(last=False)
            return self.search_bm25(
                text, k=k, conjunctive=conjunctive,
                allowed_ids=allowed_ids, with_results=with_results,
            )
        surv_keys = planner.surviving_keys()
        surv_arrays = self._filter_live(
            self._read_block_postings(surv_keys), allowed
        )
        if not surv_arrays:
            return empty()
        cand = np.unique(np.concatenate(
            [a[0] for a in surv_arrays.values()]
        ))
        # exact rescoring needs every term's contribution for the
        # candidates — pull in the candidate-overlapping blocks the
        # bound pruned (range test via two searchsorted passes)
        lo = np.searchsorted(cand, planner.m_first, side="left")
        hi = np.searchsorted(cand, planner.m_max, side="right")
        need_keys = surv_keys | {
            (planner.m_terms[i], int(planner.m_first[i]))
            for i in np.flatnonzero(hi > lo)
        }
        extra = need_keys - surv_keys
        if extra:
            more = self._filter_live(
                self._read_block_postings(extra), allowed
            )
            for t, (ids, tf, dl) in more.items():
                if t in surv_arrays:
                    p_ids, p_tf, p_dl = surv_arrays[t]
                    surv_arrays[t] = (
                        np.concatenate([p_ids, ids]),
                        np.concatenate([p_tf, tf]),
                        np.concatenate([p_dl, dl]),
                    )
                else:
                    surv_arrays[t] = (ids, tf, dl)
        cand, acc, cnt = planner.fold(surv_arrays, cand)
        keep = cnt > 0
        if conjunctive:
            keep &= cnt == len(terms)
        cand, acc, cnt = cand[keep], acc[keep], cnt[keep]
        self.last_wand_stats.update(
            blocks_read=len(seed_keys | need_keys), candidates=int(len(cand)),
        )
        top = topk_order(cand, acc, k)
        return self._ranked(cand[top], acc[top], cnt[top],
                            with_results, words, quotes)

    def _filter_live(
        self, arrays: dict, allowed: Optional[np.ndarray]
    ) -> dict:
        """Drop tombstoned (and, when gated, disallowed) postings from
        decoded ``term -> (ids, tf, dl)`` arrays."""
        out = {}
        for t, (ids, tf, dl) in arrays.items():
            m = self._mask_dead(ids)
            if allowed is not None:
                m &= np.isin(ids, allowed, assume_unique=False)
            if m.any():
                out[t] = (ids[m], tf[m], dl[m])
        return out
