"""Term-range-sharded serving fleet over ONE Spark-built index.

This is SCALE.md §3's 100 TB serving story made executable: the build
lays ``blocks`` (the one posting store) out range-partitioned and sorted
on (term, doc_id), so a fleet shards the blocks FILES by contiguous term
range — each node opens (and, warm, pins) only its sliver — while
``docs``, ``term_positions``, ``term_stats`` and the corpus stats stay
on shared storage behind every node's bounded caches. A coordinator
answers a query by pulling the query terms' posting slivers from the
owning shards (df-bounded traffic — the classic term-partitioned IR
exchange, never corpus-bounded), merging them per term, and running the
SAME fold/candidate code a single node runs. Results are therefore
bit-identical to a single reader over the whole index for every query
shape — pytest-gated in tests/test_serve_fleet.py, including a term
whose postings straddle the shard boundary and metadata-filtered
queries.

``make_term_shards`` materializes shard VIEWS of an existing index as
symlink directories (the sandbox stand-in for "each node mounts its
term-range's files from object storage"): blocks files are split evenly
into contiguous term-range groups by their parquet row-group
statistics; everything else is shared. No index bytes are copied or
rewritten — the same files serve both the single reader and the fleet.
The views freeze the blocks file list: a changed index needs new views.
"""

from __future__ import annotations

import os
from pathlib import Path
from typing import Iterable, Optional, Sequence

import numpy as np
import pandas as pd

from ..config import EngineConfig
from ..functions.tokenizer import is_stop_word, tokenize
from .local import (
    BM25_COLUMNS,
    BM25_RESULT_COLUMNS,
    RESULT_COLUMNS,
    LocalIndexReader,
    check_k,
)

# tables a shard reads from SHARED storage (symlinked whole): docs and
# positions are doc-addressed (fetch-after-slice / phrase checks only),
# term_stats + corpus stats are corpus-GLOBAL scoring inputs — sharding
# narrows which postings a node holds, never what the corpus looks like
SHARED_DIRS = ("docs", "term_positions", "term_stats", "tombstones")
SHARED_FILES = ("corpus_stats.json", "manifest.jsonl")


def _blocks_file_ranges(index_dir: str) -> list[tuple[str, str, Path]]:
    """(min_term, max_term, path) per blocks part file, from parquet
    row-group statistics (no data read); falls back to a term-column
    scan for files without stats."""
    import pyarrow.parquet as pq

    out = []
    root = Path(index_dir) / "blocks"
    for f in sorted(root.rglob("*.parquet")):
        md = pq.read_metadata(f)
        mins: list[str] = []
        maxs: list[str] = []
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            for ci in range(row.num_columns):
                col = row.column(ci)
                if col.path_in_schema != "term":
                    continue
                st = col.statistics
                if st is not None and st.has_min_max:
                    mn, mx = st.min, st.max
                    if isinstance(mn, bytes):
                        mn = mn.decode("utf-8", "replace")
                    if isinstance(mx, bytes):
                        mx = mx.decode("utf-8", "replace")
                    mins.append(mn)
                    maxs.append(mx)
        if not mins:  # stats missing — one pruned column read
            terms = pq.read_table(f, columns=["term"])["term"]
            if len(terms) == 0:
                continue
            py = terms.to_pylist()
            mins, maxs = [min(py)], [max(py)]
        out.append((min(mins), max(maxs), f))
    out.sort(key=lambda x: (x[0], x[1], str(x[2])))
    return out


def make_term_shards(
    index_dir: str, dest_dir: str, n_shards: int = 2
) -> list[str]:
    """Materialize ``n_shards`` term-range shard views of ``index_dir``
    under ``dest_dir`` (symlinks only — no bytes copied). Blocks files
    sort by their term range and split evenly into contiguous groups, so
    each shard owns a term interval; a term whose postings span a group
    boundary is SPLIT across shards (each posting row lives in exactly
    one shard — the property the fleet merge relies on). Returns the
    shard dirs in term-range order (the order ``FleetReader`` needs)."""
    ranges = _blocks_file_ranges(index_dir)
    if len(ranges) < n_shards:
        raise ValueError(
            f"index has {len(ranges)} blocks files < {n_shards} shards"
        )
    root = Path(index_dir).resolve()
    shard_dirs: list[str] = []
    for si in range(n_shards):
        n = len(ranges)
        group = ranges[si * n // n_shards:(si + 1) * n // n_shards]
        sd = Path(dest_dir) / f"shard{si}"
        sd.mkdir(parents=True, exist_ok=True)
        for name in SHARED_DIRS:
            src = root / name
            if src.exists() and not (sd / name).exists():
                os.symlink(src, sd / name)
        for name in SHARED_FILES:
            src = root / name
            if src.exists() and not (sd / name).exists():
                os.symlink(src, sd / name)
        for _, _, f in group:
            rel = f.resolve().relative_to(root / "blocks")
            tgt = sd / "blocks" / rel
            tgt.parent.mkdir(parents=True, exist_ok=True)
            if not tgt.exists():
                os.symlink(f, tgt)
        shard_dirs.append(str(sd))
    return shard_dirs


class FleetReader:
    """Coordinator over term-range shards (one ``LocalIndexReader``
    each, given in term-range order). Every query path pulls the query
    terms' slivers from the owning shards, merges them per term
    (re-sorted ascending by doc_id — shard portions of a straddling
    term interleave across build segments), and hands the merged
    arrays to the FIRST shard's unmodified query code via the
    ``arrays=`` hook — so fold order, candidate capping, scoring,
    ranking and snippets are literally the single-node code paths and
    the answer is bit-identical to one reader over the whole index.

    Per-query traffic is bounded by the query terms' document
    frequencies (the slivers), never the corpus: at 10^12 turns the
    coordinator's working set is the same posting sliver a single node
    would read, just fetched from N owners. Block-Max WAND stays a
    per-node concern (a node prunes its own term's blocks before
    shipping; the exhaustive sliver exchange here is the upper bound
    on that traffic).
    """

    def __init__(
        self,
        shard_dirs: Sequence[str],
        config: EngineConfig = EngineConfig(),
        pin_postings: bool = True,
        pin_docs: bool = False,
    ):
        if not shard_dirs:
            raise ValueError("FleetReader needs at least one shard dir")
        self.config = config
        self.shards = [
            LocalIndexReader(
                d, config=config,
                pin_postings=pin_postings, pin_docs=pin_docs,
            )
            for d in shard_dirs
        ]
        # renders/doc-fetches go through shard 0 — docs are shared
        # storage, so any node can do it
        self._render = self.shards[0]

    def count(self) -> int:
        return self._render.count()

    def refresh(self, force: bool = False) -> bool:
        changed = False
        for sh in self.shards:
            changed = sh.refresh(force=force) or changed
        return changed

    # -- sliver exchange -----------------------------------------------------

    def _merged_arrays(self, terms: Sequence[str]) -> dict:
        """term → (doc_ids asc, tf, dl) merged across shards. Each
        (term, doc) posting row lives in exactly one shard (file
        partitioning), so concatenation never duplicates; the re-sort
        restores global doc order for terms split across shards."""
        per: dict[str, list] = {}
        for sh in self.shards:
            for t, a in sh._term_arrays(terms).items():
                per.setdefault(t, []).append(a)
        out = {}
        for t, chunks in per.items():
            if len(chunks) == 1:
                out[t] = chunks[0]
                continue
            ids = np.concatenate([c[0] for c in chunks])
            tf = np.concatenate([c[1] for c in chunks])
            dl = np.concatenate([c[2] for c in chunks])
            o = np.argsort(ids, kind="stable")
            out[t] = (ids[o], tf[o], dl[o])
        return out

    @staticmethod
    def _terms_of(text: str, stop_words) -> list[str]:
        words, _ = tokenize(text)
        return sorted({
            w.lower() for w in words if not is_stop_word(w, stop_words)
        })

    # -- query paths (single-node code over merged slivers) -------------------

    def search(
        self,
        text: str,
        max_count: int = 100,
        allowed_ids: Optional[Iterable[int]] = None,
    ) -> pd.DataFrame:
        terms = self._terms_of(text, self.config.stop_words)
        if not terms:
            return pd.DataFrame(columns=RESULT_COLUMNS)
        return self._render.search(
            text, max_count=max_count, allowed_ids=allowed_ids,
            arrays=self._merged_arrays(terms),
        )

    def search_bm25(
        self,
        text: str,
        k: int = 10,
        conjunctive: bool = False,
        allowed_ids: Optional[Iterable[int]] = None,
        with_results: bool = False,
    ) -> pd.DataFrame:
        check_k(k)
        terms = self._terms_of(text, self.config.stop_words)
        if not terms or k == 0:
            return pd.DataFrame(
                columns=BM25_RESULT_COLUMNS if with_results
                else BM25_COLUMNS
            )
        return self._render.search_bm25(
            text, k=k, conjunctive=conjunctive, allowed_ids=allowed_ids,
            with_results=with_results,
            arrays=self._merged_arrays(terms),
        )
