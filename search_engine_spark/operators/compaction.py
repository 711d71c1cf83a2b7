"""Segment compaction: merge-compress accumulated index segments.

The build and the streaming appender both write Lucene-style
log-structured segments (``<table>/seg=<k>/``): each batch is one sorted
run, queries read the union. That keeps ingest cheap — nothing rescans
the existing index — but a long-lived streamed index accumulates many
short runs: a term that appears in ``s`` segments has >= ``s`` posting
blocks, so WAND's block-max pruning degrades and the scan touches ``s``
small files per term instead of one. This module is the background
merge the north star's "merge-compress" names at the index-lifecycle
level (the reference never needs it — its whole index is one in-memory
hash, memory-storage.ts; this is the part Spark adds at scale).

``compact_index`` rewrites ALL current segments of every index table
into one fresh, globally range-laid segment:

- ``term_positions``: one ``repartitionByRange(term, doc_id)`` + sort —
  the same layout contract the builder uses, so the read side
  (SearchEngine, WAND, the serve tier) works unchanged; a Zipf head term
  again splits across range partitions instead of hot-spotting one.
- ``blocks`` (the one posting store): decoded, re-laid on (term,
  doc_id) the same way and re-cut, so every term's postings collapse
  back into maximal ``block_size`` runs with tight block-max bounds
  baked at the new avgdl (this is where WAND gets its pruning power
  back).
- ``docs``: re-laid by ``doc_id`` so candidate-id IN-scans prune to
  contiguous row groups.
- ``term_stats``: recomputed from the new blocks (df/max_tf are
  invariant under re-blocking, but recomputing keeps one source of
  truth).

Commit protocol (Iceberg-style snapshot swap, minus the atomic catalog
pointer this sandbox cannot host — NOTES.md "Iceberg"): stage EVERY
table fully under ``_compact_staging/`` first (readers are untouched),
write a ``_STAGED.json`` marker naming the segments to be replaced,
then swap table-by-table (delete old seg dirs, rename staging in), and
finally append a ``compact`` lineage entry to the manifest and drop the
staging dir. A crash BEFORE the marker leaves the index unchanged
(rerun restages from scratch); a crash AFTER the marker leaves the
index unreadable-in-part but fully recoverable: rerunning
``compact_index`` sees the marker and completes the swap idempotently
— the same redo contract as fsio.write_text's rename window. All IO
goes through fsio, so the protocol works unchanged on HDFS/S3A/GCS.

Everything is DataFrame + the existing Arrow block cutter — no per-row
Python, no driver-side data movement.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from .. import fsio
from ..config import EngineConfig
from .deletes import TOMBSTONES
from .index_build import (
    _append_manifest,
    build_blocks,
    decode_blocks,
    read_manifest,
    write_term_stats,
)

STAGING = "_compact_staging"
TABLES = ("docs", "term_positions", "blocks")


@dataclass
class CompactResult:
    index_dir: str
    label: str | None
    replaced: list[str]
    n_postings: int
    bytes_before: int
    bytes_after: int
    seconds: float
    compacted: bool


def _segments(index_dir: str, table: str) -> list[str]:
    return [
        d for d in fsio.list_dir(os.path.join(index_dir, table))
        if d.startswith("seg=")
    ]


def _stage(
    spark: SparkSession,
    index_dir: str,
    staging: str,
    config: EngineConfig,
    npart: int,
    tomb_files: list[str],
) -> int:
    """Write the compacted copy of every table under ``staging``; the
    live index is not touched. Returns the postings row count.

    Pending tombstones (deletes.py) are applied HERE — the rewrite the
    compaction does anyway is the one free chance to drop deleted rows
    physically (Lucene's merge-applies-deletes). corpus_stats is
    recomputed from the surviving docs during their write (one
    Observation, no extra job) and staged alongside the tables so
    BM25's n_docs/avgdl stop counting deleted docs at swap time."""
    codec = config.parquet_codec
    # apply exactly the tombstone FILES the caller snapshotted into the
    # commit marker — a delete appended mid-staging is left pending, not
    # half-applied
    mask = None
    if tomb_files:
        tomb = spark.read.parquet(
            *[os.path.join(index_dir, TOMBSTONES, f) for f in tomb_files]
        )
        mask = F.broadcast(tomb.select("doc_id"))

    def masked(df):
        return df.join(mask, "doc_id", "left_anti") if mask is not None else df

    docs = masked(
        spark.read.parquet(os.path.join(index_dir, "docs")).drop("seg")
    )
    doc_obs = Observation("compact_docs")
    (
        docs.repartitionByRange(npart, "doc_id")
        .sortWithinPartitions("doc_id")
        .observe(
            doc_obs,
            F.sum("n_tokens").alias("sum_dl"),
            F.count(F.lit(1)).alias("n"),
        )
        .write.mode("overwrite").option("compression", codec)
        .parquet(os.path.join(staging, "docs"))
    )
    got = doc_obs.get
    corpus_stats = {
        "n_docs": int(got["n"]),
        "avgdl": (float(got["sum_dl"]) / got["n"]) if got["n"] else 0.0,
    }
    fsio.write_text(
        os.path.join(staging, "_corpus_stats.json"), json.dumps(corpus_stats)
    )

    term_pos = masked(
        spark.read.parquet(
            os.path.join(index_dir, "term_positions")
        ).drop("seg")
    )
    (
        term_pos.repartitionByRange(npart, "term", "doc_id")
        .sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite").option("compression", codec)
        .parquet(os.path.join(staging, "term_positions"))
    )

    # postings decoded from the live blocks, deletes applied, re-laid
    # and re-cut with block maxima at the avgdl the post-swap scorer
    # will read — the freshly recomputed one (WAND bound validity)
    obs = Observation("compact_postings")
    build_blocks(
        masked(
            decode_blocks(
                spark.read.parquet(os.path.join(index_dir, "blocks"))
            )
        )
        .repartitionByRange(npart, "term", "doc_id")
        .sortWithinPartitions("term", "doc_id")
        .observe(obs, F.count(F.lit(1)).alias("n")),
        os.path.join(staging, "blocks"),
        corpus_stats["avgdl"],
        config,
    )
    write_term_stats(
        spark.read.parquet(os.path.join(staging, "blocks")),
        os.path.join(staging, "term_stats"),
        npart,
        config,
    )
    return int(obs.get["n"])


def _swap(index_dir: str, staging: str, marker: dict) -> None:
    """Replace the live segments with the staged compacted tables.
    Idempotent: every step checks state first, so a crashed swap is
    completed by rerunning."""
    label = marker["label"]
    for table in TABLES:
        for seg in marker["replaces"].get(table, []):
            fsio.delete(os.path.join(index_dir, table, seg))
        src = os.path.join(staging, table)
        dst = os.path.join(index_dir, table, f"seg={label}")
        if fsio.exists(src):
            fsio.rename(src, dst)
    src = os.path.join(staging, "term_stats")
    dst = os.path.join(index_dir, "term_stats")
    if fsio.exists(src):
        fsio.delete(dst)
        fsio.rename(src, dst)
    stats_src = os.path.join(staging, "_corpus_stats.json")
    if fsio.exists(stats_src):
        fsio.write_text(
            os.path.join(index_dir, "corpus_stats.json"),
            fsio.read_text(stats_src),
        )
    # clear ONLY the tombstone files the staging pass actually applied —
    # a delete landing inside the crash/commit window survives for the
    # next compaction instead of being dropped unapplied
    for f in marker.get("tombstone_files", []):
        fsio.delete(os.path.join(index_dir, TOMBSTONES, f))


def compact_if_needed(
    spark: SparkSession,
    index_dir: str,
    max_segments: int = 8,
    config: EngineConfig = EngineConfig(),
    npart: int | None = None,
) -> CompactResult:
    """Compaction POLICY for long-running ingest: merge only when the
    log-structured run count exceeds ``max_segments`` (or an interrupted
    compaction / pending tombstone backlog must be finished — those are
    correctness debts, not layout preferences, so they always run).
    Keeps steady-state ingest O(batch) while bounding the per-term block
    fragmentation WAND's pruning degrades under; the Lucene tiered-merge
    idea reduced to the single knob a segment-per-batch layout needs."""
    staging_marker = os.path.join(index_dir, STAGING, "_STAGED.json")
    tdir = os.path.join(index_dir, TOMBSTONES)
    pending_tombstones = fsio.exists(tdir) and any(
        f.startswith("part-") for f in fsio.list_dir(tdir)
    )
    if (
        len(_segments(index_dir, "blocks")) <= max_segments
        and not fsio.exists(staging_marker)
        and not pending_tombstones
    ):
        return CompactResult(
            index_dir=index_dir, label=None, replaced=[], n_postings=0,
            bytes_before=0, bytes_after=0, seconds=0.0, compacted=False,
        )
    return compact_index(spark, index_dir, config=config, npart=npart)


def compact_index(
    spark: SparkSession,
    index_dir: str,
    config: EngineConfig = EngineConfig(),
    npart: int | None = None,
    fail_after_staging: bool = False,
) -> CompactResult:
    """Merge all current segments of every index table into one fresh
    range-laid segment. No-op (``compacted=False``) when the index
    already has a single segment and no interrupted compaction is
    pending. ``fail_after_staging`` is a test hook that injects a crash
    inside the commit window (after the marker, before the swap)."""
    t0 = time.time()
    npart = npart or int(spark.conf.get("spark.sql.shuffle.partitions"))
    staging = os.path.join(index_dir, STAGING)
    marker_path = os.path.join(staging, "_STAGED.json")

    if fsio.exists(marker_path):  # resume an interrupted commit
        marker = json.loads(fsio.read_text(marker_path))
    else:
        replaces = {t: _segments(index_dir, t) for t in TABLES}
        tdir = os.path.join(index_dir, TOMBSTONES)
        tomb_files = (
            [
                f for f in fsio.list_dir(tdir)
                if f.startswith("part-")
            ]
            if fsio.exists(tdir)
            else []
        )
        # single segment AND nothing to delete -> true no-op; pending
        # tombstones force a rewrite even of a single-segment index
        if len(replaces["blocks"]) <= 1 and not tomb_files:
            return CompactResult(
                index_dir=index_dir, label=None, replaced=[],
                n_postings=0, bytes_before=0, bytes_after=0,
                seconds=time.time() - t0, compacted=False,
            )
        prior = [
            e for e in read_manifest(index_dir)
            if e.get("stage") == "compact"
        ]
        label = f"c{len(prior)}"
        bytes_before = sum(
            fsio.dir_bytes(os.path.join(index_dir, t)) for t in TABLES
        )
        fsio.delete(staging)  # drop any pre-marker debris from a crash
        # doc-id high-water mark BEFORE deletes are applied: if the
        # newest docs are tombstoned, the physical max(doc_id) shrinks
        # at swap and a later append_batch would reuse a dead doc's id —
        # the manifest carries the mark forward instead (parquet column
        # statistics make this max() a metadata-cheap job)
        hwm_row = (
            spark.read.parquet(os.path.join(index_dir, "docs"))
            .agg(F.max("doc_id").alias("m"))
            .first()
        )
        n_postings = _stage(
            spark, index_dir, staging, config, npart, tomb_files
        )
        marker = {
            "label": label,
            "replaces": replaces,
            "n_postings": n_postings,
            "bytes_before": bytes_before,
            "tombstone_files": tomb_files,
            "max_doc_id": int(hwm_row["m"] or 0),
        }
        fsio.write_text(marker_path, json.dumps(marker))

    if fail_after_staging:
        raise RuntimeError("injected failure after compaction staging")

    _swap(index_dir, staging, marker)
    fsio.delete(staging)
    bytes_after = sum(
        fsio.dir_bytes(os.path.join(index_dir, t)) for t in TABLES
    )
    entry = {
        "stage": "compact",
        "segment": marker["label"],
        "ok": True,
        "replaces": marker["replaces"]["blocks"],
        "n_tombstone_files_applied": len(marker.get("tombstone_files", [])),
        "max_doc_id": marker.get("max_doc_id", 0),
        "n_postings": marker["n_postings"],
        "bytes_before": marker["bytes_before"],
        "bytes_after": bytes_after,
        "seconds": round(time.time() - t0, 3),
    }
    _append_manifest(index_dir, entry)
    return CompactResult(
        index_dir=index_dir,
        label=marker["label"],
        replaced=marker["replaces"]["blocks"],
        n_postings=marker["n_postings"],
        bytes_before=marker["bytes_before"],
        bytes_after=bytes_after,
        seconds=time.time() - t0,
        compacted=True,
    )
