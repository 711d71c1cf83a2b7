"""Inverted-index build: corpus -> docs / term_positions / blocks /
stats, resumable from per-segment checkpoints with lineage + metrics.
``blocks`` is the one posting store; its two decoders (Spark, numpy) at
the end of this module serve every query path.

Reference behavior being re-expressed (not ported):

- ``engine.add`` (/root/reference/src/engine.ts:43-99): tokenize
  title+' '+text, allocate pageId from rank, dedup words per page, insert
  (word -> pageId) into sorted posting lists, build the per-page positional
  index (stop words INCLUDED per engine.ts:88-94; the global index EXCLUDES
  them per engine.ts:68-70), persist the page.
- bulk ingest + checkpoint/resume (/root/reference/src/demo.ts:102-153):
  the `last-url` file + skippingMode replay scales up here to a manifest of
  completed doc-id segments with per-segment metrics (postings/sec,
  bytes) — per-partition lineage per the north rule.

Spark shape (one declarative plan per stage, Catalyst optimizes):

    corpus -> assign doc_ids (distributed sequence / reference allocator)
           -> tokenize (Column exprs or Arrow UDF)
           -> docs table partitioned by doc-id segment          [resumable]
    per doc-id segment k:                                        [resumable]
           docs filter(seg=k)   (partition-pruned scan)
           -> posexplode -> groupBy(doc_id, term)
           -> ONE range shuffle on (term, doc_id), cached
           -> term_positions/seg=k
           -> non-stop (term, doc_id, tf, dl) postings cut into
              delta-encoded block-max blocks/seg=k (mapInPandas over the
              sorted partition runs — Lucene-style log-structured segments)
    finalize: term_stats (df, max_tf per term) aggregated from the block
           summaries (~block_size x fewer rows than postings);
           corpus_stats (N, avgdl) observed during the docs write

The global merge of accumulated segments (the Lucene "force-merge"
analogue) is operators/compaction.py; streaming/incremental.py's
refresh_stats only recomputes the corpus and term statistics.

Skew note: postings are laid out with ``repartitionByRange(term, doc_id)``,
which SPLITS a Zipf head term across partitions (unlike hash partitioning,
which would send every 'the' posting to one reducer). Group-bys that key on
``term`` alone are restricted to algebraic aggregates (count/max) where
map-side partial aggregation absorbs the skew. Block building never groups
a whole term: blocks are cut per partition-local run (Lucene-segment
style), so a boundary-straddling term just yields one short block per
boundary — harmless for WAND.
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import dataclass
from typing import Iterator, Optional, Sequence

import numpy as np
import pandas as pd
import pyarrow.compute as pc

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import fsio
from ..config import EngineConfig
from ..functions.tokenizer import tokenize_expr, tokenize_words_udf
from .docids import with_global_sequence_counted, with_reference_ids

MANIFEST = "manifest.jsonl"


@dataclass
class BuildResult:
    index_dir: str
    n_docs: int
    n_postings: int
    seconds: float
    segments: int


def _manifest_path(index_dir: str) -> str:
    return os.path.join(index_dir, MANIFEST)


def read_manifest(index_dir: str) -> list[dict]:
    """Checkpoint lineage, read through the Hadoop FS API so resume works
    against object storage (HDFS/S3A/GCS), not only the driver's disk."""
    path = _manifest_path(index_dir)
    if not fsio.exists(path):
        return []
    return [
        json.loads(line)
        for line in fsio.read_text(path).splitlines()
        if line.strip()
    ]


def _append_manifest(index_dir: str, entry: dict) -> None:
    fsio.mkdirs(index_dir)
    fsio.append_line(
        _manifest_path(index_dir), json.dumps(entry, sort_keys=True)
    )


def _completed(manifest: list[dict], stage: str) -> set:
    return {e.get("segment") for e in manifest if e["stage"] == stage and e.get("ok")}


def _segment_bounds(
    min_id: int, max_id: int, segments: int, nonempty: bool
) -> list[int]:
    """Lower bound of each segment's [lo, hi) doc-id range."""
    span = (max_id - min_id + 1) if nonempty else 1
    return [min_id + (span * k) // segments for k in range(segments)]


def stop_word_filter(term_col, stop_words: frozenset[str]):
    """Reference isStopWord (engine.ts:490-492): len<2 always stops; the
    configured list is checked against the lowercased term."""
    cond = F.length(term_col) >= 2
    if stop_words:
        cond = cond & ~term_col.isin(*sorted(stop_words))
    return cond


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    config: EngineConfig = EngineConfig(),
    mode: str = "sequence",
    order_cols: Sequence[str] = ("conv_id", "turn_idx"),
    segments: int = 4,
    shuffle_partitions: Optional[int] = None,
    fail_after_segment: Optional[int] = None,
    check_unique_urls: bool = True,
) -> BuildResult:
    """Build (or resume) the index for ``corpus`` into ``index_dir``.

    ``corpus`` columns: url, title, text (+ ``order_cols`` for
    mode="sequence", or ``rank``+``arrival`` for mode="reference").

    Re-running after a failure skips completed stages/segments via the
    manifest (kill/rerun yields an identical index; tested).
    ``fail_after_segment`` injects a crash for the resume test.
    """
    t0 = time.time()
    fsio.mkdirs(index_dir)
    manifest = read_manifest(index_dir)
    if any(e["stage"] == "staged" for e in manifest):
        # pre-docs-stage layout: its 'segment' entries reference doc ids
        # assigned by the removed staged pass — resuming over them would
        # silently mix old and new id spaces
        raise ValueError(
            f"{index_dir} was built by an older layout (manifest stage "
            "'staged'); rebuild into a fresh directory"
        )
    # layout width follows the shuffle setting, not the executor count.
    # repartitionByRange samples its bounds, so two builds of the same
    # input can cut blocks at different places; what holds is that their
    # decoded postings are identical (ROADMAP.md item 6, "A reproducible
    # layout", would derive the cuts from the data)
    npart = shuffle_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )

    # ---- stage 0: doc-id assignment + tokenized docs table (resumable) ---
    # The docs table IS the frozen corpus: one pass assigns ids, tokenizes,
    # and writes docs partitioned by segment. (An earlier design staged the
    # raw corpus first and re-wrote docs per segment — an extra full
    # write+read per build that was pure serial overhead at scale.)
    docs_dir = os.path.join(index_dir, "docs")
    if "docs" not in {e["stage"] for e in manifest if e.get("ok")}:
        if mode == "reference":
            assigned = (
                with_reference_ids(corpus, "rank", ["arrival"])
                .repartitionByRange(npart, "doc_id")
                .sortWithinPartitions("doc_id")
                .persist()
            )
            row = assigned.agg(
                F.min("doc_id"), F.max("doc_id"), F.count("*")
            ).first()
            min_id, max_id, n_docs = row[0] or 0, row[1] or 0, row[2]
        else:
            # with_global_sequence leaves the data range-partitioned and
            # sorted in doc_id order; its partition-size collect supplies
            # n_docs (and the dense 1..n id bounds) with no extra job
            assigned, n_docs, seq_cache = with_global_sequence_counted(
                corpus, list(order_cols), "doc_id", num_partitions=npart
            )
            min_id, max_id = (1, n_docs) if n_docs else (0, 0)

        if check_unique_urls:
            # parity with engine.ts:56-58 (the reference throws on any
            # duplicate url). Runs AGAINST THE ASSIGNMENT CACHE — checking
            # the raw corpus instead would re-execute the whole upstream
            # pipeline for one guard job (measured ~10% of build time);
            # nothing has been written yet, so failing here still fails
            # the build cleanly before any index bytes land.
            dupes = (
                assigned.groupBy("url").count()
                .filter(F.col("count") > 1).take(1)
            )
            if dupes:
                # release the assignment cache before failing, or every
                # rejected build pins another full-corpus frame
                (assigned if mode == "reference" else seq_cache).unpersist()
                raise ValueError(f"page already in index: {dupes[0]['url']}")

        if config.tokenizer == "arrow":
            words = tokenize_words_udf(F.concat_ws(" ", "title", "text"))
        else:
            words = tokenize_expr(F.concat_ws(" ", "title", "text"))
        docs_out = assigned.withColumn("words", words).withColumn(
            "n_tokens", F.size("words")
        ).select(
            "doc_id", "url", "title", "words", "n_tokens",
            *[c for c in ("conv_id", "turn_idx", "ts") if c in corpus.columns],
        )
        # seg = number of segment lower bounds <= doc_id, minus one —
        # exactly the [lo, hi) ranges the segment loop uses
        bounds = _segment_bounds(min_id, max_id, segments, bool(n_docs))
        seg_col = F.size(
            F.filter(
                F.array(*[F.lit(b) for b in bounds]),
                lambda b: F.col("doc_id") >= b,
            )
        ) - F.lit(1)
        # corpus stats (avgdl for BM25/block-max) observed during the
        # write — no separate aggregation job
        doc_obs = Observation("docs_stats")
        (
            docs_out.withColumn("seg", seg_col)
            .observe(
                doc_obs,
                F.sum("n_tokens").alias("sum_dl"),
                F.count(F.lit(1)).alias("n"),
            )
            .write.mode("overwrite")
            .option("compression", config.parquet_codec)
            .partitionBy("seg")
            .parquet(docs_dir)
        )
        # the docs write above is the terminal read through the doc-id
        # assignment cache — release it (mode-dependent handle)
        if mode == "reference":
            assigned.unpersist()
        else:
            seq_cache.unpersist()
        got = doc_obs.get
        corpus_stats = {
            "n_docs": int(got["n"]),
            "avgdl": (float(got["sum_dl"]) / got["n"]) if got["n"] else 0.0,
        }
        fsio.write_text(
            os.path.join(index_dir, "corpus_stats.json"),
            json.dumps(corpus_stats),
        )
        _append_manifest(
            index_dir,
            {"stage": "docs", "ok": True, "n_docs": n_docs,
             "min_id": min_id, "max_id": max_id, **corpus_stats,
             "seconds": round(time.time() - t0, 3)},
        )
        manifest = read_manifest(index_dir)
    docs_entry = next(e for e in manifest if e["stage"] == "docs")
    n_docs = docs_entry["n_docs"]
    min_id, max_id = docs_entry["min_id"], docs_entry["max_id"]
    corpus_stats = json.loads(
        fsio.read_text(os.path.join(index_dir, "corpus_stats.json"))
    )

    if not n_docs:
        # an empty partitionBy write leaves no files to infer schemas from
        # — emit typed empty tables so readers (SearchEngine, WAND) work.
        # The empty docs table goes under seg=0/ (seg stays a partition
        # directory, never a root-level data column) so a later streaming
        # append into the same index keeps a consistent layout.
        for name, schema in [
            ("docs/seg=0", "doc_id long, url string, title string, "
                           "words array<string>, n_tokens int"),
            ("term_positions/seg=0", "doc_id long, term string, positions array<int>"),
            ("blocks/seg=0", "term string, first_doc long, max_doc long, n int, "
                             "doc_deltas array<long>, tfs array<int>, "
                             "dls array<long>, block_max_partial double, "
                             "bake_avgdl double"),
            ("term_stats", "term string, df long, max_tf int"),
        ]:
            spark.createDataFrame([], schema).write.mode("overwrite").option("compression", config.parquet_codec).parquet(
                os.path.join(index_dir, *name.split("/"))
            )
        return BuildResult(
            index_dir=index_dir, n_docs=0, n_postings=0,
            seconds=time.time() - t0, segments=segments,
        )

    docs_all = spark.read.parquet(docs_dir)

    # ---- stage 1: per-segment positions + blocks -------------------------
    done = _completed(manifest, "segment")
    span = (max_id - min_id + 1) if n_docs else 1
    for k in range(segments):
        if k in done:
            continue
        lo = min_id + (span * k) // segments
        hi = min_id + (span * (k + 1)) // segments  # exclusive
        t_seg = time.time()
        # partition-pruned scan of just this segment's docs
        docs = docs_all.filter(F.col("seg") == k)

        # per-page positional index (stop words INCLUDED, engine.ts:88-94)
        term_pos = (
            docs.select(
                "doc_id",
                "n_tokens",
                F.posexplode("words").alias("pos", "word"),
            )
            .select(
                "doc_id", "n_tokens", F.lower("word").alias("term"), "pos"
            )
            .groupBy("doc_id", "term")
            .agg(
                F.sort_array(F.collect_list("pos")).alias("positions"),
                F.first("n_tokens").alias("dl"),
            )
        )
        # one range shuffle per segment, cached post-shuffle: both table
        # writes (term_positions, blocks) scan the same sorted layout —
        # previously each write carried its own sample pass + shuffle,
        # pure serial overhead that capped scaling efficiency
        term_pos = term_pos.persist()  # feeds the range sampler + shuffle
        laid = (
            term_pos.repartitionByRange(npart, "term", "doc_id")
            .sortWithinPartitions("term", "doc_id")
            .persist()
        )
        (
            laid.select("doc_id", "term", "positions")
            .write.mode("overwrite")
            .option("compression", config.parquet_codec)
            .parquet(os.path.join(index_dir, "term_positions", f"seg={k}"))
        )
        term_pos.unpersist()

        # global inverted index (stop words EXCLUDED, engine.ts:68-77),
        # tf = positions count, dl denormalized for join-free BM25, cut
        # into blocks from this segment's sorted layout — no global
        # re-shuffle (a term in s segments has >= s blocks; WAND treats
        # blocks independently). Posting count observed on the way in.
        obs = Observation(f"postings_seg_{k}")
        blocks_dir = os.path.join(index_dir, "blocks", f"seg={k}")
        build_blocks(
            laid.filter(
                stop_word_filter(F.col("term"), config.stop_words)
            ).select(
                "term", "doc_id", F.size("positions").alias("tf"), "dl"
            ).observe(obs, F.count(F.lit(1)).alias("n")),
            blocks_dir,
            corpus_stats["avgdl"],
            config,
        )
        laid.unpersist()

        n_seg_postings = int(obs.get["n"])
        seg_seconds = time.time() - t_seg
        _append_manifest(
            index_dir,
            {
                "stage": "segment",
                "segment": k,
                "ok": True,
                "doc_id_range": [lo, hi],
                "n_postings": n_seg_postings,
                "postings_per_sec": round(n_seg_postings / max(seg_seconds, 1e-9), 1),
                "bytes": fsio.dir_bytes(blocks_dir),
                "seconds": round(seg_seconds, 3),
            },
        )
        if fail_after_segment is not None and k >= fail_after_segment:
            raise RuntimeError(f"injected failure after segment {k}")
    manifest = read_manifest(index_dir)

    # ---- stage 2: term stats from the block summaries --------------------
    if "merged" not in {e["stage"] for e in manifest if e.get("ok")}:
        t_merge = time.time()
        write_term_stats(
            spark.read.parquet(os.path.join(index_dir, "blocks")),
            os.path.join(index_dir, "term_stats"),
            npart,
            config,
        )
        _append_manifest(
            index_dir,
            {"stage": "merged", "ok": True,
             "seconds": round(time.time() - t_merge, 3)},
        )
        manifest = read_manifest(index_dir)

    n_postings = sum(
        e.get("n_postings", 0) for e in manifest if e["stage"] == "segment"
    )
    return BuildResult(
        index_dir=index_dir,
        n_docs=n_docs,
        n_postings=n_postings,
        seconds=time.time() - t0,
        segments=segments,
    )


def build_blocks(
    postings: DataFrame,
    out_dir: str,
    avgdl: float,
    config: EngineConfig,
) -> None:
    """Cut postings into delta-encoded, block-max-annotated blocks.
    ``postings`` (term, doc_id, tf, dl) must already be range-partitioned
    and sorted on (term, doc_id).

    Layout: one row per (term, first_doc) block —
      term, first_doc, max_doc, n, doc_deltas:array<long>, tfs:array<int>,
      dls:array<long>, block_max_partial:double
    where ``block_max_partial = max(tf / (tf + k1*(1-b+b*dl/avgdl)))`` so a
    query-time upper bound is ``idf * (k1+1) * block_max_partial`` (idf is
    corpus-global, known at query time). ``dls`` carries the raw per-posting
    doc lengths, so a decoded block is the whole posting and every score
    is computed against the CURRENT corpus stats at read time.

    ``bake_avgdl`` records the avgdl this call baked the partials with.
    The partial is monotonically INCREASING in avgdl, so once the
    scorer's avgdl exceeds the baked one (``refresh_stats`` moves it
    after an append without re-cutting blocks), the baked bound
    under-estimates true contributions and pruning would silently drop
    top-k docs. Both WAND paths therefore scale the bound by
    ``max(1, avgdl_now / bake_avgdl)``, which restores a valid
    upper bound for ANY drift direction: for avgdl_now ≥ bake,
    f(avgdl_now) ≤ f(bake) · avgdl_now/bake (the denominator satisfies
    D_now ≥ (bake/avgdl_now)·D_bake because (1-r)(tf + k1(1-b)) ≥ 0);
    for avgdl_now ≤ bake, f(avgdl_now) ≤ f(bake) directly. Compaction
    re-bakes every block with the then-current avgdl.

    Blocks are cut per partition-local (term, doc_id)-sorted run via
    mapInPandas — no per-term groupBy, so head-term skew never concentrates
    on one task. A term straddling a partition boundary yields one short
    boundary block; WAND treats blocks independently so this only costs a
    few extra rows.
    """
    k1, b = config.bm25_k1, config.bm25_b
    block = config.block_size

    schema = (
        "term string, first_doc long, max_doc long, n int, "
        "doc_deltas array<long>, tfs array<int>, dls array<long>, "
        "block_max_partial double, bake_avgdl double"
    )

    def cut(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: Optional[pd.DataFrame] = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            # hold back the last (possibly incomplete) term run to merge
            # with the next Arrow batch of this partition
            last_term = pdf["term"].iloc[-1]
            tail_mask = pdf["term"].to_numpy() == last_term
            carry = pdf[tail_mask]
            head = pdf[~tail_mask]
            if len(head):
                yield _cut_runs(head, block, k1, b, avgdl, np)
        if carry is not None and len(carry):
            yield _cut_runs(carry, block, k1, b, avgdl, np)

    postings.mapInPandas(cut, schema=schema).write.mode("overwrite").option("compression", config.parquet_codec).parquet(out_dir)


def _cut_runs(pdf: pd.DataFrame, block: int, k1: float, b: float,
              avgdl: float, np) -> pd.DataFrame:
    """Vectorized block cutting for one or more complete term runs."""
    terms = pdf["term"].to_numpy()
    doc_ids = pdf["doc_id"].to_numpy(dtype="int64")
    tfs = pdf["tf"].to_numpy(dtype="int64")
    dls = pdf["dl"].to_numpy(dtype="float64")
    partial = (tfs / (tfs + k1 * (1 - b + b * dls / max(avgdl, 1e-9)))) if len(pdf) else np.array([])

    dls_i = pdf["dl"].to_numpy(dtype="int64")
    bake = float(max(avgdl, 1e-9))
    rows = {"term": [], "first_doc": [], "max_doc": [], "n": [],
            "doc_deltas": [], "tfs": [], "dls": [],
            "block_max_partial": [], "bake_avgdl": []}
    start = 0
    n = len(pdf)
    while start < n:
        term = terms[start]
        end = start
        while end < n and terms[end] == term:
            end += 1
        for s in range(start, end, block):
            e = min(s + block, end)
            ids = doc_ids[s:e]
            deltas = np.diff(ids, prepend=ids[0]).astype("int64")
            deltas[0] = 0  # first_doc carried separately
            rows["term"].append(term)
            rows["first_doc"].append(int(ids[0]))
            rows["max_doc"].append(int(ids[-1]))
            rows["n"].append(e - s)
            rows["doc_deltas"].append(deltas.tolist())
            rows["tfs"].append(tfs[s:e].astype("int32").tolist())
            rows["dls"].append(dls_i[s:e].tolist())
            rows["block_max_partial"].append(float(partial[s:e].max()))
            rows["bake_avgdl"].append(bake)
        start = end
    return pd.DataFrame(rows)


def write_term_stats(
    blocks: DataFrame, out_dir: str, num_partitions: int,
    config: EngineConfig,
) -> None:
    """term_stats (term, df, max_tf) from the block summaries — ~block_size
    x fewer rows than postings; the algebraic agg's map-side combine
    absorbs Zipf skew."""
    (
        blocks.groupBy("term")
        .agg(
            F.sum("n").cast("long").alias("df"),
            F.max(F.array_max("tfs")).alias("max_tf"),
        )
        .repartitionByRange(max(num_partitions // 4, 1), "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .option("compression", config.parquet_codec)
        .parquet(out_dir)
    )


def decode_blocks(blocks: DataFrame) -> DataFrame:
    """Spark decoder of the block format: one (term, doc_id, tf, dl) row
    per posting. Pure SQL: ids = first_doc + a running sum of the deltas
    (a higher-order ``aggregate``; deltas[0] is 0), then one
    ``explode(arrays_zip(...))``. A ``term`` filter still reaches the
    blocks scan; a ``doc_id`` filter cannot, so a one-document lookup
    adds a ``first_doc``/``max_doc`` predicate on the blocks."""
    ids = F.aggregate(
        "doc_deltas",
        F.struct(F.col("first_doc").alias("last"),
                 F.array().cast("array<long>").alias("ids")),
        lambda acc, d: F.struct(
            (acc["last"] + d).alias("last"),
            F.concat(acc["ids"], F.array(acc["last"] + d)).alias("ids"),
        ),
        lambda acc: acc["ids"],
    )
    zipped = F.arrays_zip(ids.alias("doc_id"), F.col("tfs").alias("tf"),
                          F.col("dls").alias("dl"))
    return blocks.select("term", F.explode(zipped).alias("p")).select(
        "term", "p.doc_id", "p.tf", "p.dl"
    )


def decode_block_arrays(tbl) -> tuple:
    """pyarrow/numpy twin of :func:`decode_blocks`: a blocks table →
    ``(n, doc_id, tf, dl)``, the per-block posting counts and the
    per-posting arrays in block order, so callers take terms from the
    block rows, not one string per posting. ONE ``np.cumsum`` over the
    flattened deltas, re-based at each block start on ``first_doc`` (an
    int64 wrap-around in the running sum cancels in the subtraction)."""
    if tbl["dls"].null_count:
        raise ValueError("index blocks lack dls (written before the "
                         "self-contained block format): rebuild it")
    counts = pc.list_value_length(tbl["doc_deltas"]).to_numpy()
    counts = counts.astype("int64")
    run = np.cumsum(pc.list_flatten(tbl["doc_deltas"]).to_numpy())
    starts = np.cumsum(counts) - counts
    run += np.repeat(tbl["first_doc"].to_numpy() - run[starts], counts)
    return (
        counts,
        run,
        pc.list_flatten(tbl["tfs"]).to_numpy(),
        pc.list_flatten(tbl["dls"]).to_numpy(),
    )
