"""Incremental index maintenance via Structured Streaming.

The reference is strictly batch (its only "streaming" is incremental XML
parsing of one local file, /root/reference/src/demo.ts:26-64, with serial
``await add(...)`` per doc). The Spark-native generalization: transcript
turns arrive as files in a directory; ``readStream`` + ``foreachBatch``
appends each micro-batch as a new index *segment* (Lucene-style) of
docs, term_positions and blocks; the corpus-global statistics
(corpus_stats / term_stats) are refreshed after draining, without
re-cutting blocks — the same segments-then-merge design the batch
builder uses, so the read side works unchanged on a streamed index.

doc_ids are assigned per batch: ``max existing id + dense row_number over
(conv_id, turn_idx)`` — deterministic within a batch, monotone across
batches (the streaming analogue of the reference's arrival-order rank,
demo.ts:139-144).

Scale notes: each micro-batch is a narrow tokenize + two local-shuffle
group-bys over ONLY the new turns; nothing rescans the existing index.
``refresh_stats`` is one docs aggregate plus an algebraic groupBy over
the block summaries (map-side combine, skew-safe — see index_build.py).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import fsio
from ..config import EngineConfig
from ..functions.tokenizer import tokenize_expr, tokenize_words_udf
from ..sources.transcripts import TRANSCRIPT_SCHEMA, corpus_from_transcripts
from ..operators.docids import with_global_sequence_counted
from ..operators.index_build import (
    _append_manifest,
    build_blocks,
    read_manifest,
    stop_word_filter,
    write_term_stats,
)


def _max_doc_id(spark: SparkSession, index_dir: str) -> int:
    """Doc-id high-water mark for the next append. Folds in the marks
    the manifest carries (build bounds, compaction's pre-delete
    max_doc_id) so ids of docs deleted-then-compacted away are never
    reused for new documents."""
    docs_dir = os.path.join(index_dir, "docs")
    if not fsio.is_dir(docs_dir):
        return 0
    row = spark.read.parquet(docs_dir).agg(F.max("doc_id").alias("m")).first()
    manifest_hwm = max(
        (
            int(e.get("max_doc_id") or e.get("max_id") or 0)
            for e in read_manifest(index_dir)
        ),
        default=0,
    )
    return max(int(row["m"] or 0), manifest_hwm)


def append_batch(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    seg_label: str,
    config: EngineConfig = EngineConfig(),
    npart: int | None = None,
) -> int:
    """Append one micro-batch of corpus rows as index segment
    ``seg=<seg_label>``. Returns the number of docs appended."""
    t0 = time.time()
    npart = npart or int(spark.conf.get("spark.sql.shuffle.partitions"))
    base = _max_doc_id(spark, index_dir)

    assigned, n_new, seq_cache = with_global_sequence_counted(
        corpus, ["conv_id", "turn_idx"], "doc_id", start=base + 1,
        num_partitions=npart,
    )
    if n_new == 0:
        seq_cache.unpersist()
        return 0

    if config.tokenizer == "arrow":
        words = tokenize_words_udf(F.concat_ws(" ", "title", "text"))
    else:
        words = tokenize_expr(F.concat_ws(" ", "title", "text"))
    docs = assigned.withColumn("words", words).withColumn(
        "n_tokens", F.size("words")
    )
    docs_seg_dir = os.path.join(index_dir, "docs", f"seg={seg_label}")
    doc_obs = Observation(f"docs_{seg_label}")
    docs.select(
        "doc_id", "url", "title", "words", "n_tokens",
        *[c for c in ("conv_id", "turn_idx", "ts") if c in corpus.columns],
    ).observe(doc_obs, F.avg("n_tokens").alias("avgdl")).write.mode(
        "overwrite"
    ).option("compression", config.parquet_codec).parquet(docs_seg_dir)
    # docs write is the terminal read through the doc-id cache — release
    # it here, or a long-running stream leaks one cached frame per batch
    seq_cache.unpersist()
    # read the tokenized docs back — don't retokenize (see build_index)
    docs = spark.read.parquet(docs_seg_dir)

    term_pos = (
        docs.select(
            "doc_id", "n_tokens", F.posexplode("words").alias("pos", "word")
        )
        .select("doc_id", "n_tokens", F.lower("word").alias("term"), "pos")
        .groupBy("doc_id", "term")
        .agg(
            F.sort_array(F.collect_list("pos")).alias("positions"),
            F.first("n_tokens").alias("dl"),
        )
        .persist()
    )
    # one range shuffle, cached post-shuffle; both writes scan it
    laid = (
        term_pos.repartitionByRange(npart, "term", "doc_id")
        .sortWithinPartitions("term", "doc_id")
        .persist()
    )
    (
        laid.select("doc_id", "term", "positions")
        .write.mode("overwrite")
        .option("compression", config.parquet_codec)
        .parquet(os.path.join(index_dir, "term_positions", f"seg={seg_label}"))
    )
    term_pos.unpersist()
    # bake at the avgdl scored with now (the batch's own on an empty
    # index); the bake_avgdl correction covers later refreshes
    stats_path = os.path.join(index_dir, "corpus_stats.json")
    avgdl = (
        json.loads(fsio.read_text(stats_path))["avgdl"]
        if fsio.exists(stats_path) else 0.0
    ) or float(doc_obs.get["avgdl"] or 0.0)
    # one blocks file per micro-batch: each file of each segment costs
    # every cold serve-tier block read one more file open
    build_blocks(
        laid.filter(stop_word_filter(F.col("term"), config.stop_words))
        .select("term", "doc_id", F.size("positions").alias("tf"), "dl")
        .coalesce(1).sortWithinPartitions("term", "doc_id"),
        os.path.join(index_dir, "blocks", f"seg={seg_label}"),
        avgdl,
        config,
    )
    laid.unpersist()
    _append_manifest(
        index_dir,
        {
            "stage": "stream_batch",
            "segment": seg_label,
            "ok": True,
            "n_docs": n_new,
            "seconds": round(time.time() - t0, 3),
        },
    )
    return n_new


def refresh_stats(
    spark: SparkSession,
    index_dir: str,
    config: EngineConfig = EngineConfig(),
    npart: int | None = None,
) -> dict:
    """Recompute corpus_stats and term_stats from the accumulated
    segments (the 'merge' a real deployment would run on a schedule).
    Blocks are left as written: they already hold every posting."""
    npart = npart or int(spark.conf.get("spark.sql.shuffle.partitions"))
    docs = spark.read.parquet(os.path.join(index_dir, "docs"))
    row = docs.agg(
        F.count("*").alias("n_docs"), F.avg("n_tokens").alias("avgdl")
    ).first()
    stats = {"n_docs": int(row["n_docs"]), "avgdl": float(row["avgdl"] or 0.0)}
    fsio.write_text(
        os.path.join(index_dir, "corpus_stats.json"), json.dumps(stats)
    )
    write_term_stats(
        spark.read.parquet(os.path.join(index_dir, "blocks")),
        os.path.join(index_dir, "term_stats"),
        npart,
        config,
    )
    _append_manifest(index_dir, {"stage": "stream_refresh", "ok": True, **stats})
    return stats


def stream_build(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    config: EngineConfig = EngineConfig(),
    max_files_per_trigger: int | None = None,
    refresh: bool = True,
    auto_compact_segments: int | None = None,
):
    """Drain transcript parquet files from ``input_dir`` into the index via
    Structured Streaming (``trigger(availableNow)``): one segment per
    micro-batch, exactly-once per file via the stream checkpoint, then a
    stats refresh so the index is immediately queryable.
    ``auto_compact_segments`` bounds log-structured fragmentation: after
    the drain (and refresh), segments merge-compact when their count
    exceeds the threshold (operators/compaction.compact_if_needed)."""
    reader = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        corpus = corpus_from_transcripts(batch_df)
        append_batch(
            spark, corpus, index_dir, f"stream-{batch_id}", config=config
        )

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if refresh:
        refresh_stats(spark, index_dir, config=config)
    if auto_compact_segments is not None:
        from ..operators.compaction import compact_if_needed

        compact_if_needed(
            spark, index_dir, max_segments=auto_compact_segments,
            config=config,
        )
    return q
