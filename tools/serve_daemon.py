"""Long-running warm-serve daemon over a built index — the persistent
serving tier the scale analysis in BENCH.md/SCALE.md describes: one
process warms the engine once (pinned postings/docs caches, serve_mode
AQE settings), then serves query batches for its whole lifetime at the
batch-amortized cost instead of the single-probe Spark job floor.

Where tools/repl.py is the human-facing analogue of the reference's
demo driver (/root/reference/src/demo.ts:159-190) and
streaming/serving.py is the file-queue Structured Streaming tier, this
is the pipe-facing variant: line-oriented stdin in, JSON lines out, so
any process can drive it (`mkfifo` + a producer, a socket relay, a test
harness) without touching Spark.

Protocol:
  stdin   one query per line (UTF-8). Empty lines are ignored. EOF
          shuts the daemon down cleanly.
  stdout  JSON lines:
            {"type": "ready", "docs": N}            once, after warm()
            {"type": "result", "query_id": i, "query": s,
             "n_hits": n, "hits": [{title, url, introduction
             [, score]}...]}                        once per query
            {"type": "batch_stats", "batch": b, "n_queries": q,
             "wall_ms": w, "ms_per_query": m}       once per micro-batch
            {"type": "refreshed", "docs": N}        with --refresh auto,
                    when a batch found the index advanced and the daemon
                    swapped to the new snapshot before serving it

Batching: a reader thread feeds a queue; the serve loop blocks for the
first pending query, then keeps draining until the queue stays empty
for --linger-ms (or --max-batch is hit). Everything pending lands in
ONE fused plan (operators/batch.py), so a burst of B queries pays
~1/B of the per-job overhead each — the measured 15-21x amortization
over single-probe latency. A lone query ships after the linger with no
artificial batching delay beyond it.

Tiers (--tier):
  spark (default)  warm Spark engine, micro-batched fused plans — the
                   throughput tier (amortized ms/query).
  local            serving/local.py `LocalIndexReader`: no Spark, no
                   JVM — single-probe answers in ~3-20 ms each (the
                   latency tier; batching is irrelevant, each query is
                   served as it arrives within the drained batch).
                   With --shards N the same tier runs as a term-range
                   FLEET (serving/fleet.py): N readers over symlinked
                   term-range views of the index, coordinator-merged —
                   identical answers at any shard count (the serving
                   protocol is shard-transparent; pytest-gated).

Usage:
    python tools/serve_daemon.py <index_dir> [--bm25] [--k 10]
        [--max-batch 256] [--linger-ms 50] [--master local[N]]
        [--tier spark|local] [--wand] [--refresh off|auto]

--refresh auto: before each batch, poll the index's snapshot token (a
few stat calls — serving/local.snapshot_token) and pick up appended
segments / refreshed stats / new tombstones without restarting: the
local tier reopens its reader, the spark tier re-warms the engine. The
serving fleet's rolling refresh for serve-while-ingest. Not with
--shards > 1: the shard views are a snapshot of the blocks files.

--wand (local tier): BM25 ranking answered through serve-tier Block-Max
WAND (serving/local.py wand_topk) — identical results, but per-query IO
bounded by SURVIVING posting blocks instead of term df, the right mode
when the shard's head-term slivers exceed what a probe should read.
"""

from __future__ import annotations

import argparse
import json
import queue
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from search_engine_spark.config import DEMO_STOP_WORDS, EngineConfig, ScoreWeights
from search_engine_spark.operators.search import SearchEngine
from search_engine_spark.session import get_spark

_EOF = object()


def _reader(q: "queue.Queue") -> None:
    """Push stdin lines into the queue; a sentinel marks EOF. A thread
    (not select on the fd) so Python's buffered readline can't desync
    from readiness polling when the producer writes in large chunks."""
    for line in sys.stdin:
        q.put(line.rstrip("\n"))
    q.put(_EOF)


def drain_batch(q: "queue.Queue", max_batch: int, linger_s: float):
    """Block for the first pending line, then keep draining until the
    queue stays empty for ``linger_s`` or ``max_batch`` is reached.
    Returns (texts, eof_seen)."""
    texts: list[str] = []
    eof = False
    while not eof and len(texts) < max_batch:
        try:
            item = q.get(timeout=None if not texts else linger_s)
        except queue.Empty:
            break
        if item is _EOF:
            eof = True
        elif item.strip():
            texts.append(item)
    return texts, eof


def serve_batch(engine, texts, k: int, bm25: bool) -> dict:
    """One fused plan for the whole batch; returns per-query hit lists
    keyed by position (queries with no rows still get an entry)."""
    if bm25:
        df = engine.search_bm25_many(texts, k=k, with_results=True)
        cols = ("title", "url", "introduction", "score")
    else:
        df = engine.search_many(texts, max_count=k)
        cols = ("title", "url", "introduction")
    hits: dict[int, list] = {i: [] for i in range(len(texts))}
    # bounded: <= k * |texts| rows by construction (top-k per query)
    for r in df.collect():
        hits[int(r["query_id"])].append({c: r[c] for c in cols})
    return hits


def serve_batch_local(
    reader, texts, k: int, bm25: bool, wand: bool = False
) -> dict:
    """Per-probe serving through the in-process reader (each query is
    already ~ms — no fused plan needed or possible without Spark).
    ``wand``: answer BM25 through the block-pruned Block-Max WAND path
    (rank/score-identical to exhaustive, reads surviving blocks only —
    the beyond-node-RAM head-term shape)."""
    hits: dict[int, list] = {}
    for i, text in enumerate(texts):
        if wand:
            pdf = reader.wand_topk(text, k=k, with_results=True)
            cols = ("title", "url", "introduction", "score")
        elif bm25:
            pdf = reader.search_bm25(text, k=k, with_results=True)
            cols = ("title", "url", "introduction", "score")
        else:
            pdf = reader.search(text, max_count=k)
            cols = ("title", "url", "introduction")
        hits[i] = [
            {
                c: (float(row[c]) if c == "score" else row[c])
                for c in cols
            }
            for row in pdf.to_dict("records")
        ]
    return hits


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("index_dir")
    ap.add_argument("--bm25", action="store_true",
                    help="BM25 ranking instead of reference scoring")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--max-batch", type=int, default=256)
    ap.add_argument("--linger-ms", type=float, default=50.0)
    ap.add_argument("--master", default=None)
    ap.add_argument("--tier", choices=("spark", "local"), default="spark")
    ap.add_argument("--shards", type=int, default=1,
                    help="local tier only: serve through a term-range "
                         "fleet of N readers over symlinked shard views "
                         "of the index (identical answers at any N)")
    ap.add_argument("--wand", action="store_true",
                    help="local tier only: BM25 via block-pruned "
                         "Block-Max WAND (identical results, block-"
                         "bounded reads)")
    ap.add_argument("--refresh", choices=("off", "auto"), default="off",
                    help="auto: poll the index's snapshot token (a few "
                         "stat calls) before each batch and pick up "
                         "appended segments / refreshed stats / new "
                         "tombstones without restarting — the serving "
                         "fleet's rolling-refresh. local tier reopens "
                         "the reader; spark tier re-warms the engine.")
    args = ap.parse_args()
    if args.wand and args.tier != "local":
        ap.error("--wand requires --tier local (the Spark tier serves "
                 "ranked batches through the fused bm25 plan)")
    if args.shards > 1 and args.tier != "local":
        ap.error("--shards requires --tier local")
    if args.shards > 1 and args.wand:
        ap.error("--wand is per-node; the fleet coordinator serves the "
                 "merged exhaustive slivers (identical results)")
    if args.shards > 1 and args.refresh == "auto":
        ap.error("--refresh auto needs --shards 1: shard views freeze "
                 "their blocks files at start, so a refreshed fleet "
                 "would mix new stats and tombstones with old postings")

    cfg = EngineConfig(stop_words=DEMO_STOP_WORDS,
                       score_weights=ScoreWeights())
    shard_tmp = None
    if args.tier == "local":
        from search_engine_spark.serving import (
            FleetReader, LocalIndexReader, make_term_shards,
        )

        engine = None
        if args.shards > 1:
            import tempfile

            shard_tmp = tempfile.mkdtemp(prefix="serve_shards_")
            reader = FleetReader(
                make_term_shards(args.index_dir, shard_tmp, args.shards),
                config=cfg, pin_docs=True,
            )
        else:
            reader = LocalIndexReader(args.index_dir, config=cfg,
                                      pin_docs=True)
        n_docs = reader.count()
    else:
        spark = get_spark(master=args.master)
        engine = SearchEngine(spark, args.index_dir, config=cfg)
        engine = engine.warm().serve_mode()
        n_docs = engine.count()
    out = sys.stdout
    print(json.dumps({"type": "ready", "docs": n_docs,
                      "tier": args.tier, "shards": args.shards}),
          flush=True)

    q: "queue.Queue" = queue.Queue()
    threading.Thread(target=_reader, args=(q,), daemon=True).start()

    from search_engine_spark.serving.local import snapshot_token

    token = snapshot_token(args.index_dir)
    batch_no = 0
    while True:
        texts, eof = drain_batch(q, args.max_batch, args.linger_ms / 1000.0)
        if texts and args.refresh == "auto":
            now = snapshot_token(args.index_dir)
            if now != token:
                # rolling refresh: swap to the new snapshot between
                # batches — in-flight queries always see one consistent
                # snapshot, never a mix
                if args.tier == "local":
                    reader.refresh(force=True)
                    n_docs = reader.count()
                else:
                    # re-warm advances the warmed engine to the current
                    # snapshot and releases the old pinned frames
                    # (SearchEngine.warm's re-warm contract)
                    engine = engine.warm().serve_mode()
                    n_docs = engine.count()
                token = now
                out.write(json.dumps({
                    "type": "refreshed", "docs": n_docs,
                }) + "\n")
                out.flush()
        if texts:
            t0 = time.time()
            if args.tier == "local":
                hits = serve_batch_local(
                    reader, texts, args.k, args.bm25, args.wand
                )
            else:
                hits = serve_batch(engine, texts, args.k, args.bm25)
            wall_ms = 1000.0 * (time.time() - t0)
            for i, text in enumerate(texts):
                out.write(json.dumps({
                    "type": "result", "query_id": i, "query": text,
                    "n_hits": len(hits[i]), "hits": hits[i],
                }) + "\n")
            out.write(json.dumps({
                "type": "batch_stats", "batch": batch_no,
                "n_queries": len(texts), "wall_ms": round(wall_ms, 1),
                "ms_per_query": round(wall_ms / len(texts), 1),
            }) + "\n")
            out.flush()
            batch_no += 1
        if eof:
            break
    if shard_tmp is not None:
        import shutil

        shutil.rmtree(shard_tmp, ignore_errors=True)  # symlink views only


if __name__ == "__main__":
    main()
