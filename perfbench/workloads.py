"""The two workloads. Each one sets up (Spark start, seeded corpus,
cold index build, readers), marks the first timed operation, runs its
timed phase with one closed-loop client, and checks every answer.

- ``serve``: read-only, caches hot. Serve tier, render and WAND, with
  each query the 2-shard fleet serves sent again through it in the same
  loop, and reopens of a second reader between rounds of queries; no
  Spark in the timed path.
- ``ingest``: writes beside reads, caches cold. One warm rebuild, then
  append, stats merge, reader reopen and tombstones, with query blocks
  (paired with a 2-shard fleet over the snapshot) between the writes,
  never overlapping them; compaction (then a stats refresh) and a last
  query block; last the Spark query tier (fused batches, single probes),
  checked against the serve tier.
"""

from __future__ import annotations

import gc
import os
import random
import shutil
import statistics
import time
from pathlib import Path

import numpy as np

from common import (
    Checker,
    QueryPool,
    Tracer,
    cpu_ticks,
    index_sizes,
    install_render_spans,
    p50,
    p99,
    peak_rss_mb,
    rows,
    same_rows,
    shape_mean,
    steal_pct,
    term_dfs,
    write_documents,
)
from layers import PER_LAYER

K = 10
SEGMENTS = 1
# fixed, so the index layout (files per table, fleet shard split) is the
# same on any host; the thread count follows the host (local[nproc])
SHUFFLE_PARTITIONS = 4
WARMUP_BATCH = 4
ROUNDS = 7  # serve's rounds of queries, each followed by reopens
# serve's fresh_lag_s is the mean over its ROUNDS * REOPENS_PER_ROUND
# reopens: one reopen's time is bimodal (~0.55 and ~0.65 s on a 4-CPU
# host), so a median of a few flips between the modes from run to run
REOPENS_PER_ROUND = 2
# forced reopens per ingest snapshot: each empties the caches and is
# followed by a cold pass over the pool, so the cold tail is sampled at
# several points in time rather than in one short window
COLD_PASSES = 2
FLAT_REP = 1  # ingest's corpus: one copy of each synthesized conversation
CYCLES = 2  # ingest's append/delete/refresh cycles
PROBES = 1  # single-probe Spark queries per kind
SCORE_REL = 1e-14  # Spark's Math.log vs libm's log: 1 ULP in the idf

SCALES = {
    # 5000 documents = sf0.1's documents table; 8 turns per conversation
    "bench": {
        "docs": 5000, "serve_rep": 2,
        "pool": 30, "min_queries": 1050,
        "slice_convs": 32, "delete_convs": 2,
        "block_queries": 150, "batch": 24,
    },
    # sf0.001-sized (500 documents): the smoke test's scale
    "smoke": {
        "docs": 500, "serve_rep": 1,
        "pool": 6, "min_queries": 63,
        "slice_convs": 3, "delete_convs": 1,
        "block_queries": 21, "batch": 8,
    },
}

LOCAL_SPAN = {
    "and2": "serving.local.search",
    "phrase": "serving.local.search_phrase",
    "bm25": "serving.local.search_bm25",
    "bm25_and": "serving.local.search_bm25",
    "wand_tail": "serving.local.wand_topk",
    "wand_head": "serving.local.wand_topk",
}
FLEET_SPAN = {
    "and2": "serving.fleet.search",
    "phrase": "serving.fleet.search",
    "bm25": "serving.fleet.search_bm25",
    "bm25_and": "serving.fleet.search_bm25",
}
RENDER_SHAPES = ("and2", "phrase", "bm25")
PARITY_SHAPES = ("and2", "phrase")


def _config():
    from search_engine_spark.config import (
        DEMO_STOP_WORDS,
        EngineConfig,
        ScoreWeights,
    )

    return EngineConfig(stop_words=DEMO_STOP_WORDS,
                        score_weights=ScoreWeights())


def ask(reader, shape: str, q: str):
    """One query of a pool shape, through a LocalIndexReader or (for the
    non-WAND shapes) a FleetReader."""
    if shape in PARITY_SHAPES:
        return reader.search(q, max_count=K)
    if shape == "bm25":
        return reader.search_bm25(q, k=K, with_results=True)
    if shape == "bm25_and":
        return reader.search_bm25(q, k=K, conjunctive=True)
    if shape == "marker":  # every turn carrying the token; url is last
        return reader.search_bm25(q, k=1 << 30, with_results=True)
    return reader.wand_topk(q, k=K)


def _paired(queries, with_fleet: bool):
    """(via_fleet, shape, query): each query for the single reader, then
    again for the fleet when it serves the shape."""
    for shape, q in queries:
        yield False, shape, q
        if with_fleet and shape in FLEET_SPAN:
            yield True, shape, q


class Run:
    """State of one benchmark run: its inputs, the tracer and checker,
    and the metrics it collects."""

    def __init__(self, seed: int, seconds: float, trace: bool, scale: str,
                 corrupt: bool, t_start: float, work: Path,
                 stats_after_compact: bool = True):
        self.seed = seed
        self.stats_after_compact = stats_after_compact
        self.seconds = seconds
        self.sc = SCALES[scale]
        self.tracer = Tracer(trace)
        self.checker = Checker(corrupt)
        self._coin = random.Random(seed)  # which queries a traced run traces
        self.t_start = t_start
        self.work = work
        self.cfg = _config()
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {n: 0.0 for n, *_ in PER_LAYER}
        self.lat: list[float] = []  # untraced serve-tier queries
        # the same, per block: a serve round, an ingest snapshot's block
        self.block_lat: list[list[float]] = [[]]
        self.shape_lat: dict[tuple[str, bool], list[float]] = {}
        self.fleet_lat: dict[str, list[float]] = {}
        self.lags: list[float] = []
        self.wand_stats: list[dict] = []
        self.returned: dict[str, tuple[str, int]] = {}  # rid → (shape, rows)
        self.t_first: float | None = None
        self.ticks = None
        self.info: dict = {}
        if trace:
            install_render_spans(self.tracer)

    # -- phases --------------------------------------------------------------

    def start_timed(self) -> None:
        self.t_first = time.perf_counter()
        self.e2e["setup_s"] = self.t_first - self.t_start
        self.mark("setup")
        self.ticks = cpu_ticks()

    def mark(self, phase: str) -> None:
        """Note when a phase ended (seconds since process start)."""
        self.info.setdefault("phases", {})[phase] = round(
            time.perf_counter() - self.t_start, 3)

    def path(self, name: str) -> str:
        return str(self.work / name)

    # -- building blocks -----------------------------------------------------

    def transcripts(self, spark, replicate: int, tail: bool):
        from search_engine_spark.sources.transcripts import (
            synthesize_transcripts,
        )

        docs = self.work / "documents.parquet"
        if not docs.exists():
            write_documents(docs, self.sc["docs"], self.seed)
        kw = {"tail_vocab": 1000, "tail_stride": 256} if tail else {}
        return synthesize_transcripts(
            spark, str(docs), replicate=replicate, **kw
        )

    def build(self, spark, corpus, index_dir: str, tail: bool):
        """build_index → (BuildResult, seconds, per-stage seconds)."""
        from search_engine_spark.operators.index_build import (
            build_index,
            read_manifest,
        )

        order = ("ts", "conv_id", "turn_idx") if tail else (
            "conv_id", "turn_idx")
        t = time.perf_counter()
        with self.tracer.span("operators.index_build.build_index"):
            res = build_index(spark, corpus, index_dir, config=self.cfg,
                              segments=SEGMENTS, order_cols=order)
        secs = time.perf_counter() - t
        self.mark(f"build {Path(index_dir).name}")
        stages = {"docs": 0.0, "segment": 0.0, "merged": 0.0}
        for e in read_manifest(index_dir):
            if e.get("ok") and e["stage"] in stages:
                stages[e["stage"]] += float(e.get("seconds") or 0.0)
        return res, secs, stages

    def record_stages(self, stages: dict) -> None:
        for name, secs in stages.items():
            self.layer[f"operators.index_build.{name}_s"] = secs

    def record_index(self, index_dir: str, input_bytes: int) -> None:
        sizes = index_sizes(index_dir)
        for t, (nbytes, nfiles) in sizes.items():
            self.layer[f"index.{t}.bytes"] = nbytes
            self.layer[f"index.{t}.files"] = nfiles
        self.e2e["index_bytes_per_input_byte"] = (
            sum(b for b, _ in sizes.values()) / input_bytes)
        self.info["input_bytes"] = input_bytes

    def open_reader(self, index_dir: str):
        from search_engine_spark.serving import LocalIndexReader

        t = time.perf_counter()
        with self.tracer.span("serving.local.open"):
            reader = LocalIndexReader(index_dir, config=self.cfg,
                                      pin_docs=True)
        self.mark(f"open {Path(index_dir).name}")
        return reader, time.perf_counter() - t

    def open_fleet(self, index_dir: str, tag: str = ""):
        from search_engine_spark.serving.fleet import (
            FleetReader,
            make_term_shards,
        )

        dest = self.path(f"shards-{Path(index_dir).name}{tag}")
        t = time.perf_counter()
        with self.tracer.span("serving.fleet.make_term_shards"):
            dirs = make_term_shards(index_dir, dest, n_shards=2)
        self.layer["serving.fleet.make_term_shards_s"] = (
            time.perf_counter() - t)
        with self.tracer.span("serving.fleet.open"):
            fleet = FleetReader(dirs, config=self.cfg, pin_docs=True)
        self.mark(f"fleet open{tag}")
        return fleet

    def pool(self, index_dir: str) -> QueryPool:
        pool = QueryPool(term_dfs(index_dir), self.cfg.stop_words,
                         self.seed, per_shape=self.sc["pool"])
        self.info["skipped_shapes"] = dict(pool.skipped)
        return pool

    # -- answers -------------------------------------------------------------

    def ask_checked(self, reader, shape: str, q: str):
        """Untimed query for checks; None (and a failure) on exception."""
        self.checker.op()
        try:
            return rows(ask(reader, shape, q))
        except Exception as exc:  # noqa: BLE001 - counted, run goes on
            self.checker.fail(f"{shape} {q!r}: {exc!r}")
            return None

    def first_answer(self, reader, shape: str, q: str, got: list) -> None:
        """Differential check of a snapshot's first answer to a query:
        WAND must equal exhaustive BM25 (doc ids and scores, exactly)."""
        if shape.startswith("wand"):
            self.checker.op()
            try:
                want = rows(reader.search_bm25(q, k=K))
            except Exception as exc:  # noqa: BLE001
                self.checker.fail(f"search_bm25 {q!r}: {exc!r}")
                return
            self.checker.check(f"wand_topk != search_bm25 for {q!r}",
                               same_rows, got, want)

    def warm_pass(self, reader, fleet, pool: QueryPool) -> dict:
        """Answer every distinct pool query once (untimed), with the
        first-answer checks, and through the fleet, which must answer
        exactly like the single reader; returns the answers later
        queries must repeat."""
        expected = {}
        for shape, q in pool.distinct():
            got = self.ask_checked(reader, shape, q)
            if got is None:
                continue
            self.first_answer(reader, shape, q, got)
            expected[(shape, q)] = got
            if shape in FLEET_SPAN:
                self.checker.check(f"fleet != single for {shape} {q!r}",
                                   same_rows, self.ask_checked(fleet, shape, q),
                                   got)
        self.mark("warm pass")
        return expected

    def query_loop(self, reader, queries, expected: dict, *,
                   min_n: int, budget_s: float, tag: str, fleet=None,
                   dead: set | None = None,
                   lat: list | None = None) -> None:
        """Closed loop, one client: the next query is sent only after the
        previous one returned. Takes (shape, query) pairs from
        ``queries`` until at least ``min_n`` ran and ``budget_s`` passed
        (or the pairs run out). With ``fleet``, each query of a shape the
        fleet serves is sent again through the fleet right after the
        single reader answered, so both see the same host conditions.
        Every answer is checked: against the snapshot's first answer to
        the same query (with the differential check on that first
        answer; a fleet answer must equal the single reader's), and
        against tombstones."""
        tr = self.tracer
        t0 = time.perf_counter()
        i = 0
        traced = False
        for via_fleet, shape, q in _paired(queries, fleet is not None):
            target = fleet if via_fleet else reader
            span = (FLEET_SPAN if via_fleet else LOCAL_SPAN)[shape]
            if not via_fleet:
                i += 1
                # a coin, not i % 2: the shape schedule has a fixed period
                # and would leave some shapes never traced
                traced = tr.available and self._coin.random() < 0.5
            rid = f"{tag}{i}{'f' if via_fleet else ''}"
            tr.enabled, tr.rid = traced, rid
            self.checker.op()
            t = time.perf_counter()
            try:
                with tr.span(span):
                    out = ask(target, shape, q)
                dt = time.perf_counter() - t
            except Exception as exc:  # noqa: BLE001 - counted
                tr.enabled = tr.available
                self.checker.fail(f"{shape} {q!r}: {exc!r}")
                continue
            tr.enabled = tr.available
            got = rows(out)
            if via_fleet:
                self.fleet_lat.setdefault(shape, []).append(dt)
            else:
                if not traced:
                    self.lat.append(dt)
                    self.block_lat[-1].append(dt)
                self.shape_lat.setdefault((shape, traced), []).append(dt)
                if lat is not None:
                    lat.append(dt)
                if traced:
                    self.returned[rid] = (shape, len(got))
                if shape.startswith("wand"):
                    self.wand_stats.append(dict(reader.last_wand_stats))
            key = (shape, q)
            if key in expected:
                self.checker.check(f"{shape} {q!r} changed answer",
                                   same_rows, got, expected[key])
            else:
                self.first_answer(reader, shape, q, got)
                expected[key] = got
            if dead:
                ids = {int(r[0]) for r in got}
                self.checker.expect(f"tombstoned doc in {q!r}",
                                    not (ids & dead))
            if i >= min_n and time.perf_counter() - t0 >= budget_s:
                break
        self.mark(f"loop {tag}")

    # -- results -------------------------------------------------------------

    def finish(self) -> None:
        ck = self.checker
        self.layer["failed_share"] = ck.failed / max(1, ck.attempted)
        self.layer["host.steal_pct"] = steal_pct(self.ticks, cpu_ticks())
        self.e2e["peak_rss_mb"] = peak_rss_mb()
        lat = self.lat  # untraced queries: all of them in an untraced run
        self.e2e["query_p50_ms"] = 1000 * shape_mean(
            {s: v for (s, traced), v in self.shape_lat.items() if not traced},
            p50)
        # the median of the blocks' p99s: not set by the tail of one
        # block alone (a burst of host interference on serve)
        block_p99 = [1000 * p99(b) for b in self.block_lat if b]
        self.info["block_p99_ms"] = [round(v, 4) for v in block_p99]
        self.e2e["query_p99_ms"] = p50(block_p99)
        self.e2e["qps"] = len(lat) / sum(lat) if lat else 0.0
        self.e2e["fleet_query_p50_ms"] = 1000 * shape_mean(self.fleet_lat, p50)
        self.e2e["fresh_lag_s"] = statistics.fmean(self.lags)
        self.info["shape_p50_ms"] = {
            f"{'fleet' if fl else 'local'}.{s}": round(1000 * p50(v), 4)
            for fl, lats in ((False, {s: v for (s, t), v in
                                      self.shape_lat.items() if not t}),
                             (True, self.fleet_lat))
            for s, v in lats.items()}
        if self.wand_stats:
            ws = self.wand_stats
            pruned = [1.0 - s["surviving_blocks"] / s["blocks_total"]
                      for s in ws if s["fallback"] is None
                      and s["blocks_total"]]
            self.layer["serving.local.wand.pruned_fraction"] = (
                statistics.fmean(pruned) if pruned else 0.0)
            self.layer["serving.local.wand.blocks_read"] = statistics.fmean(
                s["blocks_read"] for s in ws)
            self.layer["serving.local.wand.fallback_share"] = sum(
                s["fallback"] is not None for s in ws) / len(ws)
        if self.tracer.available:
            self._trace_layers()

    def _trace_layers(self) -> None:
        tr, L = self.tracer, self.layer
        for name in ("serving.local.search", "serving.local.search_phrase",
                     "serving.local.search_bm25", "serving.local.wand_topk",
                     "serving.fleet.search", "serving.fleet.search_bm25"):
            L[f"{name}_ms"] = 1000 * p50(tr.durations(name))
        render = [r for r, (s, _) in self.returned.items()
                  if s in RENDER_SHAPES]
        parity = [r for r, (s, _) in self.returned.items()
                  if s in PARITY_SHAPES]
        for name, rids in (
            ("operators.snippets.construct_introduction", render),
            ("operators.scoring.score_page", parity),
            ("functions.tokenizer.tokenize", list(self.returned)),
        ):
            secs, calls = tr.per_request(name, rids)
            L[f"{name}_ms"] = 1000 * p50(secs)
            if name != "functions.tokenizer.tokenize":
                L[f"{name}.calls"] = statistics.fmean(calls) if calls else 0.0
        _, scored = tr.per_request("operators.scoring.score_page", parity)
        returned = sum(self.returned[r][1] for r in parity)
        L["operators.scoring.results_per_scored"] = (
            returned / sum(scored) if sum(scored) else 0.0)
        # per shape, so the two halves' different query mixes cancel
        pairs = [(len(v), p50(v) - p50(self.shape_lat[(s, False)]))
                 for (s, traced), v in self.shape_lat.items()
                 if traced and (s, False) in self.shape_lat]
        if pairs:
            L["trace.overhead_ms"] = 1000 * sum(n * d for n, d in pairs) / sum(
                n for n, _ in pairs)


# -- workloads ---------------------------------------------------------------

def input_bytes(corpus) -> tuple[int, int]:
    """(turns, UTF-8 bytes of their text) of a corpus frame."""
    from pyspark.sql import functions as F

    r = corpus.agg(F.count("*"), F.sum(F.octet_length("text"))).first()
    return int(r[0]), int(r[1] or 0)


def serve(run: Run, spark) -> None:
    from search_engine_spark.sources.transcripts import (
        corpus_from_transcripts,
    )

    sc = run.sc
    corpus = corpus_from_transcripts(
        run.transcripts(spark, sc["serve_rep"], tail=True))
    idx = run.path("serve_idx")
    _, _, stages = run.build(spark, corpus, idx, tail=True)
    run.record_stages(stages)
    n_turns, in_bytes = input_bytes(corpus)
    run.layer["sources.transcripts.turns"] = n_turns
    run.record_index(idx, in_bytes)
    reader, open_s = run.open_reader(idx)
    run.layer["serving.local.open_s"] = open_s
    # serve has no writes: its freshness lag is a forced reopen of the
    # unchanged index until the first answer comes back, on a second
    # reader so that the reopen does not empty the served reader's caches
    side, _ = run.open_reader(idx)
    fleet = run.open_fleet(idx)
    pool = run.pool(idx)
    expected = run.warm_pass(reader, fleet, pool)

    run.start_timed()
    # ROUNDS rounds of queries, each followed by reopens, so both
    # are sampled across the whole timed phase
    stream = pool.schedule(pool.shapes)
    shape, q = pool.distinct()[0]
    refresh = []
    for r in range(ROUNDS):
        if r:
            run.block_lat.append([])
        run.query_loop(reader, stream, expected,
                       min_n=sc["min_queries"] // ROUNDS,
                       budget_s=run.seconds / ROUNDS, tag=f"q{r}.",
                       fleet=fleet)
        for _ in range(REOPENS_PER_ROUND):
            gc.collect()  # the same heap state before each timed reopen
            t = time.perf_counter()
            with run.tracer.span("serving.local.refresh"):
                side.refresh(force=True)
            refresh.append(time.perf_counter() - t)
            got = run.ask_checked(side, shape, q)
            run.lags.append(time.perf_counter() - t)
            run.checker.check("answer changed after reopen", same_rows, got,
                              expected[(shape, q)])
    run.layer["serving.local.refresh_s"] = p50(refresh)
    run.info["reopen_s"] = [round(v, 4) for v in run.lags]


def ingest(run: Run, spark) -> None:
    from pyspark.sql import functions as F

    from search_engine_spark.operators.compaction import compact_index
    from search_engine_spark.operators.deletes import delete_docs
    from search_engine_spark.operators.search import SearchEngine
    from search_engine_spark.sources.transcripts import (
        corpus_from_transcripts,
    )
    from search_engine_spark.streaming.incremental import (
        append_batch,
        refresh_stats,
    )

    sc = run.sc
    tx = run.transcripts(spark, FLAT_REP, tail=False)
    convs = sorted(r[0] for r in tx.select("conv_id").distinct().collect())
    rng = np.random.default_rng(run.seed + 31)
    picked = rng.choice(len(convs),
                        CYCLES * (sc["slice_convs"] + sc["delete_convs"]),
                        replace=False)
    picked = [convs[i] for i in picked]
    cut = CYCLES * sc["slice_convs"]
    held, doomed = picked[:cut], picked[cut:]
    slices = [held[i::CYCLES] for i in range(CYCLES)]
    deletes = [doomed[i::CYCLES] for i in range(CYCLES)]
    # url → text bytes of every held-out and doomed turn
    turn_bytes = {
        f"{c}#{t}": int(b)
        for c, t, b in tx.filter(F.col("conv_id").isin(picked))
        .select("conv_id", "turn_idx", F.octet_length("text")).collect()
    }

    def urls_of(conv_ids):
        pre = tuple(f"{c}#" for c in conv_ids)
        return sorted(u for u in turn_bytes if u.startswith(pre))

    base = corpus_from_transcripts(tx.filter(~F.col("conv_id").isin(held)))
    idx = run.path("ingest_idx")
    run.build(spark, base, idx, tail=False)  # cold: part of set-up
    n_base, base_bytes = input_bytes(base)
    n_live, live_bytes = n_base, base_bytes
    run.layer["sources.transcripts.turns"] = n_base
    reader, open_s = run.open_reader(idx)
    run.layer["serving.local.open_s"] = open_s
    pool = run.pool(idx)
    dead: set[int] = set()
    parts = {k: [] for k in ("append", "delete", "stats", "refresh",
                             "first")}

    def check_markers(upto: int) -> None:
        for i in range(upto):
            want = set(urls_of(slices[i]))
            got = run.ask_checked(reader, "marker", f"mark{i}")
            run.checker.expect(f"marker {i} after compaction",
                               got is not None and {r[-1] for r in got}
                               == want)

    def block(tag: str, n: int) -> None:
        """Queries on a new snapshot: COLD_PASSES times (after a forced
        reopen but the first) every distinct pool query once, on the
        emptied caches, then ``n / COLD_PASSES`` from the Zipf stream,
        paired with a 2-shard fleet over the snapshot."""
        fleet = run.open_fleet(idx, tag)
        run.block_lat.append([])
        answers: dict = {}
        distinct = pool.distinct()
        for p in range(COLD_PASSES):
            if p:
                reader.refresh(force=True)
            cold: list[float] = []
            run.query_loop(reader, iter(distinct), answers,
                           min_n=len(distinct), budget_s=0.0,
                           tag=f"{tag}{p}cold.", dead=dead, lat=cold)
            parts["first"].append(cold[0])
            run.query_loop(reader, pool.schedule(pool.shapes), answers,
                           min_n=n // COLD_PASSES, budget_s=0.0,
                           tag=f"{tag}{p}.", fleet=fleet, dead=dead)

    run.start_timed()
    # one warm rebuild of the base corpus into a side directory: build
    # throughput from a warm JVM, and the rebuilt index must answer like
    # the live one
    side = run.path("rebuild")
    res, secs, stages = run.build(spark, base, side, tail=False)
    side_reader, _ = run.open_reader(side)
    probe = pool.by_shape["bm25"][0]
    got = run.ask_checked(side_reader, "bm25", probe)
    run.checker.check("rebuilt index answers differently", same_rows, got,
                      run.ask_checked(reader, "bm25", probe))
    run.checker.expect(f"rebuild indexed {res.n_docs} != {n_base} turns",
                       res.n_docs == n_base)
    del side_reader
    shutil.rmtree(side, ignore_errors=True)
    run.record_stages(stages)
    run.layer["operators.index_build.turns_per_s"] = res.n_docs / secs

    for i in range(CYCLES):
        marker = f"mark{i}"
        sl = corpus_from_transcripts(
            tx.filter(F.col("conv_id").isin(slices[i])).withColumn(
                "text", F.concat_ws(" ", "text", F.lit(marker))))
        want = urls_of(slices[i])
        gone = urls_of(deletes[i])
        t0 = time.perf_counter()
        with run.tracer.span("streaming.incremental.append_batch"):
            run.checker.op()
            n_new = append_batch(spark, sl, idx, seg_label=f"b{i}",
                                 config=run.cfg)
        t1 = time.perf_counter()
        with run.tracer.span("operators.deletes.delete_docs"):
            run.checker.op()
            n_del = delete_docs(spark, idx, urls=gone, config=run.cfg)
        t2 = time.perf_counter()
        with run.tracer.span("streaming.incremental.refresh_stats"):
            run.checker.op()
            refresh_stats(spark, idx, config=run.cfg)
        t3 = time.perf_counter()
        with run.tracer.span("serving.local.refresh"):
            reader.refresh()
        t4 = time.perf_counter()
        got = run.ask_checked(reader, "marker", marker)
        t5 = time.perf_counter()
        run.lags.append((t1 - t0) + (t3 - t2) + (t5 - t3))
        for k, v in (("append", t1 - t0), ("delete", t2 - t1),
                     ("stats", t3 - t2), ("refresh", t4 - t3)):
            parts[k].append(v)
        n_live += len(want) - len(gone)
        live_bytes += sum(turn_bytes[u] + len(marker) + 1 for u in want)
        live_bytes -= sum(turn_bytes[u] for u in gone)
        run.checker.expect(f"cycle {i}: appended {n_new} != {len(want)}",
                           n_new == len(want))
        run.checker.expect(f"cycle {i}: deleted {n_del} != {len(gone)}",
                           n_del == len(gone))
        run.checker.expect(
            f"cycle {i}: marker query", got is not None
            and sorted(r[-1] for r in got) == want)
        run.checker.expect(f"cycle {i}: count {reader.count()} != {n_live}",
                           reader.count() == n_live)
        dead |= _tombstoned_ids(idx)
        block(f"c{i}q", sc["block_queries"])

    t = time.perf_counter()
    with run.tracer.span("operators.compaction.compact_index"):
        run.checker.op()
        res = compact_index(spark, idx, config=run.cfg)
    run.layer["operators.compaction.compact_index_s"] = (
        time.perf_counter() - t)
    run.layer["operators.compaction.bytes_before"] = res.bytes_before
    run.layer["operators.compaction.bytes_after"] = res.bytes_after
    if run.stats_after_compact:
        # compact_index leaves the unpartitioned blocks files that
        # refresh_stats wrote beside its merged seg=c0 blocks, so every
        # block is there twice (README.md, "Known engine defect"); a
        # stats refresh rewrites the blocks table from the compacted
        # postings
        with run.tracer.span("streaming.incremental.refresh_stats"):
            run.checker.op()
            refresh_stats(spark, idx, config=run.cfg)
    reader.refresh()
    run.checker.expect("count after compaction", reader.count() == n_live)
    check_markers(CYCLES)
    block("cq", sc["block_queries"])

    # the Spark query tier over the maintained index
    engine = SearchEngine(spark, idx, config=run.cfg)
    t = time.perf_counter()
    with run.tracer.span("operators.search.warm"):
        engine.warm().serve_mode()
    run.layer["operators.search.warm_s"] = time.perf_counter() - t
    _batches(run, engine, reader, pool)
    _probes(run, spark, engine, reader, pool)

    run.layer["streaming.incremental.append_batch_s"] = p50(parts["append"])
    run.layer["operators.deletes.delete_docs_s"] = p50(parts["delete"])
    run.layer["streaming.incremental.refresh_stats_s"] = p50(parts["stats"])
    run.layer["serving.local.refresh_s"] = p50(parts["refresh"])
    run.layer["serving.local.first_query_after_refresh_ms"] = 1000 * p50(
        parts["first"])
    run.record_index(idx, live_bytes)


def _tombstoned_ids(index_dir: str) -> set[int]:
    import pyarrow.dataset as ds

    tdir = os.path.join(index_dir, "tombstones")
    if not os.path.isdir(tdir):
        return set()
    t = ds.dataset(tdir, format="parquet").to_table(columns=["doc_id"])
    return set(t["doc_id"].to_pylist())


def _batches(run: Run, engine, reader, pool: QueryPool) -> None:
    """search_many and search_bm25_many over distinct queries, timed
    after one untimed warm-up batch of the same plan shape (a few of the
    queries). Every per-query answer must equal the serve tier's."""
    n = run.sc["batch"]
    parity = [(s, q) for s in PARITY_SHAPES for q in pool.by_shape[s]][:n]
    texts = [q for _, q in parity]
    bm = list(dict.fromkeys(
        pool.by_shape["bm25"] + pool.by_shape["wand_head"]))[:n]
    for m, timed in ((WARMUP_BATCH, False), (n, True)):
        run.tracer.enabled = run.tracer.available and timed
        t = time.perf_counter()
        with run.tracer.span("operators.batch.search_many"):
            s_rows = engine.search_many(texts[:m], max_count=K).collect()
        s_secs = time.perf_counter() - t
        t = time.perf_counter()
        with run.tracer.span("operators.batch.search_bm25_many"):
            b_rows = engine.search_bm25_many(bm[:m], k=K).collect()
        b_secs = time.perf_counter() - t
    run.tracer.enabled = run.tracer.available
    run.layer["operators.batch.search_many_s"] = s_secs
    run.layer["operators.batch.search_bm25_many_s"] = b_secs
    run.layer["operators.batch.qps"] = (len(texts) + len(bm)) / (
        s_secs + b_secs)

    def by_query(rs, cols):
        out: dict[int, list] = {}
        for r in sorted(rs, key=lambda r: (r["query_id"], r["rank"])):
            out.setdefault(r["query_id"], []).append(
                tuple(r[c] for c in cols))
        return out

    got = by_query(s_rows, ["doc_id", "score", "title", "introduction",
                            "url"])
    for qid, (shape, q) in enumerate(parity):
        run.checker.op()
        run.checker.check(f"search_many[{qid}] != reader", same_rows,
                          got.get(qid, []), rows(ask(reader, shape, q)))
    got = by_query(b_rows, ["doc_id", "score", "n_terms"])
    for qid, q in enumerate(bm):
        run.checker.op()
        want = rows(reader.search_bm25(q, k=K))
        run.checker.check(
            f"search_bm25_many[{qid}] != reader",
            lambda a, b: same_rows(a, b, score_col=1, rel=SCORE_REL),
            got.get(qid, []), want)


def _probes(run: Run, spark, engine, reader, pool: QueryPool) -> None:
    """A seeded sample of single-probe Spark queries (parity search and
    BM25), each in its own job group so its Spark jobs can be counted;
    answers must equal the serve tier's."""
    sc = spark.sparkContext
    rng = np.random.default_rng(run.seed + 53)
    n = PROBES
    picks = [("search", q) for q in rng.choice(pool.by_shape["and2"], n)]
    picks += [("bm25", q) for q in rng.choice(pool.by_shape["bm25"], n)]
    lat: dict[str, list] = {"search": [], "bm25": []}
    jobs = []
    for i, (kind, q) in enumerate(picks):
        q = str(q)
        gid = f"perfbench-probe-{i}"
        sc.setJobGroup(gid, kind)
        run.checker.op()
        t = time.perf_counter()
        try:
            if kind == "search":
                with run.tracer.span("operators.search.search"):
                    got = rows(engine.search(q, max_count=K).toPandas())
            else:
                with run.tracer.span("operators.bm25.search_bm25"):
                    got = rows(engine.search_bm25(q, k=K).toPandas())
        except Exception as exc:  # noqa: BLE001 - counted, run goes on
            run.checker.fail(f"spark {kind} {q!r}: {exc!r}")
            continue
        lat[kind].append(time.perf_counter() - t)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(gid)))
        if kind == "search":
            run.checker.check(f"SearchEngine.search {q!r} != reader",
                              same_rows, got, rows(ask(reader, "and2", q)))
        else:
            run.checker.check(
                f"SearchEngine.search_bm25 {q!r} != reader",
                lambda a, b: same_rows(a, b, score_col=1, rel=SCORE_REL),
                got, rows(reader.search_bm25(q, k=K)))
    sc.setLocalProperty("spark.jobGroup.id", None)
    run.layer["operators.search.search_ms"] = 1000 * p50(lat["search"])
    run.layer["operators.bm25.search_bm25_ms"] = 1000 * p50(lat["bm25"])
    run.layer["spark.jobs_per_query"] = statistics.fmean(jobs) if jobs else 0
