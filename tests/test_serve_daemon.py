"""End-to-end test for the warm-serve daemon (tools/serve_daemon.py):
index on disk -> fresh JVM -> warm() -> micro-batched stdin queries ->
JSON-lines results. The whole piped burst must land in ONE fused batch
(amortization is the daemon's reason to exist), per-query hits must
match the single-query engine, and EOF must shut it down cleanly."""

import json
import subprocess
import sys
from pathlib import Path

import pytest

from conftest import build_fixture_engine
from fixtures_data import PLANETS

REPO = Path(__file__).resolve().parents[1]


@pytest.fixture(scope="module")
def planets_index(spark, tmp_path_factory):
    idx = tmp_path_factory.mktemp("daemon_idx")
    build_fixture_engine(spark, PLANETS, idx)
    return idx


def run_daemon(index_dir, lines, extra_args=()):
    proc = subprocess.run(
        [sys.executable, str(REPO / "tools" / "serve_daemon.py"),
         str(index_dir), "--k", "5", "--master", "local[2]",
         "--linger-ms", "200", *extra_args],
        input="\n".join(lines) + "\n",
        capture_output=True, text=True, timeout=600, cwd=str(REPO),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return [json.loads(ln) for ln in proc.stdout.splitlines() if ln]


def test_daemon_batches_and_answers(planets_index):
    msgs = run_daemon(
        planets_index,
        ["jupiter", "", "saturn giant", "nosuchterm"],  # blank line skipped
    )
    assert msgs[0] == {"type": "ready", "docs": 2, "tier": "spark",
                   "shards": 1}
    results = [m for m in msgs if m["type"] == "result"]
    stats = [m for m in msgs if m["type"] == "batch_stats"]
    # the piped burst was pending before the first drain -> ONE batch
    # of the 3 non-empty queries (the whole point: 1/B job overhead each)
    assert sum(s["n_queries"] for s in stats) == 3
    assert len(stats) == 1 and stats[0]["ms_per_query"] > 0
    by_query = {m["query"]: m for m in results}
    assert set(by_query) == {"jupiter", "saturn giant", "nosuchterm"}
    # both PLANETS docs mention Jupiter (SATURN_TEXT: "after Jupiter")
    jup = by_query["jupiter"]
    assert jup["n_hits"] == 2
    assert {h["url"] for h in jup["hits"]} == {
        "https://en.wikipedia.org/wiki/Jupiter",
        "https://en.wikipedia.org/wiki/Saturn",
    }
    assert all(h["introduction"] for h in jup["hits"])
    # conjunctive: "saturn" appears only in the Saturn doc
    sat = by_query["saturn giant"]
    assert [h["url"] for h in sat["hits"]] == [
        "https://en.wikipedia.org/wiki/Saturn"
    ]
    # a query with no posting rows still gets its result line
    assert by_query["nosuchterm"]["n_hits"] == 0


def test_daemon_bm25_mode(planets_index):
    msgs = run_daemon(planets_index, ["jupiter planet"], ("--bm25",))
    res = [m for m in msgs if m["type"] == "result"]
    assert len(res) == 1 and res[0]["n_hits"] == 2
    scores = [h["score"] for h in res[0]["hits"]]
    assert scores == sorted(scores, reverse=True) and scores[0] > 0


def test_daemon_local_tier(planets_index):
    """--tier local serves through LocalIndexReader (no Spark session):
    same protocol, same hits as the spark tier on the same queries."""
    msgs = run_daemon(
        planets_index,
        ["jupiter", "saturn giant", "nosuchterm"],
        ("--tier", "local"),
    )
    assert msgs[0] == {"type": "ready", "docs": 2, "tier": "local",
                   "shards": 1}
    by_query = {m["query"]: m for m in msgs if m["type"] == "result"}
    assert {h["url"] for h in by_query["jupiter"]["hits"]} == {
        "https://en.wikipedia.org/wiki/Jupiter",
        "https://en.wikipedia.org/wiki/Saturn",
    }
    assert [h["url"] for h in by_query["saturn giant"]["hits"]] == [
        "https://en.wikipedia.org/wiki/Saturn"
    ]
    assert by_query["nosuchterm"]["n_hits"] == 0
    assert all(h["introduction"] for h in by_query["jupiter"]["hits"])
    stats = [m for m in msgs if m["type"] == "batch_stats"]
    assert sum(s["n_queries"] for s in stats) == 3


def test_daemon_local_tier_bm25(planets_index):
    msgs = run_daemon(
        planets_index, ["jupiter planet"], ("--tier", "local", "--bm25")
    )
    res = [m for m in msgs if m["type"] == "result"]
    assert len(res) == 1 and res[0]["n_hits"] == 2
    scores = [h["score"] for h in res[0]["hits"]]
    assert scores == sorted(scores, reverse=True) and scores[0] > 0


def test_daemon_local_tier_wand(planets_index):
    """--wand serves BM25 through the block-pruned path — hits identical
    to the exhaustive --bm25 serving above."""
    bm25 = run_daemon(
        planets_index, ["jupiter planet"], ("--tier", "local", "--bm25")
    )
    wand = run_daemon(
        planets_index, ["jupiter planet"],
        ("--tier", "local", "--wand"),
    )
    get = lambda msgs: [m for m in msgs if m["type"] == "result"][0]
    assert get(wand)["hits"] == get(bm25)["hits"]


def test_daemon_refresh_auto(spark, tmp_path):
    """--refresh auto picks up index mutations between batches without a
    restart: the daemon answers from its open snapshot, the index is
    tombstoned underneath it, and the NEXT batch first emits a
    "refreshed" line and then serves the post-delete state. Interactive
    (Popen) because the mutation must land mid-session."""
    import queue
    import threading

    from search_engine_spark.operators.deletes import delete_docs

    idx = tmp_path / "refresh_daemon_idx"
    build_fixture_engine(spark, PLANETS, idx)

    proc = subprocess.Popen(
        [sys.executable, str(REPO / "tools" / "serve_daemon.py"),
         str(idx), "--k", "5", "--tier", "local", "--refresh", "auto",
         "--linger-ms", "100"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True, cwd=str(REPO),
    )

    # a reader thread, not select(): readline buffers ahead, so the fd
    # can look unreadable while whole lines sit in the TextIO buffer
    lines: "queue.Queue[str]" = queue.Queue()
    threading.Thread(
        target=lambda: [lines.put(ln) for ln in proc.stdout],
        daemon=True,
    ).start()

    def read_msg(timeout=120.0):
        try:
            return json.loads(lines.get(timeout=timeout))
        except queue.Empty:
            raise AssertionError("daemon produced no output in time")

    try:
        ready = read_msg()
        assert ready["type"] == "ready" and ready["docs"] == 2

        proc.stdin.write("jupiter\n")
        proc.stdin.flush()
        first = read_msg()
        assert first["type"] == "result" and first["n_hits"] == 2

        read_msg()  # batch_stats
        delete_docs(
            spark, str(idx),
            urls=["https://en.wikipedia.org/wiki/Jupiter"],
        )

        proc.stdin.write("jupiter\n")
        proc.stdin.flush()
        refreshed = read_msg()
        assert refreshed == {"type": "refreshed", "docs": 1}
        second = read_msg()
        assert second["type"] == "result" and second["n_hits"] == 1
        assert second["hits"][0]["url"] == (
            "https://en.wikipedia.org/wiki/Saturn"
        )
    finally:
        proc.stdin.close()
        proc.wait(timeout=60)
    assert proc.returncode == 0, proc.stderr.read()[-3000:]


def test_daemon_local_tier_fleet(spark, tmp_path):
    """--shards 2 routes the local tier through a term-range fleet
    (serving/fleet.py) — the serving protocol is shard-count-
    transparent: identical hits to the single-reader local tier, for
    parity search AND bm25. Needs an index with >=2 blocks files, so
    it builds its own corpus instead of the 2-doc planets fixture."""
    from search_engine_spark.config import (
        DEMO_STOP_WORDS, EngineConfig, ScoreWeights,
    )
    from search_engine_spark.operators.index_build import build_index
    from search_engine_spark.sources.transcripts import (
        corpus_from_transcripts, synthesize_transcripts,
    )

    cfg = EngineConfig(
        stop_words=DEMO_STOP_WORDS, score_weights=ScoreWeights()
    )
    idx = tmp_path / "fleet_daemon_idx"
    tx = synthesize_transcripts(
        spark, "/root/testdata/sf0.001/documents.parquet", replicate=2
    )
    build_index(
        spark, corpus_from_transcripts(tx), str(idx), config=cfg,
        segments=2,
    )
    queries = ["window merge", "filter join window", "nosuchterm"]
    single = run_daemon(idx, queries, ("--tier", "local"))
    fleet = run_daemon(
        idx, queries, ("--tier", "local", "--shards", "2")
    )
    assert fleet[0]["type"] == "ready" and fleet[0]["shards"] == 2
    assert fleet[0]["docs"] == single[0]["docs"]
    one = {m["query"]: m["hits"] for m in single if m["type"] == "result"}
    two = {m["query"]: m["hits"] for m in fleet if m["type"] == "result"}
    assert one == two

    sb = run_daemon(idx, queries, ("--tier", "local", "--bm25"))
    fb = run_daemon(
        idx, queries, ("--tier", "local", "--bm25", "--shards", "2")
    )
    one = {m["query"]: m["hits"] for m in sb if m["type"] == "result"}
    two = {m["query"]: m["hits"] for m in fb if m["type"] == "result"}
    assert one == two


def test_daemon_rejects_refresh_auto_with_shards(planets_index):
    """Shard views freeze their blocks files when they are made, so a
    refreshed fleet would serve new stats and tombstones over old
    postings — a snapshot that never existed. The flag pair is refused
    before any reader opens."""
    proc = subprocess.run(
        [sys.executable, str(REPO / "tools" / "serve_daemon.py"),
         str(planets_index), "--tier", "local", "--shards", "2",
         "--refresh", "auto"],
        input="", capture_output=True, text=True, timeout=120,
        cwd=str(REPO),
    )
    assert proc.returncode == 2, proc.stderr[-3000:]
    assert "--refresh auto needs --shards 1" in proc.stderr
    assert proc.stdout == ""
