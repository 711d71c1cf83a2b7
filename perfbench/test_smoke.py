"""Smoke test of the benchmark at the sf0.001 scale (500 documents).

    python3 -m pytest perfbench/test_smoke.py -q

Runs each workload twice through the real command line: once untraced
(every end-to-end metric is emitted with its unit and no operation
fails), once traced with a corrupted answer fed to the checker (every
per-layer metric is emitted, and the corruption shows up as a failure).
One more ingest run leaves out the workaround for the compaction defect
(README.md) and is expected to fail until the engine is fixed.
"""

import itertools
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from common import Checker, QueryPool, same_rows  # noqa: E402
from layers import END_TO_END, PER_LAYER  # noqa: E402
from run import WORKLOADS  # noqa: E402


def bench(cwd: Path, workload: str, *extra: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--scale", "smoke", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def runs():
    cache: dict = {}

    def get(workload: str, traced: bool) -> dict:
        key = (workload, traced)
        if key not in cache:
            extra = ("--trace", "1", "--inject-wrong-answer") if traced \
                else ("--trace", "0")
            cache[key] = result(bench(ROOT, workload, *extra))
        return cache[key]

    return get


def test_benchmark_json_lists_the_metrics_and_workloads():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] \
        == END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] \
        == [(n, u, b) for n, u, b, _ in PER_LAYER]
    assert tuple(w["name"] for w in spec["workloads"]) == WORKLOADS


def test_checker_counts_a_corrupted_answer():
    ck = Checker(corrupt=True)
    answer = [(1, 2.0, 1), (2, 1.0, 1)]
    assert not ck.check("corrupted", same_rows, answer, list(answer))
    assert ck.check("clean", same_rows, answer, list(answer))
    assert ck.failed == 1


def test_scores_compare_within_the_stated_tolerance():
    a = [(1, 1.0000000000000002, 2)]
    assert not same_rows(a, [(1, 1.0, 2)])
    assert same_rows(a, [(1, 1.0, 2)], score_col=1, rel=1e-14)
    assert not same_rows(a, [(2, 1.0, 2)], score_col=1, rel=1e-14)


def test_pool_skips_the_tail_shape_without_tail_terms():
    dfs = {t: 100 for t in ("merge", "window", "table", "scan", "join")}
    pool = QueryPool(dfs, frozenset(), seed=3, per_shape=4)
    assert "wand_tail" not in pool.shapes
    assert pool.skipped == {"wand_tail": 4}
    stream = itertools.islice(pool.schedule(pool.shapes), 50)
    assert {s for s, _ in stream} == set(pool.shapes)


def test_fails_without_the_engine_sources(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = bench(tmp_path, "serve")
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_are_emitted(runs, workload):
    r = runs(workload, traced=False)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["attempted"] >= 1
    assert {n: m["unit"] for n, m in r["metrics"].items()} == {
        n: u for n, u, _ in END_TO_END}
    assert all(m["value"] > 0 for m in r["metrics"].values()), r["metrics"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_no_operation_fails(runs, workload):
    r = runs(workload, traced=False)
    assert r["failed"] == 0 and r["correct"], r


@pytest.mark.xfail(
    strict=True,
    reason="engine defect: compact_index leaves refresh_stats' "
           "unpartitioned blocks files in place, so serve-tier wand_topk "
           "reads every block twice after compaction and disagrees with "
           "search_bm25; ingest works around it with a stats refresh")
def test_compaction_without_the_workaround():
    r = result(bench(ROOT, "ingest", "--trace", "0",
                     "--no-stats-after-compact"))
    assert r["failed"] == 0 and r["correct"], r


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_layers_and_counts_a_wrong_answer(runs, workload):
    r = runs(workload, traced=True)
    assert {n: m["unit"] for n, m in r["metrics"].items()} == {
        n: u for n, u, _, _ in PER_LAYER}
    assert r["failed"] >= 1 and not r["correct"]
    assert r["metrics"]["failed_share"]["value"] > 0
    busy = [n for n in (
        "serving.local.search_ms", "serving.local.search_phrase_ms",
        "serving.local.search_bm25_ms", "serving.local.wand_topk_ms",
        "serving.fleet.search_ms", "serving.fleet.search_bm25_ms",
        "operators.snippets.construct_introduction_ms",
        "operators.scoring.score_page_ms", "functions.tokenizer.tokenize_ms",
    )]
    assert all(r["metrics"][n]["value"] > 0 for n in busy), r["metrics"]
