"""Benchmark of the search engine: two workloads, one command.

    python3 perfbench/run.py --workload {serve,ingest} \
        --seed N --seconds S --trace {0,1}

Run it from the repository root. It makes its inputs from ``--seed``
(a seeded documents table shaped like the sf0.1 test data), builds the
index with Spark at ``local[nproc]``, runs the workload's timed phase
with one closed-loop client, checks every answer, and prints one JSON
object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics (from in-memory spans around the calls into each
layer, written out at the end) and the tracing overhead. Metric names,
units and targets are in ``layers.py``; see README.md.

Everything the run writes stays under ``perfbench/.work/``: inputs,
indexes, Spark's local directories and, in ``artifacts/``, one JSON
record per run (host, versions, CPU steal, all metrics, failures).
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("serve", "ingest")
TIME_LIMIT_S = 170


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "smoke"), default="bench",
                    help="input size; smoke is the smoke test's sf0.001 size")
    ap.add_argument("--inject-wrong-answer", action="store_true",
                    help="corrupt the first checked answer (checker test)")
    ap.add_argument("--no-stats-after-compact", action="store_true",
                    help="ingest: leave out the stats refresh after "
                         "compaction, which shows the engine's duplicated "
                         "blocks (defect test)")
    return ap.parse_args(argv)


def _isolate(work: Path) -> None:
    """Keep every file the run writes (Python temp files, the shipped
    package zip, Spark's local directories, JVM temp) inside the work
    directory, and the Spark driver heap small."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")


def _start_spark():
    from search_engine_spark.session import get_spark
    from workloads import SHUFFLE_PARTITIONS

    return get_spark(
        master=f"local[{len(os.sched_getaffinity(0))}]",
        app_name="perfbench",
        shuffle_partitions=SHUFFLE_PARTITIONS,
    )


def _stop_spark(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF from its parent
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {TIME_LIMIT_S} s")


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "search_engine_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine sources at {ROOT}/search_engine_spark; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work_root = HERE / ".work"
    work = work_root / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(TIME_LIMIT_S)

    import workloads
    from common import host_info
    from layers import END_TO_END, PER_LAYER, TARGETS, UNITS

    run = workloads.Run(
        args.seed, args.seconds, bool(args.trace), args.scale,
        args.inject_wrong_answer, T_START, work,
        stats_after_compact=not args.no_stats_after_compact,
    )
    spark = None
    try:
        spark = _start_spark()
        run.mark("spark")
        getattr(workloads, args.workload)(run, spark)
        run.finish()
    finally:
        signal.alarm(0)
        if spark is not None:
            _stop_spark(spark)

    names = [n for n, *_ in (PER_LAYER if args.trace else END_TO_END)]
    values = run.layer if args.trace else run.e2e
    metrics = {n: {"value": float(values[n]), "unit": UNITS[n]}
               for n in names}
    ck = run.checker
    artifacts = work_root / "artifacts"
    artifacts.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "scale": args.scale,
        "host": host_info(), "info": run.info,
        "end_to_end": run.e2e,
        "per_layer": {n: {"value": run.layer[n], "unit": UNITS[n],
                          "target": TARGETS[n]} for n in run.layer},
        "attempted": ck.attempted, "failed": ck.failed,
        "failures": ck.notes,
    }
    if args.trace:
        spans = artifacts / f"{stem}.spans.json"
        run.tracer.dump(spans)
        record["spans_file"] = spans.name
    (artifacts / f"{stem}.json").write_text(json.dumps(record, indent=1))
    shutil.rmtree(work, ignore_errors=True)

    host = record["host"]
    print(f"perfbench {args.workload} seed={args.seed} nproc={host['nproc']} "
          f"steal={run.layer['host.steal_pct']:.1f}% "
          f"pyspark={host['pyspark']} pyarrow={host['pyarrow']} "
          f"source={host['source_sha256']} artifact={stem}.json")
    for note in ck.notes:
        print(f"perfbench failure: {note}")
    print(json.dumps({
        "correct": ck.failed == 0,
        "attempted": ck.attempted,
        "failed": ck.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
