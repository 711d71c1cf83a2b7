"""Shared pieces of the benchmark: seeded inputs, the in-memory span
tracer, the answer checker, and host/index measurements.

Nothing here imports pyspark or the engine at module load, so the entry
point can fail fast (and cleanly) when the engine sources are missing.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import resource
import statistics
import subprocess
import time
from contextlib import contextmanager
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "search_engine_spark"

# the documents table's shape (TESTDATA.md's documents.parquet): ~30
# uniformly hot words, 10-100 words per document, a rare "dup" marker
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("de", "en", "es", "fr", "zh")

INDEX_TABLES = ("docs", "term_positions", "postings", "blocks", "term_stats")


# -- seeded inputs -----------------------------------------------------------

def write_documents(path: Path, n_docs: int, seed: int) -> None:
    """Write a seeded ``documents.parquet`` with the columns and word
    statistics of the sf0.1 test data (doc_id, text, lang, source,
    n_chars), so transcripts synthesized from it look like sf0.1's."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    texts = []
    for _ in range(n_docs):
        words = list(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        if rng.random() < 0.05:
            words[int(rng.integers(0, len(words)))] = "dup"
        texts.append(" ".join(words))
    ids = np.arange(n_docs, dtype="int64")
    pq.write_table(
        pa.table({
            "doc_id": ids,
            "text": texts,
            "lang": [LANGS[i % len(LANGS)] for i in range(n_docs)],
            "source": [f"src{i % 5}" for i in range(n_docs)],
            "n_chars": [len(t) for t in texts],
        }),
        path,
    )


def term_dfs(index_dir: str) -> dict[str, int]:
    """term → df from the index's own ``term_stats`` table."""
    import pyarrow.dataset as ds

    t = ds.dataset(
        os.path.join(index_dir, "term_stats"), format="parquet"
    ).to_table(columns=["term", "df"])
    return dict(zip(t["term"].to_pylist(), t["df"].to_pylist()))


SHAPES = ("and2", "phrase", "bm25", "bm25_and", "wand_tail", "wand_head")
# The closed loop sends the shapes in equal shares: there is no query log
# to weight them by, so no shape is favoured.


class QueryPool:
    """Seeded pool of distinct queries per shape, drawn from the index's
    term_stats, and a Zipf-popularity stream over it.

    The pool is small (``per_shape`` distinct queries each) so that it
    fits the serve tier's plan and block caches: repeated queries hit
    warm caches. ``wand_tail`` (head + Zipf-tail term) needs ``tail_``
    terms; on an index without them the shape is skipped and counted in
    ``skipped``."""

    def __init__(self, dfs: dict[str, int], stop_words, seed: int,
                 per_shape: int):
        rng = np.random.default_rng(seed + 7919)
        # head terms: the uniformly hot body words (title words such as
        # role and tool names have a far lower df, and a seed-dependent
        # share of them in the pool would make query cost seed-dependent)
        top = max(dfs.values())
        head = sorted(
            t for t in dfs
            if not t.startswith("tail_") and t not in stop_words
            and len(t) >= 2 and dfs[t] >= top // 2
        )
        tails = sorted(
            (t for t in dfs if t.startswith("tail_") and dfs[t] >= 10),
            key=lambda t: (dfs[t], t),
        )
        self.skipped: dict[str, int] = {}

        def pick(k):
            return [head[i] for i in rng.choice(len(head), k, replace=False)]

        def distinct(make):
            seen: dict[str, None] = {}
            for _ in range(per_shape * 20):
                if len(seen) == per_shape:
                    break
                seen.setdefault(make(), None)
            return list(seen)

        self.by_shape: dict[str, list[str]] = {
            "and2": distinct(lambda: " ".join(pick(2))),
            "phrase": distinct(
                lambda: '"{} {}" {}'.format(*pick(3))
            ),
            "bm25": distinct(lambda: " ".join(pick(3))),
            "bm25_and": distinct(lambda: " ".join(pick(2))),
            "wand_head": distinct(lambda: " ".join(pick(3))),
        }
        if tails:
            self.by_shape["wand_tail"] = distinct(
                lambda: f"{pick(1)[0]} {tails[int(rng.integers(len(tails)))]}"
            )
        else:
            self.skipped["wand_tail"] = per_shape
        self.shapes = [s for s in SHAPES if s in self.by_shape]
        self._rng = np.random.default_rng(seed + 104729)

    def distinct(self) -> list[tuple[str, str]]:
        return [(s, q) for s in self.shapes for q in self.by_shape[s]]

    def schedule(self, shapes: list[str]):
        """Endless (shape, query) stream over ``shapes``. Shapes take
        turns in a fixed order, so every run sees the same equal mix;
        queries within a shape are drawn by Zipf popularity (rank^-1.1,
        seeded)."""
        probs = {}
        for s in shapes:
            p = 1.0 / np.arange(1, len(self.by_shape[s]) + 1) ** 1.1
            probs[s] = p / p.sum()
        while True:
            for shape in shapes:
                qs = self.by_shape[shape]
                yield shape, qs[int(self._rng.choice(len(qs), p=probs[shape]))]


def shape_mean(by_shape: dict[str, list[float]], stat) -> float:
    """Mean over the shapes of ``stat`` (median, p99) of each shape's
    latencies: the shapes weigh equally, as they are sent. Unlike the
    statistic of the pooled latencies it does not jump between shapes
    when its rank falls in a gap between two shapes' latencies."""
    vals = [stat(v) for v in by_shape.values() if v]
    return statistics.fmean(vals) if vals else 0.0


# -- tracing -----------------------------------------------------------------

class Tracer:
    """In-memory spans: [name, start, end, parent index, request id].

    Off by default; ``enabled`` is flipped per request so a traced run
    can interleave traced and untraced queries and measure the overhead.
    Spans are written out once, at the end of the run."""

    def __init__(self, enabled: bool):
        self.available = enabled
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.rid: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.rid])
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid][2] = time.perf_counter()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a span-recording wrapper, so the
        calls that module makes into another layer are traced."""
        fn = getattr(module, attr)

        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(module, attr, traced)

    def durations(self, name: str) -> list[float]:
        return [e - s for n, s, e, _, _ in self.spans if n == name]

    def per_request(self, name: str, rids) -> tuple[list[float], list[int]]:
        """(summed seconds, call count) of ``name`` spans per request."""
        tot = {r: 0.0 for r in rids}
        cnt = {r: 0 for r in rids}
        for n, s, e, _, rid in self.spans:
            if n == name and rid in tot:
                tot[rid] += e - s
                cnt[rid] += 1
        return [tot[r] for r in rids], [cnt[r] for r in rids]

    def dump(self, path: Path) -> None:
        names = sorted({s[0] for s in self.spans})
        path.write_text(json.dumps({
            "fields": ["name", "start_s", "end_s", "parent", "request_id"],
            "names": names,
            "spans": self.spans,
        }))


def install_render_spans(tracer: Tracer) -> None:
    """Trace the render and tokenizer layers as the serve tier calls
    them (the names ``serving.local`` and ``serving.fleet`` import)."""
    from search_engine_spark.serving import fleet, local

    tracer.wrap(local, "construct_introduction",
                "operators.snippets.construct_introduction")
    tracer.wrap(local, "score_page", "operators.scoring.score_page")
    tracer.wrap(local, "tokenize", "functions.tokenizer.tokenize")
    tracer.wrap(fleet, "tokenize", "functions.tokenizer.tokenize")


# -- answers -----------------------------------------------------------------

def rows(frame) -> list[tuple]:
    """Order-preserving plain tuples of a result frame (pandas)."""
    return [tuple(r) for r in frame.itertuples(index=False)]


def same_rows(a: list[tuple], b: list[tuple], score_col: int | None = None,
              rel: float = 0.0) -> bool:
    """Rows equal; with ``score_col``/``rel`` the score column may differ
    by ``rel`` relative (Spark's Math.log vs libm's log differ by 1 ULP)."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if score_col is None or rel == 0.0:
            if ra != rb:
                return False
            continue
        ka = ra[:score_col] + ra[score_col + 1:]
        kb = rb[:score_col] + rb[score_col + 1:]
        if ka != kb or not math.isclose(
            ra[score_col], rb[score_col], rel_tol=rel, abs_tol=0.0
        ):
            return False
    return True


class Checker:
    """Counts attempted and failed operations. A wrong answer and an
    exception both count as a failure; ``corrupt`` (smoke-test hook)
    perturbs the first answer handed to :meth:`check` so the test can
    show that a wrong answer is caught."""

    def __init__(self, corrupt: bool = False):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self._corrupt = corrupt

    def op(self) -> None:
        self.attempted += 1

    def check(self, what: str, ok_fn, got, want) -> bool:
        if self._corrupt:
            self._corrupt = False
            got = [("corrupted",)] + list(got)[1:] if got else [("corrupted",)]
        ok = bool(ok_fn(got, want))
        if not ok:
            diff = next(
                (f"row {i}: got {a} want {b}"
                 for i, (a, b) in enumerate(zip(got or [], want or []))
                 if a != b),
                f"got {len(got or [])} rows, want {len(want or [])}",
            )
            self.fail(f"{what} ({diff})"[:400])
        return ok

    def expect(self, what: str, ok: bool) -> bool:
        if self._corrupt:
            self._corrupt = False
            ok = False
        if not ok:
            self.fail(what)
        return ok

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.notes) < 20:
            self.notes.append(what)


# -- measurements ------------------------------------------------------------

def p50(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def p99(xs) -> float:
    """Nearest-rank 99th percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(0, math.ceil(0.99 * len(s)) - 1)]


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat's aggregate cpu line."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(before, after) -> float:
    ds, dt = after[0] - before[0], after[1] - before[1]
    return 100.0 * ds / dt if dt > 0 else 0.0


def index_sizes(index_dir: str) -> dict[str, tuple[int, int]]:
    """table → (bytes, parquet files) over the index's tables."""
    out = {}
    for t in INDEX_TABLES:
        nbytes = nfiles = 0
        for p in Path(index_dir, t).rglob("*.parquet"):
            nbytes += p.stat().st_size
            nfiles += 1
        out[t] = (nbytes, nfiles)
    return out


def source_digest() -> str:
    """sha256 over the engine sources (the checkout is not always a git
    repository, so this identifies the code measured)."""
    h = hashlib.sha256()
    for p in sorted(PACKAGE.rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def host_info() -> dict:
    import pyarrow
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except OSError:
        commit = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "commit": commit,
        "source_sha256": source_digest(),
    }
