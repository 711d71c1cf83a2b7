"""DuckDB-oracle gate over every ``queries()`` entry (driver contract).

Local replica of the driver's CORRECTNESS check: each operator's Spark
DataFrame program runs at sf0.001 and is compared — row count, column
names, order-insensitive values — against its ANSI-SQL twin executed by
DuckDB on the same parquet files. Mirrors the reference's end-to-end test
strategy (/root/reference/src/engine.test.ts) lifted to the corpus
operators of SURVEY.md §2 plus the training-data pipeline ops.
"""

from __future__ import annotations

import json
import math
import subprocess
import sys
from pathlib import Path

import duckdb
import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from search_engine_spark.operators.registry import QUERIES  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c]
            if isinstance(v, float):
                v = round(v, 9)
                if math.isclose(v, round(v), abs_tol=1e-9):
                    v = float(round(v))
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if Path(p).exists():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    yield con
    con.close()


def test_first_50_names_are_the_driver_set():
    """The driver's correctness check runs the first 50 registry names,
    in order; CORRECTNESS_r05.json records that set. A deletion or a
    reorder in the registry must not silently change which entries it
    sweeps."""
    driver = json.loads((ROOT / "CORRECTNESS_r05.json").read_text())
    assert list(QUERIES)[:50] == list(driver)


def test_registry_order_independent_of_import_order():
    """Every operators module can be the first one a process imports,
    and the registry comes out in the same order whichever it was (the
    driver reads the first 50 names). Fresh interpreter: the package is
    re-imported once per module."""
    code = """
import importlib, pkgutil, sys
import search_engine_spark.operators as ops
orders = set()
for m in pkgutil.iter_modules(ops.__path__):
    for k in [k for k in sys.modules if k.startswith("search_engine_spark.")]:
        del sys.modules[k]
    importlib.import_module("search_engine_spark.operators." + m.name)
    reg = importlib.import_module("search_engine_spark.operators.registry")
    orders.add(tuple(reg.QUERIES))
assert len(orders) == 1, len(orders)
print(len(next(iter(orders))))
"""
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True,
        text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert int(out.stdout.split()[-1]) == len(QUERIES)

@pytest.mark.parametrize("name", sorted(QUERIES))
def test_matches_duckdb_oracle(spark, duck, name):
    fn, sql = QUERIES[name]
    sdf = fn(spark, SF_DIR)
    s_rows = [r.asDict() for r in sdf.collect()]
    if not sql:
        assert len(s_rows) >= 0  # rows-only contract (non-SQL-expressible)
        return
    cur = duck.execute(sql)
    d_cols = [d[0] for d in cur.description]
    assert sorted(sdf.columns) == sorted(d_cols)
    order = sorted(sdf.columns)
    s_norm = normalize(s_rows, order)
    d_norm = normalize(
        [dict(zip(d_cols, r)) for r in cur.fetchall()], order
    )
    assert len(s_norm) == len(d_norm)
    assert s_norm == d_norm


def test_proximity_oracle_tokenizer_edges(spark, tmp_path):
    """The proximity oracle's regex normalization must agree with the
    engine tokenizer on the awkward separators: tabs/newlines (kept by
    the replace, so the gap classes must accept them), uppercase ÅÄÖ
    (separators to the tokenizer, but lower() would fold them into word
    chars — spaced out before lowering), punctuation, reversed term
    order, the window bound, and the quote-guard."""
    from pyspark.sql import functions as F

    from search_engine_spark.operators.search_extras import (
        SQL_PROXIMITY_SEARCH,
        q_proximity_search,
    )

    rows = [
        (0, "sort\tmerge"),          # tab separator: adjacent
        (1, "sortÅmerge"),           # uppercase Å separates tokens
        (2, "sort x y merge"),       # |pos diff| = 3: inside window
        (3, "sort x y z merge"),     # |pos diff| = 4: outside window
        (4, "merge, sort!"),         # punctuation + reversed order
        (5, "sort\nonly"),           # second term absent
        (6, "sortmerge"),            # fused token is neither term
        (7, 'sort "q" merge'),       # quote char: guarded out on both sides
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.select(
        "doc_id", "text", F.lit("en").alias("lang"),
        F.lit("src0").alias("source"),
        F.length("text").cast("long").alias("n_chars"),
    ).write.parquet(str(tmp_path / "documents.parquet"))

    spark_ids = [
        r["doc_id"] for r in q_proximity_search(spark, str(tmp_path)).collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{tmp_path}/documents.parquet/*.parquet')"
    )
    oracle_ids = [r[0] for r in con.execute(SQL_PROXIMITY_SEARCH).fetchall()]
    con.close()
    assert spark_ids == oracle_ids == [0, 1, 2, 4]


def test_ngram_jaccard_df_cap_kills_zipf_skew(spark, tmp_path):
    """A boilerplate shingle shared by every doc must NOT create O(n^2)
    pairs: the df cap drops it before the self-join, while a genuine
    near-dup pair (overlap through rare shingles) survives — and the
    Jaccard DENOMINATOR still counts all shingles, so boilerplate-heavy
    docs are not inflated into false near-dups."""
    from pyspark.sql import functions as F

    from search_engine_spark.operators.corpus_queries import (
        SHINGLE_DF_CAP,
        _shingles,
        _tokens_df,
        q_ngram_jaccard_pairs,
    )

    boiler = " ".join(f"b{i}" for i in range(15))  # 13 capped shingles
    dup = "orbit probe lander rover beacon relay antenna dish mast"
    rows = [
        # 100 docs whose ONLY mutual overlap is the boilerplate prefix
        (i, f"{boiler} unique{i} token{i} tail{i}")
        for i in range(100)
    ] + [
        (1000, dup), (1001, dup + " extra"),  # true near-dup
        # mostly-boilerplate pair sharing 3 rare shingles: true jaccard
        # 3/(17+17-3)=0.097 < 0.2, but a post-cap denominator would claim
        # 3/(4+4-3)=0.6 and report a false near-dup
        (2000, f"{boiler} shared rare thing u2000"),
        (2001, f"{boiler} shared rare thing u2001"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.select(
        "doc_id", "text", F.lit("en").alias("lang"),
        F.lit("src0").alias("source"),
        F.length("text").cast("long").alias("n_chars"),
    ).write.parquet(str(tmp_path / "documents.parquet"))

    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in q_ngram_jaccard_pairs(spark, str(tmp_path)).collect()
    }
    assert (1000, 1001) in pairs  # real near-dup survives
    # boilerplate-only pairs are gone (without the cap each of the 5000+
    # pairs would share 13 shingles)
    assert not any(a < 100 and b < 100 for a, b in pairs)
    # rare-overlap-but-mostly-boilerplate pair correctly below threshold
    assert (2000, 2001) not in pairs

    n_dropped = (
        _tokens_df(spark, str(tmp_path))
        .select("doc_id", F.explode(_shingles(F.col("toks"))).alias("sh"))
        .groupBy("sh")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") > SHINGLE_DF_CAP)
        .count()
    )
    assert n_dropped == 13  # the boilerplate-interior shingles


def test_infix_gram_blocking_needs_verify(spark, tmp_path):
    """The n-gram candidate stage over-matches when the pattern's grams
    appear non-adjacently ('aba' ⊂ grams of 'abba'); the contains()
    verify must drop those, and true matches anywhere in the term must
    survive. Runs the operator with a 3-char pattern so the candidate
    set needs BOTH grams."""
    from unittest import mock

    from pyspark.sql import functions as F

    from search_engine_spark.operators import mining_extras

    rows = [
        (0, "abax"),    # true match: prefix position
        (1, "xabay"),   # true match: interior position
        (2, "abba"),    # FALSE candidate: has 'ab' and 'ba', not 'aba'
        (3, "abxba"),   # FALSE candidate: grams split across the term
        (4, "zzz"),     # no grams in common
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.select(
        "doc_id", "text", F.lit("en").alias("lang"),
        F.lit("src0").alias("source"),
        F.length("text").cast("long").alias("n_chars"),
    ).write.parquet(str(tmp_path / "documents.parquet"))

    with mock.patch.object(mining_extras, "INFIX", "aba"):
        got = [
            (r["term"], r["df"])
            for r in mining_extras.q_infix_search(spark, str(tmp_path)).collect()
        ]
    assert got == [("abax", 1), ("xabay", 1)]


def test_funnel_strict_ordering_and_cohort_offsets(spark, tmp_path):
    """funnel_stages must require each stage's first hit to be strictly
    AFTER the previous stage's first hit (not a type histogram), and
    cohort_retention must place users in their first-activity week with
    exact week offsets."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from search_engine_spark.operators.behavior_extras import (
        q_cohort_retention,
        q_funnel_stages,
    )

    def ev(eid, ts, uid, etype):
        return (eid, datetime.fromisoformat(ts), uid, etype, 1.0, "{}")

    rows = [
        # user 1: fully ordered funnel; cohort = week of Jan 1 (Mon)
        ev(1, "2024-01-01T10:00:00", 1, "view"),
        ev(2, "2024-01-02T10:00:00", 1, "click"),
        ev(3, "2024-01-03T10:00:00", 1, "purchase"),
        # user 2: purchase BEFORE click -> reaches stage 2 only
        ev(4, "2024-01-01T10:00:00", 2, "view"),
        ev(5, "2024-01-05T10:00:00", 2, "click"),
        ev(6, "2024-01-02T10:00:00", 2, "purchase"),
        # user 3: click before any view -> reaches stage 1 only
        # (its only click precedes its first view)
        ev(7, "2024-01-02T10:00:00", 3, "click"),
        ev(8, "2024-01-03T10:00:00", 3, "view"),
        # user 4: never views -> in no stage
        ev(9, "2024-01-01T10:00:00", 4, "click"),
        # cohorts: user 5 starts two weeks later, active that week + next
        ev(10, "2024-01-15T10:00:00", 5, "view"),
        ev(11, "2024-01-22T10:00:00", 5, "click"),
    ]
    docs = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    docs.write.parquet(str(tmp_path / "events.parquet"))

    funnel = {
        r["stage"]: r["n_users"]
        for r in q_funnel_stages(spark, str(tmp_path)).collect()
    }
    # stage 1: users 1,2,3,5 have views (user 4 never views)
    # stage 2: click strictly after first view — users 1,2,5 (user 3's
    #   only click precedes its first view)
    # stage 3: purchase strictly after stage-2 hit — user 1 only (user
    #   2's purchase precedes its qualifying click)
    assert funnel == {"1_view": 4, "2_click": 3, "3_purchase": 1}

    ret = [
        (r["cohort_week"], r["week_offset"], r["n_users"])
        for r in q_cohort_retention(spark, str(tmp_path)).collect()
    ]
    assert ret == [
        # users 1-4: all activity inside the Mon Jan 1 week (Jan 5 too)
        ("2024-01-01", 0, 4),
        # user 5: first active the Mon Jan 15 week, returns the next week
        ("2024-01-15", 0, 1),
        ("2024-01-15", 1, 1),
    ]
