"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB over the same parquet,
compare row count, column names, and order-insensitive values.

Usage: python tools/oracle_check.py [--strict] [--json OUT] [sf_dir] [name ...]

Each entry's line ends with its wall seconds (Spark plan, actions and
the oracle query); the sweep's total prints before the failure count.

``--json OUT`` additionally writes one record per checked query to OUT in
the driver's CORRECTNESS_r{N}.json schema ({name: {rows_match,
schema_match, hash_match, spark_rows, oracle_rows, err}}), so a full
``--strict --json`` sweep is a machine-readable all-operator correctness
artifact (the driver's own sweep caps at ~50 rows). Oracle-less entries
get ``{"rows_only": true, "spark_rows": N}``.

``--strict`` skips the float-tolerance normalization and compares a
hash of the EXACT values at the pandas layer (Spark ``toPandas()`` vs
DuckDB ``fetch_df()``, columns sorted by name, rows sorted) — the same
representation level the driver hashes at, so a strict pass here
predicts a driver ``hash_match``. This is where type drift surfaces:
a DuckDB hugeint SUM arriving as float64/decimal128 while Spark sends
int64 passes the tolerant check but fails strict.
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry_mod  # noqa: E402
from search_engine_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c] if not isinstance(row, tuple) else row[cols.index(c)]
            if isinstance(v, float):
                v = round(v, 9)
                if math.isclose(v, round(v), abs_tol=1e-9):
                    v = float(round(v))
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


def strict_hash(pdf):
    """Canonical value hash at the pandas layer: columns sorted by name,
    rows sorted by string repr, every cell rendered with full precision
    (repr keeps float64 bits and distinguishes 1 from 1.0)."""
    import hashlib

    import numpy as np

    def cell(v):
        # canonicalize container/scalar wrappers so only the VALUE and
        # its numeric kind matter: numpy array vs list, np.int64 vs int
        if isinstance(v, np.ndarray):
            v = v.tolist()
        if isinstance(v, list):
            return repr([cell(x) for x in v])
        if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
            return repr(int(v))
        if isinstance(v, (np.floating, float)):
            return repr(float(v))
        return repr(v)

    pdf = pdf[sorted(pdf.columns)]
    rows = sorted(
        tuple(cell(v) for v in row) for row in pdf.itertuples(index=False)
    )
    h = hashlib.sha256()
    for row in rows:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def main():
    argv = sys.argv[1:]
    strict = "--strict" in argv
    argv = [a for a in argv if a != "--strict"]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    records: dict[str, dict] = {}
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a typo'd (or misparsed) name must fail loudly — a filter that
        # matches nothing would print FAILURES: 0 while testing nothing
        print(f"unknown query name(s): {sorted(unknown)}", file=sys.stderr)
        print(f"known: {sorted(qs)}", file=sys.stderr)
        sys.exit(2)
    failures = 0
    sweep_s = 0.0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()

        def took() -> str:
            return f" {time.perf_counter() - t0:.1f}s"

        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            if strict:
                if name not in oracles:
                    n = sdf.count()
                    records[name] = {"rows_only": True, "spark_rows": n}
                    print(f"{name:28s} rows-only: {n} rows{took()}")
                    continue
                s_pdf = sdf.toPandas()
                d_pdf = con.execute(oracles[name]).fetch_df()
                ok_cols = sorted(s_pdf.columns) == sorted(d_pdf.columns)
                ok_rows = len(s_pdf) == len(d_pdf)
                sh, dh = strict_hash(s_pdf), strict_hash(d_pdf)
                ok = ok_cols and ok_rows and sh == dh
                records[name] = {
                    "rows_match": ok_rows,
                    "schema_match": ok_cols,
                    "hash_match": sh == dh,
                    "spark_rows": len(s_pdf),
                    "oracle_rows": len(d_pdf),
                    "err": None,
                }
                if not ok:
                    failures += 1
                print(
                    f"{name:28s} {'OK ' if ok else 'FAIL'} rows"
                    f" {len(s_pdf)}/{len(d_pdf)}"
                    f" cols={'ok' if ok_cols else (list(s_pdf.columns), list(d_pdf.columns))}"
                    f" hash={'ok' if sh == dh else 'MISMATCH'}{took()}"
                )
                if sh != dh and ok_cols and ok_rows:
                    order = sorted(s_pdf.columns)
                    s_set = {
                        tuple(repr(v) for v in r)
                        for r in s_pdf[order].itertuples(index=False)
                    }
                    d_set = {
                        tuple(repr(v) for v in r)
                        for r in d_pdf[order].itertuples(index=False)
                    }
                    print("   spark-only:", list(s_set - d_set)[:2])
                    print("   duck-only :", list(d_set - s_set)[:2])
                    print("   dtypes s:", dict(s_pdf.dtypes.astype(str)))
                    print("   dtypes d:", dict(d_pdf.dtypes.astype(str)))
                continue
            s_rows = [r.asDict() for r in sdf.collect()]
            if name not in oracles:
                records[name] = {
                    "rows_only": True, "spark_rows": len(s_rows),
                }
                print(f"{name:28s} rows-only: {len(s_rows)} rows{took()}")
                continue
            cur = con.execute(oracles[name])
            d_cols = [d[0] for d in cur.description]
            d_rows = cur.fetchall()
            ok_cols = sorted(s_cols) == sorted(d_cols)
            order = sorted(s_cols)
            s_norm = normalize(s_rows, order)
            d_norm = normalize(
                [dict(zip(d_cols, r)) for r in d_rows], order
            )
            ok_rows = len(s_norm) == len(d_norm)
            ok_vals = s_norm == d_norm
            status = "OK " if (ok_cols and ok_rows and ok_vals) else "FAIL"
            records[name] = {
                "rows_match": ok_rows,
                "schema_match": ok_cols,
                "hash_match": ok_vals,  # tolerant-mode value equality
                "spark_rows": len(s_norm),
                "oracle_rows": len(d_norm),
                "err": None,
            }
            if status == "FAIL":
                failures += 1
            print(
                f"{name:28s} {status} rows {len(s_norm)}/{len(d_norm)}"
                f" cols={'ok' if ok_cols else (s_cols, d_cols)}"
                f" vals={'ok' if ok_vals else 'MISMATCH'}{took()}"
            )
            if not ok_vals:
                diff_s = [r for r in s_norm if r not in d_norm][:3]
                diff_d = [r for r in d_norm if r not in s_norm][:3]
                print("   spark-only:", diff_s)
                print("   duck-only :", diff_d)
        except Exception as e:  # noqa: BLE001
            failures += 1
            records[name] = {
                "rows_match": False,
                "schema_match": False,
                "hash_match": False,
                "spark_rows": None,
                "oracle_rows": None,
                "err": f"{type(e).__name__}: {e}"[:500],
            }
            print(f"{name:28s} ERROR{took()} {type(e).__name__}: {e}")
        finally:
            sweep_s += time.perf_counter() - t0
    if json_out:
        import json

        Path(json_out).write_text(json.dumps(records, indent=2) + "\n")
        print(f"wrote {len(records)} records to {json_out}")
    print(f"SWEEP: {sweep_s:.1f}s over {len(records)} entries")
    print("FAILURES:", failures)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
