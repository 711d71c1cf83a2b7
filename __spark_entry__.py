"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship BM25 top-k pipeline on sf0.001.
``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2 plus the training-data pipeline operators; DuckDB-verified at
sf0.01 by the driver.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from search_engine_spark.operators.registry import QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-k over sf0.001 documents, answered by the
    ``SearchEngine`` over an index built from them (build → tf/df/dl/
    avgdl → score → top-k)."""
    from search_engine_spark.operators.corpus_queries import q_bm25_topk

    return q_bm25_topk(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in QUERIES.items() if sql}
