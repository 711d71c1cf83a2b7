"""The query registry: name -> (Spark DataFrame program, DuckDB oracle SQL).

``QUERIES`` is what ``__spark_entry__.queries()`` / ``oracle_sql()`` and the
oracle tests sweep, in this order: the corpus operators (the first 50
names, which the driver's correctness check runs), the ``*_extras``
families, then the fused batch plan and the three serve-tier twins.
The search, BM25 and WAND entries among the first 50 and the serve-tier
twins answer through a real persisted index (engine_queries.py): the
Spark ``SearchEngine`` and the in-process reader, hash-compared against
the same SQL oracles. Modules export their entries; only this module
assembles them, so any of them can be imported first.
"""

from __future__ import annotations

from . import (
    analytics_extras,
    behavior_extras,
    dedup_extras,
    events_extras,
    governance_extras,
    graph_extras,
    mining_extras,
    mlstats_extras,
    packing_extras,
    pipeline_extras,
    relational_extras,
    retrieval2_extras,
    retrieval_extras,
    search_extras,
    stats_extras,
    tpch2_extras,
    tpch_extras,
    transcript2_extras,
    transcript_extras,
)
from .batch import q_batch_search
from .corpus_queries import (
    CORPUS_QUERIES,
    SQL_BATCH_SEARCH,
    SQL_BM25_TOPK,
    SQL_CONJUNCTIVE_SEARCH,
)
from .engine_queries import (
    q_serve_tier_bm25,
    q_serve_tier_search,
    q_serve_tier_wand,
)

QUERIES = {
    **CORPUS_QUERIES,
    **analytics_extras.EXTRA_QUERIES,
    **pipeline_extras.EXTRA_QUERIES,
    **governance_extras.EXTRA_QUERIES,
    **packing_extras.EXTRA_QUERIES,
    **search_extras.EXTRA_QUERIES,
    **mining_extras.EXTRA_QUERIES,
    **behavior_extras.EXTRA_QUERIES,
    **tpch_extras.EXTRA_QUERIES,
    **stats_extras.EXTRA_QUERIES,
    **transcript_extras.EXTRA_QUERIES,
    **retrieval_extras.EXTRA_QUERIES,
    **mlstats_extras.EXTRA_QUERIES,
    **events_extras.EXTRA_QUERIES,
    **relational_extras.EXTRA_QUERIES,
    **retrieval2_extras.EXTRA_QUERIES,
    **transcript2_extras.EXTRA_QUERIES,
    **dedup_extras.EXTRA_QUERIES,
    **tpch2_extras.EXTRA_QUERIES,
    **graph_extras.EXTRA_QUERIES,
    "batch_search": (q_batch_search, SQL_BATCH_SEARCH),
    "serve_tier_search": (q_serve_tier_search, SQL_CONJUNCTIVE_SEARCH),
    "serve_tier_bm25": (q_serve_tier_bm25, SQL_BM25_TOPK),
    "serve_tier_wand": (q_serve_tier_wand, SQL_BM25_TOPK),
}
