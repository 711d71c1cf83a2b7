"""Physical-plan hygiene: hot paths stay JVM-side and pushed down.

Enforces SURVEY.md §7.3 ("no per-row Python"): every query plan may use
Arrow-vectorized Python (ArrowEvalPython / FlatMapGroupsInPandas /
MapInPandas) but never row-at-a-time BatchEvalPython, and term/doc filters
must reach the parquet scans as PushedFilters so a 100 TB posting store
(the ``blocks`` table, decoded in the plan) is pruned at the source.
"""

import pytest

from search_engine_spark.config import DEMO_STOP_WORDS, EngineConfig, ScoreWeights
from search_engine_spark.operators.index_build import build_index
from search_engine_spark.operators.search import SearchEngine
from search_engine_spark.sources.transcripts import (
    corpus_from_transcripts,
    synthesize_transcripts,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    cfg = EngineConfig(stop_words=DEMO_STOP_WORDS, score_weights=ScoreWeights())
    idx = tmp_path_factory.mktemp("plan_idx")
    tx = synthesize_transcripts(spark, f"{SF_DIR}/documents.parquet")
    build_index(
        spark, corpus_from_transcripts(tx), str(idx), config=cfg, segments=2
    )
    return SearchEngine(spark, str(idx), config=cfg)


def plan_of(df) -> str:
    qe = df._jdf.queryExecution()
    return qe.toString() + "\n" + qe.executedPlan().toString()


def assert_no_row_python(plan: str):
    assert "BatchEvalPython" not in plan, plan


def assert_blocks_scan_pushed(plan: str):
    """The term IN-list reaches the blocks (posting store) parquet scan
    itself — the scan that reads ``doc_deltas`` — through the decode's
    Generate and any tombstone anti-join."""
    assert any(
        "FileScan" in ln and "doc_deltas" in ln and "In(term" in ln
        for ln in plan.splitlines()
    ), plan


def test_bm25_plan_jvm_side_and_pruned(engine):
    df = engine.search_bm25("filter join window", k=10)
    plan = plan_of(df)
    assert_no_row_python(plan)
    # term IN (...) reaches the blocks parquet scan
    assert "PushedFilters" in plan
    assert_blocks_scan_pushed(plan)
    # the tiny per-term stats side is broadcast, not shuffled
    assert "BroadcastHashJoin" in plan


def test_wand_plan_jvm_side(engine):
    df = engine.search_bm25("filter join window", k=10, use_wand=True)
    plan = plan_of(df)
    assert_no_row_python(plan)
    assert_blocks_scan_pushed(plan)


def test_filtered_bm25_corpus_lang_pushdown(spark):
    """filtered_bm25 (registry twin): the lang predicate must reach the
    documents parquet scan — at 100 TB the metadata gate is row-group
    pruning, not a post-scan filter."""
    from search_engine_spark.operators.corpus_queries import q_filtered_bm25

    df = q_filtered_bm25(spark, SF_DIR)
    plan = plan_of(df)
    assert_no_row_python(plan)
    assert "EqualTo(lang,en)" in plan


def test_filtered_bm25_engine_metadata_pushdown(engine):
    """Engine-side where=: the metadata predicate reaches the docs scan
    (cold engine — warmed engines evaluate it on the pinned projection)
    and the term IN-list still reaches the blocks scan."""
    from pyspark.sql import functions as F

    df = engine.search_bm25(
        "filter join window", k=10,
        where=F.col("title").startswith("assistant:"),
    )
    plan = plan_of(df)
    assert_no_row_python(plan)
    assert_blocks_scan_pushed(plan)
    assert "StringStartsWith(title,assistant:)" in plan


def test_reference_search_plan_arrow_only(engine):
    """Cold search at tiny SF auto-picks cold_fetch="fused": the <=100-row
    candidate frame broadcast-joins the docs scan inside ONE compiled plan
    (no collect roundtrip)."""
    df = engine.search("window merge", max_count=10)
    plan = plan_of(df)
    assert_no_row_python(plan)
    # scoring + snippets ride Arrow batches
    assert "ArrowEvalPython" in plan
    # fused mode: candidates reach docs via a broadcast join, not a collect
    assert "BroadcastHashJoin" in plan


def test_reference_search_pushdown_mode(engine):
    """cold_fetch="pushdown" (the 100 TB auto choice) collects the <=100
    candidate ids so the doc fetch is an IN-filter pushed into the docs
    parquet scan — prunes to a handful of row groups at scale."""
    import dataclasses

    prev = engine.config
    engine.config = dataclasses.replace(prev, cold_fetch="pushdown")
    try:
        df = engine.search("window merge", max_count=10)
        plan = plan_of(df)
        assert_no_row_python(plan)
        assert "ArrowEvalPython" in plan
        # candidate doc_ids are pushed down to the docs scan
        assert "In(doc_id" in plan
    finally:
        engine.config = prev


def test_topk_is_take_ordered(engine):
    df = engine.search_bm25("filter join window", k=10)
    assert "TakeOrderedAndProject" in plan_of(df)


@pytest.mark.parametrize("name", sorted(__import__(
    "search_engine_spark.operators.registry", fromlist=["QUERIES"]
).QUERIES))
def test_corpus_query_plans_jvm_side(spark, name):
    """Every driver-contract operator stays JVM-side or Arrow-vectorized —
    no row-at-a-time Python anywhere (SURVEY.md §7.3)."""
    from search_engine_spark.operators.registry import QUERIES

    fn, _sql = QUERIES[name]
    plan = plan_of(fn(spark, SF_DIR))
    assert_no_row_python(plan)


def test_reference_search_postings_pushdown(engine):
    """The parity path's term IN-list must reach the blocks scan —
    re-lowercasing the already-lowercase term column would disable it."""
    df = engine.candidates(["window", "merge"], [], ["window", "merge"])
    plan = plan_of(df)
    assert_blocks_scan_pushed(plan)
    assert "lower(" not in plan


def test_phrase_search_single_arrow_stage(engine):
    """The fused phrase plan: one pushed IN-scan over term_positions for
    candidates and exactly ONE ArrowEvalPython stage (combined
    score+snippet UDF) — the two-stage plan cost a second Python worker
    round-trip per query."""
    df = engine.search('"table scan" merge', max_count=10)
    plan = plan_of(df)
    assert_no_row_python(plan)
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert physical.count("ArrowEvalPython") == 1, physical
    # candidate sub-plan (executed eagerly on the cold path): membership +
    # phrase predicate in one aggregation over a pushed IN-scan
    cand = engine.candidates(
        ["table", "scan", "merge"], [0, 2], ["table", "scan", "merge"]
    )
    cand_plan = plan_of(cand)
    assert "In(term" in cand_plan
    assert cand_plan.count("Exchange") <= 2, cand_plan  # one agg shuffle (+AQE read)


def test_warm_paths_hit_cache(spark, tmp_path_factory):
    """After warm(), query plans read InMemoryTableScan (executor cache),
    not fresh parquet scans, and results equal the cold path."""
    cfg = EngineConfig(stop_words=DEMO_STOP_WORDS, score_weights=ScoreWeights())
    idx = tmp_path_factory.mktemp("warm_idx")
    tx = synthesize_transcripts(spark, f"{SF_DIR}/documents.parquet")
    build_index(
        spark, corpus_from_transcripts(tx), str(idx), config=cfg, segments=2
    )
    eng = SearchEngine(spark, str(idx), config=cfg)
    cold = [tuple(r) for r in eng.search_bm25("filter join window", k=10).collect()]
    eng.warm()
    df = eng.search_bm25("filter join window", k=10)
    assert "InMemoryTableScan" in plan_of(df)
    assert [tuple(r) for r in df.collect()] == cold


def test_warm_docs_cache_partitioning_follows_table(spark, tmp_path_factory):
    """The pinned docs projection must keep at least the scan's
    parallelism: collapsing its repartition+sort into the tiny serve
    partition count funneled the whole table through <=8 sort tasks and
    OOMed a 3 GB executor at a few million turns (observed in the
    two-level scaling harness). The <=100-row candidate side is what
    adapts at join time, never the docs side."""
    cfg = EngineConfig(stop_words=DEMO_STOP_WORDS, score_weights=ScoreWeights())
    idx = tmp_path_factory.mktemp("warm_parts_idx")
    tx = synthesize_transcripts(spark, f"{SF_DIR}/documents.parquet")
    build_index(
        spark, corpus_from_transcripts(tx), str(idx), config=cfg, segments=2
    )
    eng = SearchEngine(spark, str(idx), config=cfg).warm()
    scan_parts = eng.docs.rdd.getNumPartitions()
    cached_parts = eng._docs_proj.rdd.getNumPartitions()
    assert cached_parts >= scan_parts
    assert cached_parts >= eng._serve_partitions()


def test_q5_snowflake_dims_broadcast(spark):
    """local_supplier_volume (TPC-H Q5 shape): every dimension join is a
    broadcast (the only shuffle join is lineitem x orders) and the order
    date range reaches the orders parquet scan."""
    from search_engine_spark.operators.tpch_extras import (
        q_local_supplier_volume,
    )

    plan = plan_of(q_local_supplier_volume(spark, SF_DIR))
    assert_no_row_python(plan)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_q6_scan_aggregate_pushdown(spark):
    """revenue_forecast (Q6 shape): pure scan-aggregate — all three
    predicates push into the lineitem scan; NO join, NO wide shuffle
    beyond the single global-sum exchange."""
    from search_engine_spark.operators.tpch_extras import q_revenue_forecast

    plan = plan_of(q_revenue_forecast(spark, SF_DIR))
    assert_no_row_python(plan)
    # the PushedFilters list is truncated in toString(), so assert on the
    # untruncated IsNotNull entries + the full Filter operator line
    assert "IsNotNull(l_shipdate)" in plan
    assert "< 24.0)" in plan  # quantity cap reached the scan filter
    assert "Join" not in plan


def test_q4_exists_is_semi_join(spark):
    """late_shipment_priority (Q4 shape): the EXISTS evaluates as one
    LeftSemi join keyed on the order key — no distinct pass after it."""
    from search_engine_spark.operators.tpch_extras import (
        q_late_shipment_priority,
    )

    plan = plan_of(q_late_shipment_priority(spark, SF_DIR))
    assert_no_row_python(plan)
    assert "LeftSemi" in plan


def test_vocab_growth_no_unpartitioned_window(spark):
    """vocab_growth: the running vocabulary sum is a TWO-LEVEL prefix sum
    — every Window node in the plan carries a partition spec (the r02
    global Window.orderBy funnelled n_docs/100 rows through one
    partition), and the superbucket offset side is a broadcast join."""
    import re

    from search_engine_spark.operators.governance_extras import (
        q_vocab_growth,
    )

    df = q_vocab_growth(spark, SF_DIR)
    plan = plan_of(df)
    assert_no_row_python(plan)
    physical = df._jdf.queryExecution().executedPlan().toString()
    win_lines = [
        ln for ln in physical.splitlines() if re.search(r"\bWindow\b", ln)
    ]
    assert win_lines, physical  # the within-superbucket cumsum exists
    for ln in win_lines:
        # partitioned window prints `Window [exprs], [part], [order]` —
        # three top-level bracket groups; the unpartitioned funnel shape
        # prints only `Window [exprs], [order]`
        assert ln.count("], [") >= 2, ln
    assert "BroadcastNestedLoopJoin" in physical or (
        "BroadcastHashJoin" in physical
    ), physical


def test_filtered_search_lang_pushdown(spark):
    """filtered_search: the metadata predicate must reach the documents
    parquet scan BEFORE tokenization."""
    from search_engine_spark.operators.retrieval_extras import (
        q_filtered_search,
    )

    plan = plan_of(q_filtered_search(spark, SF_DIR))
    assert_no_row_python(plan)
    assert "EqualTo(lang,en)" in plan


def test_q21_single_fact_scan(spark):
    """sole_late_supplier (Q21 shape): the EXISTS + NOT-EXISTS double
    self-join is reformulated as ONE per-order aggregate — the lineitem
    fact must be scanned exactly once (the canonical formulation scans
    it three times and shuffles each copy)."""
    from search_engine_spark.operators.tpch2_extras import (
        q_sole_late_supplier,
    )

    df = q_sole_late_supplier(spark, SF_DIR)
    plan = plan_of(df)
    assert_no_row_python(plan)
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert physical.count("lineitem.parquet") == 1, physical


def test_q15_argmax_scalar_is_broadcast(spark):
    """top_revenue_supplier (Q15 shape): the 1-row max aggregate joins
    back by broadcast, and the quarter's date range reaches the lineitem
    scan."""
    from search_engine_spark.operators.tpch2_extras import (
        q_top_revenue_supplier,
    )

    plan = plan_of(q_top_revenue_supplier(spark, SF_DIR))
    assert_no_row_python(plan)
    assert "BroadcastHashJoin" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_q16_denylist_is_broadcast_anti_join(spark):
    """supplier_count_by_part (Q16 shape): the negative-balance supplier
    denylist subtracts via a broadcast LeftAnti join (never a shuffle),
    and the brand/size filters reach the part scan."""
    from search_engine_spark.operators.tpch2_extras import (
        q_supplier_count_by_part,
    )

    plan = plan_of(q_supplier_count_by_part(spark, SF_DIR))
    assert_no_row_python(plan)
    assert "LeftAnti, BuildRight" in plan
    assert "Not(EqualTo(p_brand" in plan
