"""Structural plan assertions for the headline queries — the physical-plan
properties EXPLAIN.md documents, pinned as tests so a refactor that
silently degrades a plan (drops a pushdown, loses a broadcast, introduces
a cartesian) fails here instead of only showing up in bench numbers.

All assertions are on the PRE-EXECUTION physical plan (driver-side only,
no jobs) at sf0.001 — plan shape is scale-independent.
test_union_edit_runs_one_job instead executes a warm pipeline edit and
counts its jobs.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def q(spark):
    from overturemaps_duckdb_spark import queries as _q

    _q.load_all()
    return _q.QUERIES


def test_q1_pushdown_and_partial_agg(spark, q):
    plan = _plan(q["q1_pricing_summary"](spark, SF_SMOKE))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "partial_sum" in plan  # map-side combine before the shuffle
    assert plan.count("Exchange hashpartitioning") == 1  # ONE shuffle
    # column pruning: the scan must not read unused columns like l_comment
    scan = plan.split("FileScan parquet", 1)[1]
    assert "l_shipdate" in scan.split("ReadSchema", 1)[0]


def test_q3_broadcasts_both_dims(spark, q):
    plan = _plan(q["q3_shipping_priority"](spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan  # the fact side never shuffles
    assert "TakeOrderedAndProject" in plan  # top-k, not global sort


def test_d2_no_cartesian_or_bnlj(spark, q):
    from overturemaps_duckdb_spark.queries import t
    from overturemaps_duckdb_spark.operators.dedup import minhash_lsh_pairs

    df = t(spark, SF_SMOKE, "documents")
    plan = _plan(minhash_lsh_pairs(df, "doc_id", "text"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_e1_partial_final_agg(spark, q):
    plan = _plan(q["e1_tumbling_window"](spark, SF_SMOKE))
    assert "partial_count" in plan or "partial_sum" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_mx1_corpus_side_no_exchange(spark, q):
    """The token-budget mixture joins a dozens-row rate table: the rate
    side broadcasts; the corpus side must reach the join from its scan
    without any Exchange."""
    plan = _plan(q["mx1_token_budget_mix"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    bhj_subtree = plan.split("BroadcastHashJoin", 1)[1]
    probe_side = bhj_subtree.split("BroadcastExchange", 1)[0]
    assert "Exchange hashpartitioning" not in probe_side


def test_x11_exact_vs_approx_shapes(spark, q):
    """The registered x11 (exact verification twin) carries the per-lang
    Window; the approx operator must not (its plan is pinned in detail in
    test_quality_prune, asserted coarsely here beside its siblings)."""
    from overturemaps_duckdb_spark.functions.text import quality_score
    from overturemaps_duckdb_spark.operators.textprep import (
        quality_percentile_prune,
    )
    from overturemaps_duckdb_spark.queries import t

    exact_plan = _plan(q["x11_quality_percentile_filter"](spark, SF_SMOKE))
    assert "Window" in exact_plan
    d = t(spark, SF_SMOKE, "documents").select(
        "doc_id", "lang", quality_score("text").alias("quality")
    )
    approx_plan = _plan(quality_percentile_prune(d))
    assert "Window" not in approx_plan


@pytest.mark.parametrize(
    "qname,max_exchanges",
    [("q5_nation_revenue", 1), ("q9_product_type_profit", 1),
     ("q18_large_orders", 2), ("q21_waiting_suppliers", 3)],
)
def test_heavy_tpch_all_joins_broadcast(spark, q, qname, max_exchanges):
    """The multi-join TPC-H shapes: every dimension broadcasts onto the
    fact (no fact-side shuffle for any join), no plan ever degenerates to
    SMJ/nested-loop/cartesian, and aggregation shuffles stay at the
    pinned count."""
    plan = _plan(q[qname](spark, SF_SMOKE))
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("Exchange hashpartitioning") <= max_exchanges


@pytest.mark.parametrize(
    "qname,forced_const_dims",
    # nation/region (constant 25/5 rows) keep their forced broadcast at any
    # threshold; only those may appear as BroadcastHashJoin above it
    [("q3_shipping_priority", 0), ("q5_nation_revenue", 2)],
)
def test_dim_gate_degrades_above_threshold(spark, q, qname, forced_const_dims):
    """The stat-gated dim() hint (plans.hints): below the broadcast
    threshold the plan is the forced-broadcast plan (pinned by
    test_q3_broadcasts_both_dims / test_heavy_tpch_all_joins_broadcast);
    with the threshold forced down, the SF-proportional dims
    (customer/supplier/part) must NOT be broadcast — the plan degrades to
    shuffle joins instead of OOMing at scale — and results are identical
    either way."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1KB")
        df_big = q[qname](spark, SF_SMOKE)
        assert _plan(df_big).count("BroadcastHashJoin") == forced_const_dims
        rows_big = {tuple(r) for r in df_big.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    rows_bcast = {tuple(r) for r in q[qname](spark, SF_SMOKE).collect()}
    assert rows_big == rows_bcast


def test_j8_grid_join_is_equi_join(spark, q):
    """The 100 TB spatial path: the grid banded join must plan as a real
    equi-join on cell ids (hash exchanges on both sides at most), never a
    nested-loop or cartesian."""
    plan = _plan(q["j8_grid_banded_join"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_x12_vocab_topk_is_take_ordered(spark, q):
    """The vocabulary head must plan as TakeOrderedAndProject (per-partition
    heap + tiny driver merge), never a full global Sort of the vocabulary."""
    plan = _plan(q["x12_vocab_topk"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan  # no global sort stage anywhere


def test_a7_production_form_is_sketch_only(spark, q):
    """ADVICE r06: the registered a7 pays an exact COUNT(DISTINCT) to be
    driver-certifiable; the PRODUCTION form (approx_distinct_by,
    certify=False) must stay the constant-memory scale path — one HLL++
    hash aggregation, no exact-distinct expand/shuffle of (group, value)
    pairs — and its estimate must equal the certified query's sketch."""
    from overturemaps_duckdb_spark.queries import t
    from overturemaps_duckdb_spark.queries.relational import approx_distinct_by

    li = t(spark, SF_SMOKE, "lineitem")
    prod = approx_distinct_by(li, ["l_returnflag"], "l_partkey")
    plan = _plan(prod)
    assert "approx_count_distinct" in plan
    # exact count-distinct plans as a distinct-keyed pre-aggregation
    # (extra hashpartitioning on (group, value)); sketch-only has exactly
    # the one group-key exchange and no distinct anywhere
    assert "distinct l_partkey" not in plan and "Expand" not in plan
    assert plan.split("== Initial Plan ==")[0].count(
        "Exchange hashpartitioning"
    ) == 1

    # certify variant: 5-rsd band actually true on real data
    cert = approx_distinct_by(
        li, ["l_returnflag"], "l_partkey", certify=True
    ).collect()
    assert cert and all(r["approx_within_5rsd"] for r in cert)


def test_fts_stem_map_broadcast_is_stat_gated(spark, q):
    """r14 (VERDICT r13 #4): the stem-vocabulary map join carries NO hard
    broadcast hint — the planner picks the strategy from size estimates.
    At fixture scale the post-aggregate stem map estimates small and the
    static plan is the same BroadcastHashJoin the old F.broadcast() hint
    forced; a corpus whose raw vocabulary estimate outgrows
    autoBroadcastJoinThreshold must plan a shuffle join instead of
    OOMing the driver against the 8 GB / 512M-row broadcast cap."""
    import pyspark.sql.functions as F

    from overturemaps_duckdb_spark.operators.fts import build_fts_index
    from overturemaps_duckdb_spark.queries import t

    docs = t(spark, SF_SMOKE, "documents")
    plan = _plan(build_fts_index(docs, "doc_id", "text").postings)
    assert "BroadcastHashJoin" in plan  # small vocab still broadcasts
    assert "SortMergeJoin" not in plan

    # huge synthetic vocabulary (stats-big source, never executed): the
    # stem join must NOT plan a driver-side broadcast
    big = spark.range(0, 300_000_000).select(
        F.col("id"), F.concat(F.lit("tok"), F.col("id")).alias("body")
    )
    huge = build_fts_index(big, "id", "body", cache_tokens=False)
    plan2 = _plan(huge.postings)
    assert "SortMergeJoin" in plan2 or "ShuffledHashJoin" in plan2
    assert "BroadcastHashJoin" not in plan2


def test_minhash_index_is_pure_projection(spark, q):
    """r14 (VERDICT r13 #1): the default (stop_df_cap=None) MinHash index
    is a projection — no Exchange, no ObjectHashAggregate — and the
    rolling-hash chain is bound ONCE (CollapseProject must not inline the
    expensive `_hs` column into the 17 consumers)."""
    from overturemaps_duckdb_spark.operators.dedup import minhash_index
    from overturemaps_duckdb_spark.queries import t

    docs = t(spark, SF_SMOKE, "documents")
    idx = minhash_index(docs, "doc_id", "text", assume_wide=True)
    try:
        plan = _plan(idx)
        assert "Exchange" not in plan
        assert "ObjectHashAggregate" not in plan
        # the shingle chain evaluates once per row: its distinctive
        # zip_with ladder appears exactly once in the physical plan
        assert plan.count("zip_with(zip_with(zip_with(zip_with") == 1
    finally:
        idx.unpersist()


def _own_plan(plan: str) -> str:
    """The plan without the subtree each InMemoryRelation prints: those
    are the cached frames' own plans (the theme ingest's st_point, the FTS
    index build), which the query does not execute."""
    out, cached_depth = [], None
    for ln in plan.splitlines():
        depth = len(ln) - len(ln.lstrip(" :|+-"))
        if cached_depth is not None and depth > cached_depth:
            continue
        cached_depth = depth if "InMemoryRelation" in ln else None
        out.append(ln)
    return "\n".join(out)


@pytest.mark.parametrize(
    "qname,top_k",
    # one top-k per source plus the root; pl6 (one source) also ranks its
    # BM25 score relation before the broadcast join
    [("pl1_union_balanced_limit", 3), ("pl2_search_ilike", 3),
     ("pl3_bbox_filter", 3), ("pl6_search_fts", 3)],
)
def test_pipeline_balanced_limits_plan_as_top_k(spark, q, qname, top_k):
    """Every per-source and final ORDER BY … LIMIT of a balanced-limit
    pipeline plans as TakeOrderedAndProject: GeoJSON is one Arrow map
    beneath the final top-k, not a UDF Project the optimizer pushes below
    each branch's LIMIT (which split every Limit(Sort) into a
    range-partitioned global sort with its own sampling job)."""
    plan = _own_plan(_plan(q[qname](spark, SF_SMOKE)))
    assert plan.count("TakeOrderedAndProject") == top_k, plan
    assert "rangepartitioning" not in plan
    assert "ArrowEvalPython" not in plan
    assert plan.count("MapInArrow") == 1


@pytest.mark.parametrize("qname", ["pl4_within_filter", "pl5_exclude_filter"])
def test_pipeline_spatial_filters_keep_root_top_k(spark, q, qname):
    """Spatial filters have no per-source limit; the final ORDER BY …
    LIMIT stays a root TakeOrderedAndProject with no global sort."""
    plan = _own_plan(_plan(q[qname](spark, SF_SMOKE)))
    assert plan.splitlines()[1].lstrip(" :|+-").startswith(
        "TakeOrderedAndProject"
    ), plan
    assert "rangepartitioning" not in plan


def test_union_edit_runs_one_job(spark):
    """Executed: after a warm call, a 3-source union edit over cached
    catalog tables is one top-k job, not a sampling job plus a global sort
    per branch."""
    from overturemaps_duckdb_spark.plans.pipeline import (
        Catalog,
        Node,
        compile_pipeline,
    )
    from overturemaps_duckdb_spark.queries.pipeline import (
        FIELDS,
        SRC_C,
        SRC_S,
        theme_customer,
        theme_documents,
        theme_supplier,
    )

    cat = Catalog(
        tables={
            "theme_customer": theme_customer(spark, SF_SMOKE),
            "theme_supplier": theme_supplier(spark, SF_SMOKE),
            "theme_documents": theme_documents(spark, SF_SMOKE),
        },
        fields=FIELDS,
    )
    nodes = [
        SRC_C,
        SRC_S,
        Node(id="n3", type="combine", op="union", table="theme_documents",
             key="docs/document"),
    ]
    compile_pipeline(cat, nodes).collect()  # warm: caches fill, workers start
    sc = spark.sparkContext
    sc.setJobGroup("union-edit-jobs", "one warm union edit")
    try:
        rows = compile_pipeline(cat, nodes).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("union-edit-jobs")
    assert {r["_source"] for r in rows} == {
        "places/customer", "places/supplier", "docs/document"
    }
    assert 0 < len(jobs) <= 2, jobs
