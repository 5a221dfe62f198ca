"""End-to-end Engine facade test: register themes → load area → pipeline →
FTS search → raw SQL → session persistence — the controller.js flow on
Spark, driven through the one public object."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from overturemaps_duckdb_spark.engine import Engine, ThemeSpec
from overturemaps_duckdb_spark.plans.pipeline import Node
from overturemaps_duckdb_spark.sources.ingest import ThemeFieldSpec
from tests.conftest import SF_SMOKE


def _stage_theme_files(spark, tmp, name, df):
    p = os.path.join(tmp, name)
    df.coalesce(2).write.mode("overwrite").parquet(p)
    return [os.path.join(p, f) for f in os.listdir(p) if f.endswith(".parquet")]


def test_engine_end_to_end(spark, tmp_path):
    from overturemaps_duckdb_spark.queries.spatial import _C_LAT, _C_LON

    raw = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").select(
        F.col("c_custkey").cast("string").alias("id"),
        F.col("c_name").alias("display_name"),
        "c_mktsegment",
        F.expr(_C_LON).alias("centroid_lon"),
        F.expr(_C_LAT).alias("centroid_lat"),
    )
    files = _stage_theme_files(spark, str(tmp_path), "places", raw)

    eng = Engine(spark, root=str(tmp_path / "engine"))

    def projection(batch):
        from overturemaps_duckdb_spark.functions.geo import (
            st_geometrytype,
            st_point,
        )

        proj = batch.select(
            "id",
            F.coalesce(F.col("display_name"), F.lit("")).alias("display_name"),
            F.concat_ws(" ", "display_name", "c_mktsegment").alias("search_name"),
            "centroid_lon",
            "centroid_lat",
            F.col("c_mktsegment").alias("_f0"),
        ).withColumn("geometry", st_point("centroid_lon", "centroid_lat"))
        return proj.withColumn("geom_type", st_geometrytype("geometry"))

    eng.register_theme(
        "places/customer",
        ThemeSpec(
            table="places_customer",
            files=files,
            fields=[ThemeFieldSpec("segment", "c_mktsegment")],
            projection=projection,
            build_fts=True,
        ),
    )

    # EP1: area load (bbox covers the fixture's lon range)
    results = eng.load_area(["places/customer"], bbox=(-180.0, -90.0, 0.0, 90.0))
    res = results["places/customer"]
    assert res.rows > 0 and not res.cached
    assert "places_customer" in eng.tables()

    # EP2: pipeline over the loaded table, FTS search mode
    eng.pipeline.nodes = [
        Node(id="n1", type="source", table="places_customer", key="places/customer")
    ]
    eng.pipeline.search = "machinery"
    eng.pipeline.limit = 12
    out = eng.pipeline.run_now()
    assert out.count == 12 and not out.degraded
    assert all(r["_score"] is not None for r in out.rows)  # FTS scored

    # EP3: raw DuckDB-dialect SQL against the loaded table
    df = eng.sql(
        "SELECT string_split(search_name, ' ')[1] AS w, count(*) AS c "
        "FROM places_customer GROUP BY w ORDER BY c DESC, w LIMIT 3"
    )
    assert df.count() == 3
    assert eng.instrumentation.history[-1].ok

    # session persistence round-trip
    eng.save_session()
    eng2 = Engine(spark, root=eng.root)
    restored = eng2.restore_session()
    assert restored["loaded"] == ["places/customer"]
    assert restored["pipeline"]["search"] == "machinery"

    # second load_area hits the snapview cache
    again = eng.load_area(["places/customer"], bbox=(-180.0, -90.0, 0.0, 90.0))
    assert again["places/customer"].cached

    # memoized intersection pass: same signature → no recomputation
    # (points against their own theme's boxes is degenerate but exercises
    # the signature memo; intersections.js:22-44 — release generation +
    # tables + rounded bbox)
    bbox = (-180.0, -90.0, 0.0, 90.0)
    r1 = eng.intersections("places_customer", ["places_customer"], bbox)
    assert (eng._load_gen, "places_customer", ("places_customer",),
            tuple(round(v, 6) for v in bbox)) in eng._pip_memo
    r2 = eng.intersections("places_customer", ["places_customer"], bbox)
    assert r1 is r2  # memo hit returns the same object

    # a new area load bumps the generation — the memo must miss (the
    # reference's release component of the signature, intersections.js:23)
    gen_before = eng._load_gen
    eng.load_area(["places/customer"], bbox=(-180.0, -90.0, 0.0, 90.0))
    assert eng._load_gen > gen_before
    r3 = eng.intersections("places_customer", ["places_customer"], bbox)
    assert r3 is not r1


def test_scale_scenario_grid_layout_banded_fold_no_bnlj(spark, tmp_path):
    """VERDICT r2 stretch: the 100 TB composition in one scenario at sf0.1 —
    load_theme grid-partitioned materialization + grid banded join +
    intersection_fold, with broadcast disabled so the planner must use the
    cell equi-join.  Asserts the plans, not just the rows: the layout read
    is partition-pruned and NO join in the fold degenerates to
    BroadcastNestedLoop/CartesianProduct."""
    import pyspark.sql.functions as F

    from overturemaps_duckdb_spark.operators.spatial_join import (
        intersection_fold,
    )
    from overturemaps_duckdb_spark.queries.spatial import supplier_boxes

    sf = "/root/testdata/sf0.1"
    raw = spark.read.parquet(f"{sf}/customer.parquet").select(
        F.col("c_custkey").cast("string").alias("id"),
        F.col("c_name").alias("display_name"),
        "c_mktsegment",
    )
    files = _stage_theme_files(spark, str(tmp_path), "places01", raw)

    eng = Engine(spark, root=str(tmp_path / "scale"))

    def projection(batch):
        from overturemaps_duckdb_spark.functions.geo import st_point
        from overturemaps_duckdb_spark.queries.spatial import _C_LAT, _C_LON

        pts = batch.select(
            "id",
            F.coalesce("display_name", F.lit("")).alias("display_name"),
            F.col("display_name").alias("search_name"),
            F.expr(_C_LON.replace("c_custkey", "CAST(id AS BIGINT)")).alias(
                "centroid_lon"
            ),
            F.expr(_C_LAT.replace("c_custkey", "CAST(id AS BIGINT)")).alias(
                "centroid_lat"
            ),
        )
        return pts.withColumn("geometry", st_point("centroid_lon", "centroid_lat"))

    eng.register_theme(
        "places/customer01",
        ThemeSpec(table="places_customer01", files=files, projection=projection),
    )
    res = eng.load_area(
        ["places/customer01"], bbox=(-180.0, -90.0, 180.0, 90.0), limit=50_000
    )["places/customer01"]
    assert res.rows > 10_000  # sf0.1 customer ≈ 15k, all in bbox

    # 1. the materialized layout exists and a cell-filtered read is
    #    partition-pruned at PLAN time (directory pruning, not row filtering)
    layout = os.path.join(eng.snapviews.root, "_layout", "places_customer01")
    assert any(d.startswith("cx=") for d in os.listdir(layout))
    pruned = spark.read.parquet(layout).where("cx = 0 AND cy = 0")
    scan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in scan and "(cx" in scan

    # 2. fold the loaded points against a polygon theme with broadcast OFF:
    #    the band join must take the grid-cell equi-join path
    polys = supplier_boxes(spark, sf)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fold = intersection_fold(
            eng.catalog.tables["places_customer01"], {"suppliers": polys}
        )
        plan = fold._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        labels = fold.collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert len(labels) > 0
    assert all(r["labels"] == "suppliers" for r in labels)

    # 3. the engine-facade memoized pass over the same tables agrees
    eng.catalog.tables["suppliers"] = polys
    via_engine = eng.intersections(
        "places_customer01", ["suppliers"], (-180.0, -90.0, 180.0, 90.0)
    )
    assert {r["id"] for r in via_engine} == {r["id"] for r in labels}


def test_pip_memo_evicts_dead_generations(spark, tmp_path):
    """r9 review: the intersections memo keys embed the load generation, so
    entries from earlier generations are permanently unreachable after any
    load_area — they must be dropped, not accumulate collected row lists
    for the session's lifetime."""
    from overturemaps_duckdb_spark.engine import Engine

    eng = Engine(spark, str(tmp_path))
    import pyspark.sql.functions as F

    from overturemaps_duckdb_spark.functions.geo import st_box, st_point

    pts = spark.createDataFrame(
        [(1, 0.5, 0.5)], "id int, centroid_lon double, centroid_lat double"
    ).withColumn("geometry", st_point("centroid_lon", "centroid_lat"))
    polys = spark.createDataFrame(
        [(10, 0.5, 0.5)], "id int, centroid_lon double, centroid_lat double"
    ).withColumn(
        "geometry",
        st_box(
            F.col("centroid_lon") - 1, F.col("centroid_lat") - 1,
            F.col("centroid_lon") + 1, F.col("centroid_lat") + 1,
        ),
    )
    eng.catalog.tables["pts"] = pts
    eng.catalog.tables["polys"] = polys
    bbox = (0.0, 0.0, 1.0, 1.0)
    r1 = eng.intersections("pts", ["polys"], bbox)
    assert len(eng._pip_memo) == 1
    eng._load_gen += 1  # simulate a new area load
    r2 = eng.intersections("pts", ["polys"], bbox)
    assert r2 == r1
    # the generation-0 entry is unreachable and must be gone
    assert len(eng._pip_memo) == 1
    assert all(k[0] == eng._load_gen for k in eng._pip_memo)


def test_engine_ships_package_to_workers(spark, tmp_path, monkeypatch):
    """Load projections run the package's pandas UDFs on the executors'
    Python workers, so the Engine ships the package itself instead of
    relying on the process's working directory."""
    from overturemaps_duckdb_spark import queries

    monkeypatch.setattr(queries, "_SHIPPED", set())
    Engine(spark, root=str(tmp_path / "ship"))
    assert spark.sparkContext.applicationId in queries._SHIPPED


def _one_theme_engine(spark, tmp_path, name="places_one"):
    """An Engine with one small point theme (sf0.001 customers in 4 staged
    files) whose projection carries the geo pandas UDFs."""
    from overturemaps_duckdb_spark.queries.spatial import _C_LAT, _C_LON

    raw = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").select(
        F.col("c_custkey").cast("string").alias("id"),
        F.col("c_name").alias("name"),
        "c_mktsegment",
        F.expr(_C_LON).alias("centroid_lon"),
        F.expr(_C_LAT).alias("centroid_lat"),
    )
    p = os.path.join(str(tmp_path), name)
    raw.repartition(4).write.mode("overwrite").parquet(p)
    files = [os.path.join(p, f) for f in os.listdir(p) if f.endswith(".parquet")]

    def projection(batch):
        from overturemaps_duckdb_spark.functions.geo import st_point

        return batch.select(
            "id",
            F.coalesce("name", F.lit("")).alias("display_name"),
            F.concat_ws(" ", "name", "c_mktsegment").alias("search_name"),
            F.col("c_mktsegment").alias("_f0"),
            "centroid_lon",
            "centroid_lat",
        ).withColumn("geometry", st_point("centroid_lon", "centroid_lat"))

    eng = Engine(spark, root=str(tmp_path / "engine"))
    eng.register_theme(
        "places/one", ThemeSpec(table=name, files=files, projection=projection)
    )
    return eng, raw


def test_fresh_load_is_one_scan_one_write_one_count(spark, tmp_path):
    """A fresh load reads the pruned files once, writes one parquet copy
    (the grid layout, recorded as the snapview) and counts once: at most
    5 Spark jobs, counted by job group, none of them a schema-inference
    job (the manifest's footer schema types the scan)."""
    eng, raw = _one_theme_engine(spark, tmp_path)
    bbox = (-180.0, -90.0, 0.0, 90.0)
    sc = spark.sparkContext
    sc.setJobGroup("fresh-load-jobs", "one fresh theme load")
    try:
        res = eng.load_area(["places/one"], bbox)["places/one"]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("fresh-load-jobs")
    assert not res.cached and res.batches == 1
    assert res.rows == raw.count() > 0
    assert 0 < len(jobs) <= 5, jobs
    tracker = sc.statusTracker()
    stages = [
        tracker.getStageInfo(s).name
        for j in jobs for s in tracker.getJobInfo(j).stageIds
    ]
    assert not any(name.startswith("parquet at") for name in stages), stages

    # exactly one parquet copy: the snapview record points at the layout
    store = eng.snapviews
    assert not os.path.exists(os.path.join(store.root, "places_one"))
    record = store.record("places_one")
    assert record["layout"]["path"] == os.path.join(store.root, "_layout", "places_one")
    assert record["layout"]["path"] == res.layout_path
    assert record["row_count"] == res.rows and record["bbox"] == list(bbox)
    # the generic load reads the record back without the cell columns
    assert store.load("places_one").columns == res.df.columns


def test_reused_load_matches_direct_load(spark, tmp_path):
    """A snapview-served load returns the original columns (no cx/cy) and
    the rows a direct load of the same bbox returns."""
    from overturemaps_duckdb_spark.sources.ingest import load_theme

    eng, _ = _one_theme_engine(spark, tmp_path)
    first = eng.load_area(["places/one"], (-180.0, -90.0, 0.0, 90.0))["places/one"]
    inner = (-120.0, -45.0, -40.0, 45.0)
    reused = eng.load_area(["places/one"], inner)["places/one"]
    assert reused.cached
    assert reused.df.columns == first.df.columns
    assert "cx" not in reused.df.columns and "cy" not in reused.df.columns
    # the reuse scan is partition-pruned on the layout's cell columns
    plan = reused.df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "(cx" in plan
    spec = eng.themes["places/one"]
    direct = load_theme(
        spark, table="places_one_direct", files=spec.files, bbox=inner,
        projection=spec.projection,
    )
    assert reused.rows == direct.rows == reused.df.count() > 0
    assert sorted(r["id"] for r in reused.df.collect()) == sorted(
        r["id"] for r in direct.df.collect()
    )


def test_failed_layout_write_leaves_no_snapview_record(spark, tmp_path, monkeypatch):
    """The record is dropped before the layout is overwritten: a write that
    raises must not leave a record pointing at a partial layout."""
    import pytest

    from overturemaps_duckdb_spark.sources import layout

    eng, _ = _one_theme_engine(spark, tmp_path)
    eng.load_area(["places/one"], (-180.0, -90.0, 0.0, 90.0))
    assert eng.snapviews.record("places_one") is not None

    def broken(*args, **kwargs):
        raise OSError("disk full")

    monkeypatch.setattr(layout, "write_grid_partitioned", broken)
    with pytest.raises(OSError):
        eng.load_area(["places/one"], (-180.0, -90.0, 10.0, 90.0))
    assert eng.snapviews.record("places_one") is None
    assert eng.snapviews.list() == []


def test_budget_limit_runs_once_inside_the_layout_write(spark, tmp_path, monkeypatch):
    """The row budget is one LIMIT inside the layout write, left out when
    the surviving files' footer row total already fits the budget; the
    view, the layout and the snapview record all hold the counted rows."""
    from overturemaps_duckdb_spark.sources import layout

    eng, raw = _one_theme_engine(spark, tmp_path)
    written = []
    orig = layout.write_grid_partitioned

    def capture(df, path, **kwargs):
        written.append(df._jdf.queryExecution().optimizedPlan().toString())
        return orig(df, path, **kwargs)

    monkeypatch.setattr(layout, "write_grid_partitioned", capture)
    bbox = (-180.0, -90.0, 0.0, 90.0)
    res = eng.load_area(["places/one"], bbox, limit=7)["places/one"]
    assert "Limit 7" in written[-1]
    assert res.rows == 7 == spark.table("places_one").count()
    assert spark.read.parquet(res.layout_path).count() == 7
    assert eng.snapviews.record("places_one")["row_count"] == 7

    total = raw.count()
    res = eng.load_area(["places/one"], (-180.0, -90.0, 1.0, 90.0), limit=total)
    assert "Limit" not in written[-1]
    assert res["places/one"].rows == total
