"""Ingest & catalog inventory (SURVEY §2.1 S2/S9/S10, §2.2 T4, §2.7 O7,
§3 EP1): schema probe, table lifecycle, search-name composition through the
real ingest projection, z-order render sort, and the full loadTheme path."""

from __future__ import annotations


import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from overturemaps_duckdb_spark.queries import query, t
from overturemaps_duckdb_spark.queries.spatial import _C_LAT, _C_LON
from overturemaps_duckdb_spark.session import drop_table, list_user_tables
from overturemaps_duckdb_spark.sources.ingest import (
    ThemeFieldSpec,
    cache_select,
    load_theme,
)


@query(
    "s2_schema_probe",
    oracle="""
    SELECT column_name, ordinal_position
    FROM (DESCRIBE SELECT * FROM customer) d
    POSITIONAL JOIN (SELECT unnest(range(1, 6)) AS ordinal_position) r
    """,
)
def s2_schema_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 — `DESCRIBE SELECT * LIMIT 0` schema probe (themes.js:294-297):
    Spark reads the parquet footer only; no data pages touched."""
    schema = spark.read.parquet(f"{sf_dir}/customer.parquet").schema
    rows = [(f.name, i + 1) for i, f in enumerate(schema.fields)]
    return spark.createDataFrame(rows, "column_name string, ordinal_position bigint")


@query(
    "s9_s10_table_lifecycle",
    oracle="""
    SELECT * FROM (VALUES
        ('t_customer', TRUE),
        ('t_orders', FALSE)
    ) AS t(table_name, still_registered)
    """,
)
def s9_s10_table_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/S10 — SHOW TABLES / DROP TABLE with system-table protection
    (duckdb.js:39-49): register two views + a protected system view, drop
    one, verify listings never expose system tables."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("t_customer")
    t(spark, sf_dir, "orders").createOrReplaceTempView("t_orders")
    t(spark, sf_dir, "region").createOrReplaceTempView("_session_shadow")
    try:
        drop_table(spark, "_session_shadow")
        raise AssertionError("system table drop must be refused")
    except ValueError:
        pass
    drop_table(spark, "t_orders")
    listed = set(list_user_tables(spark))
    assert "_session_shadow" not in listed
    rows = [("t_customer", "t_customer" in listed), ("t_orders", "t_orders" in listed)]
    spark.catalog.dropTempView("_session_shadow")
    spark.catalog.dropTempView("t_customer")
    return spark.createDataFrame(rows, "table_name string, still_registered boolean")


_S4_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@query(
    "s4_discover_catalog",
    oracle="\n    UNION ALL\n".join(
        f"""SELECT '{name}' AS theme_type,
           CAST(1 AS BIGINT) AS n_files,
           (SELECT CAST(count(*) AS BIGINT) FROM {name}) AS n_rows"""
        for name in _S4_TABLES
    ),
)
def s4_discover_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 — catalog discovery (worker/index.js:53-128): stage the fixture
    tables into the reference's `base/release/theme_type/*.parquet` prefix
    layout (symlinks — no data copied), run the driver-side prefix walk
    (sources/manifest.discover_catalog), then count each discovered
    theme_type's rows FROM THE DISCOVERED FILE LIST — so every output value
    flows through the discovery result, not the original paths."""
    import os

    from overturemaps_duckdb_spark.operators._util import staging_root
    from overturemaps_duckdb_spark.sources.manifest import discover_catalog

    release = os.path.basename(sf_dir.rstrip("/")) or "release"
    base = staging_root(spark, sf_dir, "s4")
    for name in _S4_TABLES:
        d = os.path.join(base, release, name)
        os.makedirs(d, exist_ok=True)
        os.symlink(
            os.path.join(sf_dir, f"{name}.parquet"),
            os.path.join(d, f"{name}-0.parquet"),
        )
    catalog = discover_catalog(base)
    rows = [
        (theme_type, len(files), spark.read.parquet(*files).count())
        for theme_type, files in catalog[release].items()
    ]
    return spark.createDataFrame(
        rows, "theme_type string, n_files bigint, n_rows bigint"
    )


@query(
    "t4_search_name_composition",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR) AS id,
           c_name AS display_name,
           concat_ws(' ', c_name, c_mktsegment, CAST(c_nationkey AS VARCHAR))
               AS search_name,
           c_mktsegment AS _f0,
           CAST(c_nationkey AS VARCHAR) AS _f1,
           CAST(ROUND(c_acctbal, 2) AS VARCHAR) AS _f2
    FROM customer
    """,
)
def t4_search_name_composition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 — search_name composition through the REAL ingest projection
    (cache_select): searchable fields concatenated, numeric/noise labels
    (here `confidence`) excluded from search, missing columns NULL-padded
    (query.js:10-45, 50-59)."""
    c = t(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "id")
    return cache_select(
        c,
        name_exprs=["missing_name_col", "c_name"],  # fallback chain
        fields=[
            ThemeFieldSpec("segment", "c_mktsegment"),
            ThemeFieldSpec("nation", "c_nationkey"),
            # label in EXCLUDE_LABELS → projected but NOT searchable
            ThemeFieldSpec("confidence", "ROUND(c_acctbal, 2)"),
        ],
    )


@query(
    "o7_zorder_by_area",
    oracle=f"""
    WITH boxes AS (
        SELECT s_suppkey AS id,
               0.0625 * (s_suppkey % 5 + 1) * (s_suppkey % 5 + 1) AS area
        FROM supplier
    )
    SELECT id, ROUND(area, 6) AS area FROM boxes
    ORDER BY area DESC, id LIMIT 50
    """,
)
def o7_zorder_by_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7 — render z-order: polygons sorted by area, largest pushed back
    (render.js:27-40), through the real WKB area kernel on variable-size
    boxes (half-size (k%5+1)/8 → area (2·half)², exact binary fractions)."""
    from overturemaps_duckdb_spark.functions.geo import st_area, st_box

    s = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("id"),
        F.expr(_C_LON.replace("c_custkey", "s_suppkey")).alias("lon"),
        F.expr(_C_LAT.replace("c_custkey", "s_suppkey")).alias("lat"),
        ((F.col("s_suppkey") % 5 + 1) / F.lit(8.0)).alias("half"),
    )
    boxes = s.withColumn(
        "geometry",
        st_box(
            F.col("lon") - F.col("half"),
            F.col("lat") - F.col("half"),
            F.col("lon") + F.col("half"),
            F.col("lat") + F.col("half"),
        ),
    )
    return (
        boxes.select("id", F.round(st_area("geometry"), 6).alias("area"))
        .orderBy(F.desc("area"), F.asc("id"))
        .limit(50)
    )


@query(
    "ep1_load_theme",
    oracle=f"""
    WITH pts AS (
        SELECT CAST(c_custkey AS VARCHAR) AS id,
               c_name AS display_name,
               concat_ws(' ', c_name, c_mktsegment) AS search_name,
               c_mktsegment AS _f0,
               {_C_LON} AS centroid_lon, {_C_LAT} AS centroid_lat
        FROM customer
    )
    SELECT id, display_name, search_name, _f0, centroid_lon, centroid_lat
    FROM pts
    WHERE centroid_lon >= -150 AND centroid_lon <= -50
      AND centroid_lat >= -60 AND centroid_lat <= 60
    """,
)
def ep1_load_theme(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP1 end-to-end (themes.js:204-410): stage lon-banded files → manifest
    bbox pruning → one budgeted scan through the cache_select
    projection → temp-view registration.  Budget set above the match count,
    so the result is exactly the bbox-filtered projection (the budgeted
    truncation tier is covered by s5/s6)."""
    import os

    pts = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("id"),
        "c_name",
        "c_mktsegment",
        F.expr(_C_LON).alias("centroid_lon"),
        F.expr(_C_LAT).alias("centroid_lat"),
    )
    from overturemaps_duckdb_spark.operators._util import staging_root

    root = staging_root(spark, sf_dir, "ep1")
    files = []
    for i, (lo, hi) in enumerate([(-181, -100), (-100, -30), (-30, 181)]):
        part = pts.where((F.col("centroid_lon") >= lo) & (F.col("centroid_lon") < hi))
        p = os.path.join(root, f"band_{i}")
        part.coalesce(1).write.mode("overwrite").parquet(p)
        files.extend(
            os.path.join(p, f) for f in os.listdir(p) if f.endswith(".parquet")
        )

    def projection(raw: DataFrame) -> DataFrame:
        proj = cache_select(
            raw,
            name_exprs=["c_name"],
            fields=[ThemeFieldSpec("segment", "c_mktsegment")],
        )
        return proj.join(
            raw.select("id", "centroid_lon", "centroid_lat"), "id"
        )

    res = load_theme(
        spark,
        table="theme_ep1",
        files=files,
        bbox=(-150.0, -60.0, -50.0, 60.0),
        projection=projection,
        limit=10**6,
    )
    return res.df


@query(
    "s14_bucketed_join",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment, count(*) AS n_orders
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_mktsegment
    """,
)
def s14_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed layout end-to-end (sources/layout.write_bucketed): customer
    and orders land hash-bucketed+sorted on the customer key, so the join
    AND the per-customer aggregate plan with ZERO Exchange operators —
    asserted on the executed plan.  This is the write-once/join-forever
    layout for dimension tables at 100 TB (every shuffle of a 100 TB fact
    table costs more than the one-time bucketed write)."""
    from overturemaps_duckdb_spark.operators._util import staging_root
    from overturemaps_duckdb_spark.sources.layout import write_bucketed

    root = staging_root(spark, sf_dir, "s14")
    write_bucketed(
        t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
        "omds_bkt_customer",
        bucket_cols=["c_custkey"],
        n_buckets=8,
        sort_cols=["c_custkey"],
        path=f"{root}/customer",
    )
    write_bucketed(
        t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey"),
        "omds_bkt_orders",
        bucket_cols=["o_custkey"],
        n_buckets=8,
        sort_cols=["o_custkey"],
        path=f"{root}/orders",
    )
    c = spark.table("omds_bkt_customer")
    o = spark.table("omds_bkt_orders")
    joined = (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("*").alias("n_orders"))
    )
    # bucketing's contract: NO shuffle exchange anywhere — the join either
    # broadcasts the dim (Catalyst's call at fixture size; still no shuffle)
    # or bucketed-SMJs, and the keyed aggregate inherits the bucket
    # partitioning (the forced-SMJ zero-Exchange case is pytest-covered in
    # test_layout.py where conf scope is controllable)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, (
        "bucketed join/agg must not shuffle"
    )
    return joined


@query(
    "s15_table_profile",
    oracle="""
    SELECT 'doc_id' AS column_name, 'bigint' AS column_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count(doc_id) AS BIGINT) AS n_null,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
           CAST(min(doc_id) AS VARCHAR) AS min_v,
           CAST(max(doc_id) AS VARCHAR) AS max_v
    FROM documents
    UNION ALL
    SELECT 'lang', 'string', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(lang) AS BIGINT),
           CAST(count(DISTINCT lang) AS BIGINT),
           CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT 'source', 'string', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(source) AS BIGINT),
           CAST(count(DISTINCT source) AS BIGINT),
           CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT 'n_chars', 'bigint', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(n_chars) AS BIGINT),
           CAST(count(DISTINCT n_chars) AS BIGINT),
           CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
    FROM documents
    """,
)
def s15_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column table profile (count / nulls / distinct / min / max) in ONE
    scan — the engine analog of DuckDB's `SUMMARIZE`, which the reference's
    SQL console accepts like any statement.  A single aggregate computes all
    columns' stats simultaneously; `stack` pivots the one-row result
    (operators/profile.profile_table; the console's `SUMMARIZE t` routes
    there via the compat intercept)."""
    from overturemaps_duckdb_spark.operators.profile import profile_table

    d = t(spark, sf_dir, "documents")
    return profile_table(d, ["doc_id", "lang", "source", "n_chars"])


@query(
    "io1_jsonl_roundtrip",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(CAST(sum(doc_id) AS HUGEINT) AS BIGINT) AS id_sum,
           CAST(CAST(sum(n_chars) AS HUGEINT) AS BIGINT) AS chars_sum,
           CAST(CAST(sum(('0x' || substr(md5(coalesce(text, '<null>')), 1, 15))::BIGINT
                         % 1000000007) AS HUGEINT) AS BIGINT) AS text_hash_sum,
           CAST(CAST(sum(('0x' || substr(md5(coalesce(lang, '<null>') || '|' ||
                                         coalesce(source, '<null>')), 1, 15))::BIGINT
                         % 1000000007) AS HUGEINT) AS BIGINT) AS meta_hash_sum
    FROM documents
    """,
)
def io1_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink + source roundtrip — the interchange format LLM corpora
    actually ship as.  The documents table is written as JSON Lines
    (distributed writer, one shard per task), read back with the ORIGINAL
    schema applied explicitly (schema inference is engine-specific; an
    interchange path must pin types), and certified by VALUE IDENTITY:
    the oracle computes the same per-column checksums over the source
    parquet, so any escaping/unicode/NULL loss in the roundtrip
    hash-mismatches.  NULL columns survive because the reader treats a
    missing JSON field as NULL (Spark's writer drops NULL fields — the
    asymmetry this query certifies as harmless).  Hashes fold mod 1e9+7
    before summing so the aggregate stays in BIGINT at any corpus size."""
    from overturemaps_duckdb_spark.functions.text import md5_long
    from overturemaps_duckdb_spark.operators._util import staging_root

    d = t(spark, sf_dir, "documents")
    root = staging_root(spark, sf_dir, "jsonlrt")
    d.write.mode("overwrite").json(root)
    back = spark.read.schema(d.schema).json(root)
    mod = F.lit(1000000007).cast("bigint")
    th = md5_long(F.coalesce(F.col("text"), F.lit("<null>"))) % mod
    mh = (
        md5_long(
            F.concat_ws(
                "|",
                F.coalesce(F.col("lang"), F.lit("<null>")),
                F.coalesce(F.col("source"), F.lit("<null>")),
            )
        )
        % mod
    )
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
        F.sum("n_chars").cast("bigint").alias("chars_sum"),
        F.sum(th).cast("bigint").alias("text_hash_sum"),
        F.sum(mh).cast("bigint").alias("meta_hash_sum"),
    )
