"""Theme ingest orchestration — EP1 (`loadArea` → `loadTheme`).

Rebuilds `/root/reference/src/lib/themes.js:204-410` Spark-first:

reference step                              → here
----------------------------------------------------------------------
cache check via bboxContains (themes.js:212)  → snapview superset-bbox reuse
IndexedDB parquet restore (themes.js:237-263) → partition-pruned layout read
worker /files bbox pruning (themes.js:267)    → manifest.prune_files
schema probe DESCRIBE (themes.js:294-297)     → footer schema from the manifest
buildCacheSelect projection (query.js:10-45)  → cache_select()
batched CTAS/INSERT w/ budget (themes.js:300) → one scan, one LIMIT
RTREE/FTS index build (themes.js:351-356)     → grid layout + FTS index
COPY TO parquet + IndexedDB (themes.js:362)   → layout adopted as snapview
_load_history insert (themes.js:391)          → append_load_history

A fresh load is one scan, one write and one count.  The browser app loads
in 3-file batches (themes.js:287) because its single-threaded engine has
no other way to bound a batch; Spark splits the one scan into tasks
itself, so the load reads every surviving file in one job and enforces
the budget with a single LIMIT that runs inside the layout write (left
out when the footers prove the survivors fit the budget).  The layout is
read back with the schema it was written with, counted once, and
recorded as the theme's snapview: there is no second parquet copy.

The ingest projection (cache_select) reproduces query.js:10-45 semantics
against whatever columns exist: COALESCE display-name fallback chain,
search_name concat excluding noise labels, centroid precompute, `_fN`
varchar padding.  Geometry here is synthesized WKB (fixtures have no raw
geometry); on real Overture data the same code passes the parquet geometry
column through untouched (late materialization, query.js:7-9).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

from overturemaps_duckdb_spark.operators._util import materialize
from overturemaps_duckdb_spark.sources import layout
from overturemaps_duckdb_spark.sources.manifest import build_manifest, prune_files
from overturemaps_duckdb_spark.state import SnapviewStore, append_load_history

#: per-theme ingest row cap (themes.js:97)
DEFAULT_THEME_LIMIT = 33_000

#: field labels excluded from search_name (query.js:50-59 EXCLUDE_LABELS):
#: numeric/noise fields that would pollute FTS
EXCLUDE_LABELS = {"confidence", "height", "min_zoom", "num_floors", "n_chars"}


@dataclass
class ThemeFieldSpec:
    """One `_fN` projection: label + SQL expression (constants.js:14-120)."""

    label: str
    expr: str
    searchable: bool = True


@dataclass
class LoadResult:
    table: str
    rows: int
    files_total: int
    files_scanned: int
    #: scans run: one over the surviving files, none when all were pruned
    batches: int
    cached: bool
    load_time_ms: float
    df: DataFrame = field(repr=False, default=None)
    #: where the grid-partitioned materialization landed (None = in-memory)
    layout_path: str | None = None


def cache_select(
    df: DataFrame,
    *,
    name_exprs: list[str],
    fields: list[ThemeFieldSpec],
) -> DataFrame:
    """The ingest projection (buildCacheSelect, query.js:10-45), applied to
    whichever columns exist in the probed schema:

    - display_name: COALESCE(CAST(first-existing-name AS STRING), '')
      fallback chain (query.js:11-13)
    - search_name: CONCAT_WS(' ', name, searchable fields) with noise labels
      excluded (query.js:23-33, 50-59)
    - `_fN`: CAST(expr AS STRING) (query.js:19-27)
    """
    def resolves(expr: str) -> bool:
        # the probe the reference does against the DESCRIBEd column set
        # (query.js:10-45 `parquetCols.has`), done exactly: ask the analyzer
        try:
            df.select(F.expr(expr))
            return True
        except Exception:
            return False

    present = [e for e in name_exprs if resolves(e)]
    if present:
        display = F.coalesce(
            *[F.expr(e).cast("string") for e in present], F.lit("")
        )
    else:
        display = F.lit("")
    search_parts = [display]
    out_fields = []
    for i, spec in enumerate(fields):
        if not resolves(spec.expr):
            fcol = F.lit(None).cast("string")
        else:
            fcol = F.expr(spec.expr).cast("string")
        out_fields.append(fcol.alias(f"_f{i}"))
        if spec.searchable and spec.label not in EXCLUDE_LABELS:
            search_parts.append(fcol)
    return df.select(
        F.col("id").cast("string").alias("id"),
        display.alias("display_name"),
        F.concat_ws(" ", *search_parts).alias("search_name"),
        *out_fields,
    )


def _contains(outer, bbox) -> bool:
    """bboxContains (themes.js:212 / map.js:35-38)."""
    return (
        outer is not None
        and outer[0] <= bbox[0] and outer[1] <= bbox[1]
        and outer[2] >= bbox[2] and outer[3] >= bbox[3]
    )


def load_theme(
    spark: SparkSession,
    *,
    table: str,
    files: list[str],
    bbox: tuple[float, float, float, float],
    projection,
    store: SnapviewStore | None = None,
    state_root: str | None = None,
    limit: int = DEFAULT_THEME_LIMIT,
    lon_col: str = "centroid_lon",
    lat_col: str = "centroid_lat",
    layout_root: str | None = None,
    layout_cell_deg: float = 5.0,
) -> LoadResult:
    """The EP1 pipeline for one theme: prune files by bbox → one budgeted
    scan → grid-partitioned materialization (which is also the snapview)
    → register temp view → history log.

    `projection` maps the raw scan DataFrame → cached-schema DataFrame (use
    :func:`cache_select` composed with geometry/centroid derivation).  It
    must be ROW-PRESERVING: one output row per input row, no filter, no
    fan-out — the load skips its LIMIT when the surviving files' footer
    row total is within the budget, which is only sound if the projection
    cannot add rows.

    Materialization (the reference's optional RTREE, themes.js:351): when a
    store or an explicit `layout_root` is given, the ingested rows land
    grid-partitioned on `layout_cell_deg` cells (sources/layout.py) and the
    registered view READS BACK from that layout — every later bbox query
    gets plan-time partition pruning instead of a full scan.  With a store,
    the layout is recorded as the theme's snapview (no second copy).  With
    neither, the load stays in-memory (checkpoint only), matching the
    reference with RTREE off."""
    t0 = time.monotonic()
    xmin, ymin, xmax, ymax = bbox

    # 1. snapview reuse: a recorded layout whose load bbox CONTAINS the
    #    request serves it with a filter (bboxContains, themes.js:212);
    #    the cell-range predicates prune the layout's cx=/cy= directories
    record = store.record(table) if store is not None else None
    adopted = record.get("layout") if record is not None else None
    if (
        adopted is not None
        and _contains(record.get("bbox"), bbox)
        and os.path.isdir(adopted["path"])
    ):
        clipped = layout.read_grid_bbox(
            spark, adopted["path"], bbox, cell_deg=adopted["cell_deg"],
            lon_col=lon_col, lat_col=lat_col,
            schema=StructType.fromJson(adopted["schema"]),
        ).drop("cx", "cy")
        clipped.createOrReplaceTempView(table)
        n = clipped.count()
        elapsed = (time.monotonic() - t0) * 1e3
        if state_root is not None:
            # the reference logs EVERY load with its cached flag
            # (themes.js:391), cache-served loads included
            append_load_history(
                state_root, key=table, bbox=str(list(bbox)),
                lim=limit, cached=True, row_count=n,
                file_count=0, load_time_ms=elapsed,
            )
        return LoadResult(table, n, 0, 0, 0, True, elapsed, clipped)

    # 2. file-level pruning (themes.js:267-275 / worker/index.js:174-179)
    manifest = build_manifest(files)
    survivors = prune_files(manifest, bbox)

    # 3. one scan of the survivors with one budget LIMIT (themes.js:300-330).
    #    The LIMIT executes exactly once, inside the job that materializes
    #    the rows, and is left out when the footers already prove the
    #    survivors hold no more than `limit` rows.  The schema is the one
    #    the manifest read from the first scanned file's footer, so no
    #    inference job runs.
    scanned = survivors or files
    loaded = projection(
        spark.read.schema(from_arrow_schema(manifest.schemas[scanned[0]]))
        .parquet(*scanned)
    )
    if not survivors:
        loaded = loaded.where(F.lit(False))
    else:
        loaded = loaded.where(
            (F.col(lon_col) >= xmin) & (F.col(lon_col) <= xmax)
            & (F.col(lat_col) >= ymin) & (F.col(lat_col) <= ymax)
        )
        if sum(manifest.num_rows[p] for p in survivors) > limit:
            loaded = loaded.limit(limit)

    # 4. grid-partitioned materialization — the RTREE analog (themes.js:351):
    #    the ingested rows land pre-binned by spatial cell and the registered
    #    view reads back from the layout with the schema already known, so
    #    every downstream bbox query is partition-pruned at plan time (s13
    #    exercises exactly this artifact) and no inference job runs.
    if store is not None:
        # drop the old record first: it must never point at a layout that
        # is being overwritten, or was left half-written by a failed load
        store.delete(table)
    layout_path = None
    root = layout_root if layout_root is not None else (
        store.root if store is not None else None
    )
    if root is not None and lon_col in loaded.columns:
        layout_path = os.path.join(root, "_layout", table)
        schema = layout.grid_schema(loaded.schema)
        layout.write_grid_partitioned(
            loaded, layout_path, cell_deg=layout_cell_deg,
            lon_col=lon_col, lat_col=lat_col,
        )
        loaded = (
            spark.read.schema(schema).parquet(layout_path)
            .drop("cx", "cy").cache()
        )
    else:
        # checkpoint at the count (eager=False: the count IS the
        # materializing job), so the unordered LIMIT runs once and every
        # later read sees the row subset the count saw
        loaded = materialize(loaded, eager=False)
    rows = loaded.count()
    loaded.createOrReplaceTempView(table)

    # 5. snapview record + telemetry (themes.js:362,391)
    elapsed_ms = (time.monotonic() - t0) * 1e3
    if store is not None and layout_path is not None:
        store.adopt_layout(
            table, layout_path, schema, layout_cell_deg, rows,
            {"bbox": list(bbox)},
        )
    if state_root is not None:
        append_load_history(
            state_root, key=table, bbox=str(list(bbox)), lim=limit,
            cached=False, row_count=rows, file_count=len(survivors),
            load_time_ms=elapsed_ms,
        )
    return LoadResult(
        table, rows, len(files), len(survivors), 1 if survivors else 0,
        False, elapsed_ms, loaded, layout_path,
    )
