"""File-level spatial manifest: parquet-footer bbox stats → pruned scans.

Rebuilds the reference's worker-side spatial index (SURVEY §2.1 S3):
`/root/reference/worker/index.js:133-213` reads each parquet file's footer,
extracts column min/max statistics for `bbox.xmin/xmax/ymin/ymax`
(extractBbox, worker/index.js:276-309), caches a `{file → bbox}` index and
serves only files overlapping a query bbox (worker/index.js:174-179).

Spark's parquet reader already prunes row groups once the bbox predicate
exists (F1), but it still *opens* every file to learn that — at 100 TB with
millions of objects, listing+footer reads per query dominate.  The manifest
moves that cost to build-time, exactly like the reference:

- build once (driver-side or distributed via ``mapInPandas`` over a path
  list), persist as a tiny parquet table;
- per query: filter the manifest with the interval-overlap test, then
  ``spark.read.parquet(*survivors)`` — the scan DAG never sees pruned files.

Catalog discovery (S4: worker/index.js:53-128) is the same directory walk
over `release/theme=…/type=…` prefixes, driver-side.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class FileBBox:
    """Footer-derived bounds of one file (worker/index.js:276-309)."""

    path: str
    xmin: float
    xmax: float
    ymin: float
    ymax: float

    def overlaps(self, xmin: float, ymin: float, xmax: float, ymax: float) -> bool:
        """Interval-overlap test (worker/index.js:174-179 / query.js:3-5)."""
        return (
            self.xmax >= xmin
            and self.xmin <= xmax
            and self.ymax >= ymin
            and self.ymin <= ymax
        )


#: accepted column spellings per axis: nested Overture `bbox.*` first, then
#: flat centroid columns (our cached-table schema, query.js:41-42)
_AXIS_COLUMNS = {
    "xmin": ("bbox.xmin", "centroid_lon", "lon"),
    "xmax": ("bbox.xmax", "centroid_lon", "lon"),
    "ymin": ("bbox.ymin", "centroid_lat", "lat"),
    "ymax": ("bbox.ymax", "centroid_lat", "lat"),
}


class Manifest(tuple):
    """``(indexed, unknown)`` as :func:`build_manifest` returns it, plus two
    per-file facts read from the same footer the bbox came from:
    ``num_rows``, the footer row count (a budgeted load skips its LIMIT
    when the surviving files cannot exceed it), and ``schemas``, the Arrow
    schema (a load reads with the first survivor's schema, as Spark's own
    inference would, without running an inference job)."""

    num_rows: dict[str, int]
    schemas: dict[str, pa.Schema]

    def __new__(cls, indexed, unknown, num_rows, schemas):
        self = super().__new__(cls, (indexed, unknown))
        self.num_rows = num_rows
        self.schemas = schemas
        return self


def file_bbox(path: str) -> FileBBox | None:
    """Extract a file's bbox from footer statistics only (no data pages).

    Returns None when stats are missing — the caller must treat such files
    as always-overlapping, mirroring the reference's degrade-to-all-files
    behavior while its index builds (worker/index.js:146-172)."""
    return _footer_bbox(path, pq.ParquetFile(path).metadata)


def _footer_bbox(path: str, meta) -> FileBBox | None:
    if meta.num_rows == 0:
        # empty file: never overlaps anything → always pruned
        return FileBBox(path, float("inf"), float("-inf"), float("inf"), float("-inf"))
    schema = meta.schema
    col_idx = {schema.column(i).path: i for i in range(len(schema))}

    def stat(axis: str, want_max: bool) -> float | None:
        for name in _AXIS_COLUMNS[axis]:
            i = col_idx.get(name)
            if i is None:
                continue
            lo, hi = None, None
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(i).statistics
                if st is None or not st.has_min_max:
                    # this candidate column lacks stats in SOME row group —
                    # fall through to the next candidate name instead of
                    # giving up on the axis (a bbox column written without
                    # stats must not disable pruning while centroid_lon
                    # still carries them; conservative either way, but the
                    # fallback list exists exactly for this)
                    lo = None
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if lo is None:
                continue
            return float(hi) if want_max else float(lo)
        return None

    xmin, xmax = stat("xmin", False), stat("xmax", True)
    ymin, ymax = stat("ymin", False), stat("ymax", True)
    if None in (xmin, xmax, ymin, ymax):
        return None
    return FileBBox(path, xmin, xmax, ymin, ymax)


def build_manifest(paths: list[str]) -> Manifest:
    """(indexed files, stat-less files), one footer read per file.
    Stat-less files always survive pruning (degrade-to-all semantics)."""
    indexed, unknown, num_rows, schemas = [], [], {}, {}
    for p in paths:
        pf = pq.ParquetFile(p)
        meta = pf.metadata
        num_rows[p] = meta.num_rows
        schemas[p] = pf.schema_arrow
        fb = _footer_bbox(p, meta)
        if fb is None:
            unknown.append(p)
        else:
            indexed.append(fb)
    return Manifest(indexed, unknown, num_rows, schemas)


def prune_files(
    manifest: tuple[list[FileBBox], list[str]],
    bbox: tuple[float, float, float, float],
) -> list[str]:
    """Files that can contain rows in bbox (plus all stat-less files)."""
    xmin, ymin, xmax, ymax = bbox
    indexed, unknown = manifest
    return [f.path for f in indexed if f.overlaps(xmin, ymin, xmax, ymax)] + list(
        unknown
    )


def read_pruned(spark, manifest, bbox):
    """Manifest-pruned scan: the DAG only lists surviving files; the bbox
    predicate still goes into the scan for row-group pruning (F1)."""
    files = prune_files(manifest, bbox)
    if not files:
        return None
    return spark.read.parquet(*files)


# ---------------------------------------------------------------------------
# catalog discovery (S4 — worker/index.js:53-128)
# ---------------------------------------------------------------------------


def discover_catalog(base_dir: str) -> dict[str, dict[str, list[str]]]:
    """Walk `base/release/theme_type/*.parquet` into
    {release: {theme_type: [files]}} — the local twin of the S3
    ListObjects prefix walk (worker/index.js:53-128, listS3Files 245-260)."""
    catalog: dict[str, dict[str, list[str]]] = {}
    if not os.path.isdir(base_dir):
        return catalog
    for release in sorted(os.listdir(base_dir)):
        rdir = os.path.join(base_dir, release)
        if not os.path.isdir(rdir):
            continue
        themes: dict[str, list[str]] = {}
        for theme in sorted(os.listdir(rdir)):
            tdir = os.path.join(rdir, theme)
            if not os.path.isdir(tdir):
                continue
            files = sorted(
                os.path.join(tdir, f)
                for f in os.listdir(tdir)
                if f.endswith(".parquet")
            )
            if files:
                themes[theme] = files
        if themes:
            catalog[release] = themes
    return catalog
