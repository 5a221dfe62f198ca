"""Geo scalar functions as Arrow-batched pandas UDFs (SURVEY §2.2 G1-G6).

The reference calls DuckDB spatial-extension functions
(`/root/reference/src/lib/query.js:39-42`, `pipeline.js:128-137`,
`analysisQueries.js:27-46`).  Here each becomes a vectorized pandas UDF over
WKB `BinaryType` columns backed by :mod:`overturemaps_duckdb_spark.functions.wkb`.

Design notes (scale):
- UDFs are the slow path — they appear only where geometry math is
  irreducible.  Cheap prefilters (bbox / centroid band conditions) stay as
  native column expressions so Catalyst pushes them into scans and join
  conditions; the UDF then runs on the small post-filter row set.
- Everything transfers via Arrow record batches (no per-row pickling).
- ``st_point`` / ``st_box`` are constructors used by ingest to materialize
  WKB once; downstream operators keep the binary column opaque (late
  materialization, query.js:7-9).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow
import pyspark.sql.functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from overturemaps_duckdb_spark.functions import wkb

#: meters → degrees conversion used throughout the reference (pipeline.js:128)
METERS_PER_DEGREE = 111320.0

# -- vectorized fast paths ---------------------------------------------------
# The ingest chains construct/deconstruct millions of uniform little-endian
# 2-D points and single-ring boxes; batching those through numpy instead of
# per-row struct packing cuts the UDF fill cost ~5-10× (NOTES r1 backlog #1).
# Arithmetic is unrolled per ring segment so each element sees the SAME
# operation order as the scalar kernel in functions/wkb.py — results are
# bit-identical, and anything non-uniform falls back to the kernel.

_PT_HDR = b"\x01\x01\x00\x00\x00"  # LE, POINT
_BOX_HDR = b"\x01\x03\x00\x00\x00\x01\x00\x00\x00\x05\x00\x00\x00"  # LE POLYGON, 1 ring, 5 pts
_PT_LEN = 21
_BOX_LEN = 93


def _is_uniform(geom: pd.Series, hdr: bytes, length: int) -> bool:
    return all(
        b is not None and len(b) == length and b[: len(hdr)] == hdr for b in geom
    )


def _f8cols(geom: pd.Series, length: int, offset: int) -> np.ndarray:
    """(n, n_doubles) float64 view of fixed-size WKB buffers."""
    raw = np.frombuffer(b"".join(geom), dtype=np.uint8).reshape(-1, length)
    return np.ascontiguousarray(raw[:, offset:]).view("<f8")


def _box_ring(geom: pd.Series):
    """x (n,5), y (n,5) ring vertices of uniform box polygons."""
    pts = _f8cols(geom, _BOX_LEN, 13)
    return pts[:, 0::2], pts[:, 1::2]


def _box_shoelace(x: np.ndarray, y: np.ndarray):
    """Signed ring area + centroid, segment-unrolled to match
    wkb._ring_area/_ring_centroid bit-for-bit (local-origin shoelace)."""
    u = x - x[:, :1]
    v = y - y[:, :1]
    s = np.zeros(len(x))
    cx = np.zeros(len(x))
    cy = np.zeros(len(x))
    for i in range(4):  # sequential accumulation, same order as the kernel
        cross = u[:, i] * v[:, i + 1] - u[:, i + 1] * v[:, i]
        s = s + cross
        cx = cx + (u[:, i] + u[:, i + 1]) * cross
        cy = cy + (v[:, i] + v[:, i + 1]) * cross
    area = s / 2.0
    with np.errstate(divide="ignore", invalid="ignore"):
        cenx = x[:, 0] + cx / (6.0 * area)
        ceny = y[:, 0] + cy / (6.0 * area)
        # wkb.centroid folds the single member through its weighted average
        # ((c·w)/w) — replicate the roundtrip so floats match to the last ulp
        w = np.abs(area)
        cenx = (cenx * w) / w
        ceny = (ceny * w) / w
    return area, cenx, ceny


def _quick_type(b) -> str | None:
    """Geometry kind from the WKB header alone (no coordinate parse)."""
    if b is None:
        return None
    code = int.from_bytes(b[1:5], "little" if b[0] == 1 else "big")
    base = code & 0xFF
    if base > 7:
        base = (code & 0x1FFFFFFF) % 1000
    kind = wkb._WKB_TYPES.get(base)
    return kind if kind is not None else wkb.geom_type(wkb.loads(b))


@pandas_udf(StringType())
def st_geometrytype(geom: pd.Series) -> pd.Series:
    """G1 — `ST_GeometryType(geometry)` (query.js:40)."""
    return geom.map(_quick_type)


@pandas_udf(
    StructType(
        [StructField("lon", DoubleType()), StructField("lat", DoubleType())]
    )
)
def st_centroid_lonlat(geom: pd.Series) -> pd.DataFrame:
    """G2 — `ST_X/ST_Y(ST_Centroid(geometry))` (query.js:41-42)."""
    if len(geom) and _is_uniform(geom, _PT_HDR, _PT_LEN):
        pts = _f8cols(geom, _PT_LEN, 5)
        return pd.DataFrame({"lon": pts[:, 0], "lat": pts[:, 1]})
    if len(geom) and _is_uniform(geom, _BOX_HDR, _BOX_LEN):
        x, y = _box_ring(geom)
        area, cenx, ceny = _box_shoelace(x, y)
        if not np.any(area == 0.0):  # degenerate boxes → kernel fallback
            return pd.DataFrame({"lon": cenx, "lat": ceny})
    lons, lats = [], []
    for b in geom:
        c = None if b is None else wkb.centroid(wkb.loads(b))
        if c is None:  # NULL input, or an empty geometry (no members)
            lons.append(None)
            lats.append(None)
        else:
            lons.append(c[0])
            lats.append(c[1])
    return pd.DataFrame({"lon": lons, "lat": lats})


def _geojson(b: bytes | None) -> str | None:
    return None if b is None else wkb.as_geojson(wkb.loads(b))


@pandas_udf(StringType())
def st_asgeojson(geom: pd.Series) -> pd.Series:
    """G3 — WKB→GeoJSON at the output boundary only (query.js:81)."""
    return geom.map(_geojson)


def geojson_batches(
    batches: Iterator[pyarrow.RecordBatch], drop: tuple[str, ...] = ()
) -> Iterator[pyarrow.RecordBatch]:
    """G3 as a ``mapInArrow`` function: each batch with its ``geometry``
    column replaced, in the same position, by ``geojson`` (the
    :func:`st_asgeojson` kernel, NULL → NULL); columns named in ``drop``
    are left out.  A map is not a Project, so the optimizer cannot push it
    through a Union or below a LIMIT the way it pushes the UDF's Project."""
    for batch in batches:
        names = batch.schema.names
        i = names.index("geometry")
        cols = list(batch.columns)
        cols[i] = pyarrow.array(
            [_geojson(b) for b in cols[i].to_pylist()], pyarrow.string()
        )
        names[i] = "geojson"
        keep = [j for j, n in enumerate(names) if n not in drop]
        yield pyarrow.RecordBatch.from_arrays(
            [cols[j] for j in keep], names=[names[j] for j in keep]
        )


@pandas_udf(BooleanType())
def st_intersects(a: pd.Series, b: pd.Series) -> pd.Series:
    """G4 — exact intersection predicate (analysisQueries.js:33).

    Fast path: point-vs-axis-aligned-box batches reduce to four vectorized
    comparisons (boundary inclusive, exactly the kernel's ray-cast +
    boundary semantics for a rectangle); anything else → kernel."""
    if (
        len(a)
        and _is_uniform(a, _PT_HDR, _PT_LEN)
        and _is_uniform(b, _BOX_HDR, _BOX_LEN)
    ):
        p = _f8cols(a, _PT_LEN, 5)
        x, y = _box_ring(b)
        axis_aligned = (
            (x[:, 0] == x[:, 3]) & (x[:, 0] == x[:, 4]) & (x[:, 1] == x[:, 2])
            & (y[:, 0] == y[:, 1]) & (y[:, 0] == y[:, 4]) & (y[:, 2] == y[:, 3])
        )
        if np.all(axis_aligned):
            xmin, xmax = x.min(axis=1), x.max(axis=1)
            ymin, ymax = y.min(axis=1), y.max(axis=1)
            hit = (
                (p[:, 0] >= xmin) & (p[:, 0] <= xmax)
                & (p[:, 1] >= ymin) & (p[:, 1] <= ymax)
            )
            return pd.Series(hit)
    return pd.Series(
        [
            None if (x is None or y is None) else wkb.intersects(wkb.loads(x), wkb.loads(y))
            for x, y in zip(a, b)
        ],
        dtype="object",
    )


@pandas_udf(DoubleType())
def st_distance(a: pd.Series, b: pd.Series) -> pd.Series:
    """G5 — planar distance in degrees (analysisQueries.js:28,35).

    Fast path: point-point batches → vectorized sqrt(dx²+dy²), bit-identical
    to the kernel's _euclid (which is sqrt, not hypot, for exactly this
    oracle-parity reason)."""
    if (
        len(a)
        and _is_uniform(a, _PT_HDR, _PT_LEN)
        and _is_uniform(b, _PT_HDR, _PT_LEN)
    ):
        pa = _f8cols(a, _PT_LEN, 5)
        pb = _f8cols(b, _PT_LEN, 5)
        dx = pa[:, 0] - pb[:, 0]
        dy = pa[:, 1] - pb[:, 1]
        return pd.Series(np.sqrt(dx * dx + dy * dy))
    return pd.Series(
        [
            None if (x is None or y is None) else wkb.distance(wkb.loads(x), wkb.loads(y))
            for x, y in zip(a, b)
        ],
        dtype="float64",
    )


@pandas_udf(BinaryType())
def st_intersection(a: pd.Series, b: pd.Series) -> pd.Series:
    """G6 — intersection geometry for overlays (AnalysisPanel.jsx:44-46)."""

    def go(x, y):
        if x is None or y is None:
            return None
        g = wkb.intersection(wkb.loads(x), wkb.loads(y))
        return None if g is None else wkb.dumps(g)

    return pd.Series([go(x, y) for x, y in zip(a, b)], dtype="object")


@pandas_udf(BinaryType())
def st_point(lon: pd.Series, lat: pd.Series) -> pd.Series:
    """Constructor: (lon, lat) → WKB point (ingest-side materialization).
    Batch-packed via numpy (header + two LE doubles per row) — byte-identical
    to wkb.dumps(wkb.point(...))."""
    n = len(lon)
    lon_f = np.asarray(lon, dtype="<f8")
    lat_f = np.asarray(lat, dtype="<f8")
    buf = np.empty((n, _PT_LEN), dtype=np.uint8)
    buf[:, :5] = np.frombuffer(_PT_HDR, dtype=np.uint8)
    buf[:, 5:13] = np.ascontiguousarray(lon_f).view(np.uint8).reshape(n, 8)
    buf[:, 13:21] = np.ascontiguousarray(lat_f).view(np.uint8).reshape(n, 8)
    raw = buf.tobytes()
    # NULL coordinate → NULL geometry (SQL row-level null propagation, and
    # what every other UDF here does) — asarray silently encoded None as a
    # structurally-valid NaN-coordinate point that passed IS NOT NULL
    # filters and poisoned downstream bbox/intersects math.
    null = np.isnan(lon_f) | np.isnan(lat_f)
    return pd.Series(
        [
            None if null[i] else raw[i * _PT_LEN : (i + 1) * _PT_LEN]
            for i in range(n)
        ],
        dtype="object",
    )


@pandas_udf(BinaryType())
def st_box(xmin: pd.Series, ymin: pd.Series, xmax: pd.Series, ymax: pd.Series) -> pd.Series:
    """Constructor: envelope → WKB polygon (rectangular footprints).
    Batch-packed CCW closed ring, byte-identical to wkb.dumps(wkb.box(...))."""
    n = len(xmin)
    a = np.asarray(xmin, dtype="<f8")
    b = np.asarray(ymin, dtype="<f8")
    c = np.asarray(xmax, dtype="<f8")
    d = np.asarray(ymax, dtype="<f8")
    ring = np.empty((n, 10), dtype="<f8")
    # (xmin,ymin) (xmax,ymin) (xmax,ymax) (xmin,ymax) (xmin,ymin) — wkb.box
    ring[:, 0], ring[:, 1] = a, b
    ring[:, 2], ring[:, 3] = c, b
    ring[:, 4], ring[:, 5] = c, d
    ring[:, 6], ring[:, 7] = a, d
    ring[:, 8], ring[:, 9] = a, b
    buf = np.empty((n, _BOX_LEN), dtype=np.uint8)
    buf[:, :13] = np.frombuffer(_BOX_HDR, dtype=np.uint8)
    buf[:, 13:] = np.ascontiguousarray(ring).view(np.uint8).reshape(n, 80)
    raw = buf.tobytes()
    # NULL envelope coordinate → NULL geometry (see st_point)
    null = np.isnan(a) | np.isnan(b) | np.isnan(c) | np.isnan(d)
    return pd.Series(
        [
            None if null[i] else raw[i * _BOX_LEN : (i + 1) * _BOX_LEN]
            for i in range(n)
        ],
        dtype="object",
    )


@pandas_udf(DoubleType())
def st_area(geom: pd.Series) -> pd.Series:
    """Planar area — used for the z-order-by-area render sort (render.js:27-40)."""
    if len(geom) and _is_uniform(geom, _BOX_HDR, _BOX_LEN):
        x, y = _box_ring(geom)
        area, _, _ = _box_shoelace(x, y)
        return pd.Series(np.abs(area))
    return geom.map(lambda b: None if b is None else wkb.area(wkb.loads(b)))


def meters_to_degrees(meters: float) -> float:
    """The reference's planar meters→degrees convention (pipeline.js:128)."""
    return meters / METERS_PER_DEGREE


def with_centroid(df, geom_col: str = "geometry"):
    """Attach `centroid_lon` / `centroid_lat` (ingest projection, query.js:41-42)."""
    c = st_centroid_lonlat(F.col(geom_col))
    return df.withColumn("_c", c).withColumns(
        {"centroid_lon": F.col("_c.lon"), "centroid_lat": F.col("_c.lat")}
    ).drop("_c")
