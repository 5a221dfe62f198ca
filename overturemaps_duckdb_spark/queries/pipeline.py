"""Pipeline-compiler inventory (SURVEY §3 EP2 — the canonical analytical
query): every compiled shape is oracle-checked end-to-end.

Theme-shaped fixture tables are derived from customer/supplier/documents with
the same exact-binary-fraction point derivations as queries/spatial.py, so
the whole compile → union → search → spatial-filter → top-k path is
value-verified, mirroring the reference's compiler tests
(`/root/reference/src/lib/__tests__/pipeline.test.js`) but against real
execution instead of SQL-string assertions:

- pl1: balanced per-source LIMIT split (pipeline.test.js:41-50)
- pl2: ILIKE search + NULL score (pipeline.test.js:99-124)
- pl3: bbox clause (pipeline.test.js:82-95)
- pl4: within filter — NO per-source limit, auto-included filter table,
       bidirectional id match, self-guard, distance conversion
       (pipeline.test.js:54-78, 157-216)
- pl5: exclude filter (NOT EXISTS), filter table NOT auto-included
       (pipeline.test.js:178-197)
- pl6: FTS search — score column + ORDER BY _score DESC
       (pipeline.test.js:140-153)

`geojson` IS part of every pl* comparison (r12, VERDICT r11 #7): the
theme coordinates are exact binary fractions (k/16, k/32 — ≤5 decimal
digits), where Python's shortest-round-trip float repr and DuckDB's
double→VARCHAR agree character-for-character, so the oracles emit the
same RFC 7946 point text by string construction.  (Arbitrary doubles do
NOT format identically across the engines — a 3k-double fuzz shows ~9%
divergence in the 16th-17th significant digit — so g3/pl* certify the
geojson PATH on format-stable coordinates by design.)"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from overturemaps_duckdb_spark.functions.geo import st_point
from overturemaps_duckdb_spark.operators._util import cache_get, cache_put
from overturemaps_duckdb_spark.operators.fts import build_fts_index
from overturemaps_duckdb_spark.plans.pipeline import Catalog, Node, compile_pipeline
from overturemaps_duckdb_spark.queries import query, t
from overturemaps_duckdb_spark.queries._sql import bm25_stemmed_sql
from overturemaps_duckdb_spark.queries.fts import (
    QUERY_TEXT,
    STEMMED_QUERY_TERMS,
)
from overturemaps_duckdb_spark.queries.spatial import _C_LAT, _C_LON, _S_LAT, _S_LON

# ---------------------------------------------------------------------------
# theme-shaped fixtures (the cached-table schema of query.js:35-44)
# ---------------------------------------------------------------------------

_D_LON = "CAST(doc_id % 360 AS DOUBLE) - 180.0"
_D_LAT = "CAST((doc_id * 3) % 160 AS DOUBLE) - 80.0"

FIELDS = {
    "places/customer": ["segment", "nation"],
    "places/supplier": ["nation"],
    "docs/document": ["lang", "n_chars"],
}


def _themed(df: DataFrame) -> DataFrame:
    """Attach geometry-derived columns (the ingest projection of
    query.js:39-42).  All pipeline themes are POINT tables, where the
    kernel's geometry type and centroid are constants of the construction
    (raw f8 read-back of the packed lon/lat — bit-identical), so only the
    WKB *pack* runs as a pandas UDF; the parse-back kernels stay verified
    by the g1/g2 oracle queries."""
    from overturemaps_duckdb_spark.queries.spatial import _spread, _theme_cache

    df = _spread(df)
    out = df.withColumn("geometry", st_point("lon", "lat")).withColumn(
        "geom_type", F.lit("POINT")
    )
    return _theme_cache(
        out.withColumns(
            {"centroid_lon": F.col("lon"), "centroid_lat": F.col("lat")}
        ).drop("lon", "lat")
    )


def theme_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    return _themed(
        c.select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("id"),
            F.col("c_name").alias("display_name"),
            F.concat_ws(" ", "c_name", "c_mktsegment").alias("search_name"),
            F.expr(_C_LON).alias("lon"),
            F.expr(_C_LAT).alias("lat"),
            F.col("c_mktsegment").alias("_f0"),
            F.col("c_nationkey").cast("string").alias("_f1"),
        )
    )


def theme_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = t(spark, sf_dir, "supplier")
    return _themed(
        s.select(
            F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("id"),
            F.col("s_name").alias("display_name"),
            F.concat_ws(" ", "s_name").alias("search_name"),
            F.expr(_S_LON).alias("lon"),
            F.expr(_S_LAT).alias("lat"),
            F.col("s_nationkey").cast("string").alias("_f0"),
        )
    )


def theme_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return _themed(
        d.select(
            F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("id"),
            F.concat(F.lit("doc "), F.col("doc_id").cast("string")).alias(
                "display_name"
            ),
            F.col("text").alias("search_name"),
            F.expr(_D_LON).alias("lon"),
            F.expr(_D_LAT).alias("lat"),
            F.col("lang").alias("_f0"),
            F.col("n_chars").cast("string").alias("_f1"),
        )
    )


def catalog_cs(spark: SparkSession, sf_dir: str) -> Catalog:
    return Catalog(
        tables={
            "theme_customer": theme_customer(spark, sf_dir),
            "theme_supplier": theme_supplier(spark, sf_dir),
        },
        fields=FIELDS,
    )


SRC_C = Node(id="n1", type="source", table="theme_customer", key="places/customer")
SRC_S = Node(
    id="n2", type="combine", op="union", table="theme_supplier", key="places/supplier"
)

#: 0.0625° exactly, via the reference's (d/111320).toFixed(6) conversion
WITHIN_M = 6957.5

# ---- SQL twins -------------------------------------------------------------

_TC_SQL = f"""
SELECT 'c' || CAST(c_custkey AS VARCHAR) AS id,
       c_name AS display_name,
       concat_ws(' ', c_name, c_mktsegment) AS search_name,
       'POINT' AS geom_type,
       {_C_LON} AS centroid_lon, {_C_LAT} AS centroid_lat,
       c_mktsegment AS _f0, CAST(c_nationkey AS VARCHAR) AS _f1,
       'places/customer' AS _source
FROM customer
"""

_TS_SQL = f"""
SELECT 's' || CAST(s_suppkey AS VARCHAR) AS id,
       s_name AS display_name,
       concat_ws(' ', s_name) AS search_name,
       'POINT' AS geom_type,
       {_S_LON} AS centroid_lon, {_S_LAT} AS centroid_lat,
       CAST(s_nationkey AS VARCHAR) AS _f0, CAST(NULL AS VARCHAR) AS _f1,
       'places/supplier' AS _source
FROM supplier
"""


def _coord_sql(c: str) -> str:
    """One coordinate as the engine's wkb._fmt emits it: integer-valued
    doubles print WITHOUT '.0' (the g3-certified convention), fractional
    ones as the shortest round-trip form (exact here — binary fractions)."""
    return (
        f"CASE WHEN {c} = floor({c}) THEN CAST(CAST({c} AS BIGINT) AS VARCHAR) "
        f"ELSE CAST({c} AS VARCHAR) END"
    )


def _geojson_point_sql(lon: str = "centroid_lon", lat: str = "centroid_lat") -> str:
    """RFC 7946 point text by string construction — char-identical to the
    engine's wkb.as_geojson (json.dumps) because the theme coordinates
    are exact binary fractions (see module docstring)."""
    return (
        '\'{"type":"Point","coordinates":[\' || '
        f"{_coord_sql(lon)} || ',' || {_coord_sql(lat)} || ']}}'"
    )


_OUT_COLS = (
    "id, display_name, search_name, "
    f"{_geojson_point_sql()} AS geojson, "
    "geom_type, centroid_lon, centroid_lat, "
    "_f0, _f1, _source"
)

_BAND_DIST = """ABS(base.centroid_lon - b.centroid_lon) < 0.2
      AND ABS(base.centroid_lat - b.centroid_lat) < 0.2
      AND SQRT((base.centroid_lon - b.centroid_lon) * (base.centroid_lon - b.centroid_lon)
             + (base.centroid_lat - b.centroid_lat) * (base.centroid_lat - b.centroid_lat))
          < 0.0625"""


# ---------------------------------------------------------------------------
# pl1 — union-only, balanced per-source limit
# ---------------------------------------------------------------------------


@query(
    "pl1_union_balanced_limit",
    oracle=f"""
    WITH tc AS ({_TC_SQL}), ts AS ({_TS_SQL}),
    base AS (
        (SELECT * FROM tc ORDER BY id LIMIT 20)
        UNION ALL
        (SELECT * FROM ts ORDER BY id LIMIT 20)
    )
    SELECT {_OUT_COLS} FROM base ORDER BY id LIMIT 40
    """,
)
def pl1_union_balanced_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two sources, limit 40 → ceil(40/2)=20 pushed into EACH branch
    (pipeline.js:51-53,99)."""
    df = compile_pipeline(catalog_cs(spark, sf_dir), [SRC_C, SRC_S], limit=40)
    return df


# ---------------------------------------------------------------------------
# pl2 — ILIKE search, NULL score
# ---------------------------------------------------------------------------


@query(
    "pl2_search_ilike",
    oracle=f"""
    WITH tc AS ({_TC_SQL}), ts AS ({_TS_SQL}),
    base AS (
        (SELECT *, CAST(NULL AS DOUBLE) AS _score FROM tc
         WHERE search_name ILIKE '%machinery%' ORDER BY id LIMIT 30)
        UNION ALL
        (SELECT *, CAST(NULL AS DOUBLE) AS _score FROM ts
         WHERE search_name ILIKE '%machinery%' ORDER BY id LIMIT 30)
    )
    SELECT {_OUT_COLS}, _score FROM base
    ORDER BY _score DESC NULLS LAST, id LIMIT 60
    """,
)
def pl2_search_ilike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No FTS index registered → every source searches via ILIKE with a NULL
    `_score` (pipeline.js:81,91)."""
    df = compile_pipeline(
        catalog_cs(spark, sf_dir), [SRC_C, SRC_S], search="machinery", limit=60
    )
    return df


# ---------------------------------------------------------------------------
# pl3 — bbox on the outer query (after per-source sampling)
# ---------------------------------------------------------------------------


@query(
    "pl3_bbox_filter",
    oracle=f"""
    WITH tc AS ({_TC_SQL}), ts AS ({_TS_SQL}),
    base AS (
        (SELECT * FROM tc ORDER BY id LIMIT 1000)
        UNION ALL
        (SELECT * FROM ts ORDER BY id LIMIT 1000)
    )
    SELECT {_OUT_COLS} FROM base
    WHERE centroid_lon >= -90 AND centroid_lon <= 90
      AND centroid_lat >= -45 AND centroid_lat <= 45
    ORDER BY id LIMIT 2000
    """,
)
def pl3_bbox_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viewport bbox applied OUTSIDE the per-source sampling
    (pipeline.js:119-124) — order of operations is observable and matched."""
    df = compile_pipeline(
        catalog_cs(spark, sf_dir),
        [SRC_C, SRC_S],
        bbox=(-90.0, -45.0, 90.0, 45.0),
        limit=2000,
    )
    return df


# ---------------------------------------------------------------------------
# pl4 — within spatial filter
# ---------------------------------------------------------------------------


@query(
    "pl4_within_filter",
    oracle=f"""
    WITH tc AS ({_TC_SQL}), ts AS ({_TS_SQL}),
    base AS (SELECT * FROM tc UNION ALL SELECT * FROM ts),
    matched AS (
        SELECT base.id FROM base
        WHERE EXISTS (
            SELECT 1 FROM ts b
            WHERE base.id <> b.id AND {_BAND_DIST}
        )
        UNION
        SELECT b.id FROM ts b
        WHERE EXISTS (
            SELECT 1 FROM base
            WHERE base.id <> b.id AND {_BAND_DIST}
        )
    )
    SELECT {_OUT_COLS} FROM base
    WHERE id IN (SELECT id FROM matched)
    ORDER BY id LIMIT 5000
    """,
)
def pl4_within_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`within` spatial filter: NO per-source limit (correctness invariant,
    pipeline.js:51-53), filter table auto-included as a source
    (pipeline.js:37-44), bidirectional matched-id union with self-guard
    (pipeline.js:127-157), 6957.5 m → 0.0625° via toFixed(6)."""
    nodes = [
        SRC_C,
        Node(
            id="n3",
            type="combine",
            op="within",
            table="theme_supplier",
            key="places/supplier",
            distance=WITHIN_M,
        ),
    ]
    df = compile_pipeline(catalog_cs(spark, sf_dir), nodes, limit=5000)
    return df


# ---------------------------------------------------------------------------
# pl5 — exclude spatial filter
# ---------------------------------------------------------------------------


@query(
    "pl5_exclude_filter",
    oracle=f"""
    WITH tc AS ({_TC_SQL}), ts AS ({_TS_SQL}),
    base AS (SELECT * FROM tc)
    SELECT {_OUT_COLS} FROM base
    WHERE NOT EXISTS (
        SELECT 1 FROM ts b
        WHERE base.id <> b.id AND {_BAND_DIST}
    )
    ORDER BY id LIMIT 5000
    """,
)
def pl5_exclude_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`exclude`: NOT EXISTS anti-filter; the filter table is NOT
    auto-included (pipeline.js:39-40,159-165).  Note max_f stays 2 — the
    customer key alone defines the `_f` spine."""
    nodes = [
        SRC_C,
        Node(
            id="n3",
            type="combine",
            op="exclude",
            table="theme_supplier",
            key="places/supplier",
            distance=WITHIN_M,
        ),
    ]
    df = compile_pipeline(catalog_cs(spark, sf_dir), nodes, limit=5000)
    return df


# ---------------------------------------------------------------------------
# pl6 — FTS search: BM25 score + ORDER BY _score DESC
# ---------------------------------------------------------------------------

def _theme_doc_index(spark: SparkSession, sf_dir: str, docs: DataFrame):
    """Session-lifetime materialized index over the ingested theme (the
    reference's PRAGMA-built helper tables persist across queries too),
    held in the session registry's ``theme_fts_index`` slot.

    realpath key (r9 review, matching the r8 fix in queries/fts
    .fts_index_for): the same fixture addressed via './sf0.01' vs its
    absolute path vs a symlink must hit ONE cached index, not build and
    persist a second copy in executor storage."""
    import os

    key = os.path.realpath(sf_dir)
    idx = cache_get(spark, "theme_fts_index", key)
    if idx is None:
        idx = build_fts_index(docs, "id", "search_name").persist()
        cache_put(spark, "theme_fts_index", key, idx)
    return idx


@query(
    "pl6_search_fts",
    oracle=bm25_stemmed_sql(
        table="documents", id_col="doc_id", text_col="text",
        stemmed_terms=STEMMED_QUERY_TERMS,
    )
    + f"""
    , td AS (
        SELECT 'd' || CAST(doc_id AS VARCHAR) AS id,
               'doc ' || CAST(doc_id AS VARCHAR) AS display_name,
               text AS search_name,
               'POINT' AS geom_type,
               {_D_LON} AS centroid_lon, {_D_LAT} AS centroid_lat,
               lang AS _f0, CAST(n_chars AS VARCHAR) AS _f1,
               'docs/document' AS _source,
               doc_id AS _k
        FROM documents
    )
    SELECT td.id, display_name, search_name,
           {_geojson_point_sql()} AS geojson, geom_type,
           centroid_lon, centroid_lat, _f0, _f1, _source,
           ROUND(s._score, 6) AS _score
    FROM td JOIN scores s ON td._k = s.id
    ORDER BY ROUND(s._score, 6) DESC, td.id
    LIMIT 10
    """,
)
def pl6_search_fts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FTS mode: `match_bm25 IS NOT NULL` as predicate + `_score` column +
    `ORDER BY _score DESC` (pipeline.js:77-92,177)."""
    docs = theme_documents(spark, sf_dir)
    cat = Catalog(
        tables={"theme_documents": docs},
        fields=FIELDS,
        fts={"theme_documents": _theme_doc_index(spark, sf_dir, docs)},
    )
    nodes = [
        Node(id="n1", type="source", table="theme_documents", key="docs/document")
    ]
    df = compile_pipeline(cat, nodes, search=QUERY_TEXT, limit=10)
    return df
