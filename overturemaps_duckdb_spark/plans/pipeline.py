"""Pipeline-DSL compiler: node list → DataFrame plan (SURVEY §1.1-4, §3 EP2).

The reference compiles a flat node list
``{id, type: 'source'|'combine', op, table, key, distance?}`` into one SQL
string (`/root/reference/src/lib/pipeline.js:19-181`).  This module compiles
the same node list into a **DataFrame expression tree** and lets Catalyst do
the planning — the idiomatic Spark split of responsibilities:

reference (hand-rolled)            → here
-----------------------------------------------------------------
union CTE w/ NULL `_f` padding     → per-source select + unionByName
per-source balanced LIMIT          → .limit(ceil(limit/n)) per branch
  (suppressed under spatial ops,     (same rule — a correctness
   pipeline.js:51-53)                invariant, pipeline.test.js:54-78)
matched_i CTEs (EXISTS both ways)  → bidirectional semi-join id sets
NOT EXISTS exclude                 → left-anti band join
bbox WHERE on centroids            → native range predicates (pushed down)
ST_AsGeoJSON in outer SELECT only  → one mapInArrow beneath the final
                                     ORDER BY … LIMIT
ORDER BY _score DESC + LIMIT       → orderBy(desc).limit → TakeOrderedAndProject

Scale notes: sources union without shuffling; the only shuffles are the
matched-id `distinct` and (with FTS) the postings groupBy.  Every
per-source and final ORDER BY … LIMIT plans as TakeOrderedAndProject, so a
union-mode edit is one job.  That holds because GeoJSON is an Arrow map,
not a UDF Project: the optimizer pushes a deterministic Project through
the Union and below each branch's LIMIT, where the Python eval node splits
Limit from Sort into a sampled, range-partitioned global sort per branch.
Each spatial filter's exact predicate runs on band-join survivors only;
the band condition stays native so Catalyst can pick broadcast vs shuffle
from statistics, and the final top-k never materializes the full result.

Determinism: the reference's bare ``LIMIT n`` (pipeline.js:99,178) is
insertion-order-dependent — meaningless on a distributed engine.  With
``deterministic=True`` every limit is preceded by a total order
(score DESC, id) so results are reproducible and oracle-comparable;
``False`` reproduces the reference's arbitrary-subset semantics.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field as dc_field
from functools import partial, reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from overturemaps_duckdb_spark.functions.geo import geojson_batches
from overturemaps_duckdb_spark.operators._util import lru_persist as _lru_persist
from overturemaps_duckdb_spark.operators.fts import (
    FtsIndex,
    FtsScoringError,
    bm25_score,
)
from overturemaps_duckdb_spark.operators.spatial_join import (
    DEFAULT_BAND_DEG,
    bidirectional_match_ids,
    spatial_join,
)

#: meters→degrees conversion shared with functions/geo.py — one constant,
#: so a correction can never diverge the two paths; the toFixed(6)
#: rounding (pipeline.js:128) stays here in distance_degrees()
from overturemaps_duckdb_spark.functions.geo import METERS_PER_DEGREE

#: default within/exclude distance in meters (pipeline.js:128)
DEFAULT_DISTANCE_M = 250.0

#: default result limit (store.js:26)
DEFAULT_LIMIT = 3000

#: the fixed column spine of a cached theme table (query.js:35-44) and its
#: types, which also type the compiled output (geometry becomes geojson)
THEME_COLS = {
    "id": StringType(),
    "display_name": StringType(),
    "search_name": StringType(),
    "geometry": BinaryType(),
    "geom_type": StringType(),
    "centroid_lon": DoubleType(),
    "centroid_lat": DoubleType(),
}


@dataclass
class Node:
    """One pipeline-DSL node (store.js:23, pipeline.js:4)."""

    id: str
    type: str  # 'source' | 'combine'
    table: str
    key: str
    op: str | None = None  # 'union' | 'intersect' | 'within' | 'exclude'
    distance: float | None = None  # meters, for within/exclude


@dataclass
class Catalog:
    """Loaded theme tables + their `_f` field lists + optional FTS indexes.

    Plays the role of the reference's loadedTables/THEME_FIELDS/ftsTables
    trio (store.js:178-197, constants.js:14-120, fts.js:27-49)."""

    tables: dict[str, DataFrame]
    fields: dict[str, list[str]] = dc_field(default_factory=dict)
    fts: dict[str, FtsIndex] = dc_field(default_factory=dict)


def distance_degrees(distance_m: float | None) -> float:
    """`((distance || 250) / 111320).toFixed(6)` (pipeline.js:128)."""
    return round((distance_m or DEFAULT_DISTANCE_M) / METERS_PER_DEGREE, 6)


def compile_pipeline(
    catalog: Catalog,
    nodes: list[Node],
    *,
    search: str = "",
    limit: int = DEFAULT_LIMIT,
    bbox: tuple[float, float, float, float] | None = None,
    band_deg: float = DEFAULT_BAND_DEG,
    deterministic: bool = True,
    spatial_impl: str = "grid",
) -> DataFrame | None:
    """Compile a pipeline into a DataFrame (compilePipeline, pipeline.js:19).

    Returns ``None`` for an empty/sourceless pipeline (the reference returns
    an empty SQL string, pipeline.js:20,33).

    ``spatial_impl``: 'grid' (default) is the 100 TB form: both sides
    discretize onto band-sized grid cells and the candidates come from a
    co-partitioned equi-join (no broadcast, AQE skew handling).  'broadcast'
    mirrors the reference's own scale contract (theme tables capped at 33k
    rows, themes.js:97) — the filter table broadcasts and the band condition
    is a cheap nested-loop residual.  Identical results
    (test_pipeline_compiler asserts it); measured at sf0.1 the grid form
    wins even inside the reference's cap (pl4 cold 2.3 s vs 3.5 s), and the
    gap only widens with data, so the scale-safe shape is also the default.
    """
    if not nodes:
        return None

    # -- classify (pipeline.js:25-31)
    sources: list[Node] = []
    spatial_filters: list[Node] = []
    for node in nodes:
        if node.type == "source" or (node.type == "combine" and node.op == "union"):
            sources.append(node)
        elif node.type == "combine":
            spatial_filters.append(node)
    if not sources:
        return None
    has_spatial = bool(spatial_filters)

    # -- auto-include non-exclude filter tables as sources (pipeline.js:37-44)
    for sf in spatial_filters:
        if sf.op == "exclude":
            continue
        if not any(s.table == sf.table for s in sources):
            sources.append(sf)

    # -- `_f` alignment across heterogeneous sources (pipeline.js:47-49)
    max_f = max((len(catalog.fields.get(n.key, [])) for n in sources), default=0)

    # -- balanced per-source limit, union-only mode (pipeline.js:51-53)
    per_source_limit = None if has_spatial else math.ceil(limit / len(sources))

    searching = bool(search)

    def source_frame(n: Node) -> DataFrame:
        df = catalog.tables[n.table]
        n_fields = len(catalog.fields.get(n.key, []))
        cols = [F.col(c) for c in THEME_COLS]
        for i in range(max_f):
            cols.append(
                F.col(f"_f{i}") if i < n_fields
                else F.lit(None).cast("string").alias(f"_f{i}")
            )
        cols.append(F.lit(n.key).alias("_source"))
        out = df
        score = F.lit(None).cast("double")
        if searching:
            idx = catalog.fts.get(n.table)
            if idx is not None:
                # FTS mode: `match_bm25(id, q) IS NOT NULL` as the predicate,
                # the score as `_score` (pipeline.js:77-92).  The inner join
                # against the score relation is both at once.  A failure here
                # is marked as FTS-originated so the runner's degrade path
                # can tell it from unrelated errors (the reference's
                # equivalent marker is 'match_bm25' in the error text,
                # pipelineRunner.js:93-96).
                try:
                    scores = bm25_score(idx, search).withColumnRenamed(
                        "id", "_sid"
                    )
                except Exception as exc:
                    raise FtsScoringError(
                        f"match_bm25 scoring failed for {n.table!r}: {exc}"
                    ) from exc
                # Balanced-limit mode: the per-source top-k commutes through
                # the inner score join (ids are unique and the ordering key —
                # rounded score desc, id asc — is the same on both sides), so
                # rank the narrow (id, score) relation FIRST and broadcast
                # the k winners: the source table is probed for k rows via a
                # broadcast hash join instead of shuffling into the join.
                # Same shape as operators.fts.bm25_topk; suppressed under
                # spatial ops where the full scored base is a correctness
                # requirement (pipeline.js:51-53).
                if per_source_limit:
                    scores = F.broadcast(
                        scores.orderBy(
                            F.desc_nulls_last(F.round("_score", 6)),
                            F.asc("_sid"),
                        ).limit(per_source_limit)
                    )
                # the join touches the SOURCE relation too — errors there are
                # not FTS failures and must stay unwrapped
                out = out.join(scores, out["id"] == F.col("_sid"), "inner")
                # rounded at the boundary so score-ordered output is
                # float-noise-free (divergence from the reference's raw
                # score, documented in SURVEY §7 risk 2)
                score = F.round(F.col("_score"), 6)
            else:
                # ILIKE fallback (pipeline.js:81); quote-escaping is free —
                # `search` stays a value, never SQL text (fts.js:7-9's
                # escaping exists only because the reference splices strings).
                out = out.where(F.col("search_name").ilike(f"%{search}%"))
        out = out.select(*cols, score.alias("_score"))
        if per_source_limit:
            if deterministic:
                out = out.orderBy(F.desc_nulls_last("_score"), F.asc("id"))
            out = out.limit(per_source_limit)
        return out

    # base0 is the reference's `base` CTE: every matched_i set is computed
    # against it (pipeline.js:140-156 reference `base`, not the filtered
    # output), so filters compose as a conjunction, not a sequence.
    base0 = reduce(DataFrame.unionByName, (source_frame(n) for n in sources))

    def _clone(df: DataFrame) -> DataFrame:
        # re-alias every column (fresh exprIds) so a filter table that is
        # ALSO a base source doesn't trip Spark's ambiguous-self-join check
        return df.select([F.col(c).alias(c) for c in df.columns])

    matched_sets: list[DataFrame] = []
    for sf in spatial_filters:
        if sf.op in ("intersect", "within"):
            # .persist(): the optimizer pushes the matched-id semi join
            # below base0's Union, planting ONE COPY OF THE WHOLE PAIR
            # SUBTREE (band join + exact predicate + distinct) under EVERY
            # union branch, and exchange reuse does not fire across the
            # copies (r13 executed-plan read: ReusedExchange=0, the
            # Exchange+HashAggregate pair appears once per branch).  The
            # cache makes the branches share one materialization — the
            # pair join runs once per query execution instead of once per
            # source.  Session-lived like the theme caches (Spark dedupes
            # the entry by plan, so repeated calls reuse it); the cached
            # artifact is the distinct matched-id set, bounded by |base|.
            # lru_persist (r14, VERDICT r13 #5): the handle is tracked in
            # a bounded per-session LRU, so a session compiling MANY
            # distinct pipelines releases superseded id sets instead of
            # pinning one cache entry per pipeline forever (pinned by
            # tests/test_pipeline_compiler.py::test_matched_set_cache_bounded).
            matched_sets.append(
                _lru_persist(
                    bidirectional_match_ids(
                        base0,
                        _clone(catalog.tables[sf.table]),
                        predicate=(
                            "intersects" if sf.op == "intersect"
                            else "within_distance"
                        ),
                        distance_deg=distance_degrees(sf.distance),
                        band_deg=band_deg,
                        # base.id != b.id (pipeline.js:130)
                        exclude_self=True,
                        impl=spatial_impl,
                        # catalog themes are POINT tables (query.js:35-44
                        # ingest projection) → distance predicate stays in
                        # codegen
                        assume_points=True,
                    ),
                    "pipeline_matched_ids",
                )
            )

    base = base0
    # -- bbox on centroids, outer query (pipeline.js:119-124)
    if bbox is not None:
        xmin, ymin, xmax, ymax = bbox
        base = base.where(
            (F.col("centroid_lon") >= xmin)
            & (F.col("centroid_lon") <= xmax)
            & (F.col("centroid_lat") >= ymin)
            & (F.col("centroid_lat") <= ymax)
        )
    # -- `id IN (SELECT id FROM matched_i)` per filter (pipeline.js:157).
    #    The matched-id set is O(|base|) in the worst case, so the
    #    broadcast hint is stat-gated (hints.dim): forced broadcast of a
    #    scale-proportional id set is the same OOM class as the TPC-H dim
    #    hints; above the threshold it falls back to a shuffled semi join.
    from overturemaps_duckdb_spark.plans.hints import dim as _dim

    for matched in matched_sets:
        m = matched.withColumnRenamed("id", "_mid")
        base = base.join(_dim(m), base["id"] == m["_mid"], "left_semi")
    # -- `NOT EXISTS` exclude filters are per-row predicates: applying them
    #    to the narrowed base is equivalent and cheaper (pipeline.js:159-165)
    from overturemaps_duckdb_spark.operators.spatial_join import spatial_join_grid

    anti_join = spatial_join if spatial_impl == "broadcast" else spatial_join_grid
    for sf in spatial_filters:
        if sf.op == "exclude":
            base = anti_join(
                base,
                _clone(catalog.tables[sf.table]),
                how="left_anti",
                predicate="within_distance",
                distance_deg=distance_degrees(sf.distance),
                band_deg=band_deg,
                exclude_self=True,
                assume_points=True,
            )

    # -- outer projection: late GeoJSON (pipeline.js:103-111) as ONE Arrow
    #    map beneath the final ORDER BY … LIMIT.  A UDF Project here would be
    #    pushed through the Union and below each branch's LIMIT, splitting
    #    every Limit(Sort) into a range-partitioned global sort; the map
    #    stays where it is, so each branch and the root plan as top-k.  It
    #    must sit below the final limit, not above: a Project there is
    #    pushed back below it, and above a map AQE drops the non-root
    #    GlobalLimit once the run-time row count fits and re-plans a global
    #    sort.  Its schema is the per-source select's spine, known without
    #    analysis.
    spine = [
        *THEME_COLS.items(),
        *((f"_f{i}", StringType()) for i in range(max_f)),
        ("_source", StringType()),
    ]
    if searching:
        spine.append(("_score", DoubleType()))
    schema = StructType([
        StructField("geojson", StringType()) if c == "geometry"
        else StructField(c, t)
        for c, t in spine
    ])
    base = base.mapInArrow(
        partial(geojson_batches, drop=() if searching else ("_score",)), schema
    )

    # -- ORDER BY _score DESC iff searching; final LIMIT (pipeline.js:177-178)
    if searching:
        order = [F.desc_nulls_last("_score")]
        if deterministic:
            order.append(F.asc("id"))
        base = base.orderBy(*order)
    elif deterministic:
        base = base.orderBy(F.asc("id"))
    return base.limit(limit)
