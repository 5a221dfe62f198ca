"""The engine facade — the `controller.js` twin.

One object that ties the subsystems together the way the reference's app
layer does (`/root/reference/src/controller.js`): area loads fan out per
theme (EP1), loaded tables feed the reactive pipeline (EP2), raw SQL goes
through the compat front door (EP3), and session/snapview state persists
across restarts.

    eng = Engine(spark, root="/data/engine-state")
    eng.register_theme("places_place", fields=[...], files=[...])
    eng.load_area(["places_place"], bbox=(-123, 37, -122, 38))
    eng.pipeline.update(nodes=[...], search="cafe")   # debounced EP2
    df = eng.sql("SELECT * FROM places_place LIMIT 10")   # EP3
    eng.save_session()

Everything here is thin orchestration over tested components — no query
semantics live in this file.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from overturemaps_duckdb_spark.compat import duck_sql
from overturemaps_duckdb_spark.operators.fts import build_fts_index
from overturemaps_duckdb_spark.plans.pipeline import Catalog
from overturemaps_duckdb_spark.plans.runner import PipelineRunner
from overturemaps_duckdb_spark.queries import _ship_package
from overturemaps_duckdb_spark.session import (
    QueryRecord,
    QueryRunner,
    list_user_tables,
)
from overturemaps_duckdb_spark.sources.ingest import (
    DEFAULT_THEME_LIMIT,
    LoadResult,
    ThemeFieldSpec,
    cache_select,
    load_theme,
)
from overturemaps_duckdb_spark.state import SessionState, SnapviewStore


@dataclass
class ThemeSpec:
    """Registration record for one theme (constants.js THEME_META shape)."""

    table: str
    files: list[str]
    fields: list[ThemeFieldSpec] = field(default_factory=list)
    name_exprs: list[str] = field(default_factory=lambda: ["display_name", "name"])
    projection: object | None = None  # optional custom raw→cached projection
    build_fts: bool = False


class Engine:
    """Session-scoped engine: catalog + ingest + pipeline + SQL + state."""

    def __init__(self, spark: SparkSession, root: str):
        # load projections run the package's pandas UDFs on the executors'
        # Python workers, which cannot rely on the driver's cwd to find it
        _ship_package(spark)
        self.spark = spark
        self.root = root
        self.session_state = SessionState(spark, root)
        self.snapviews = SnapviewStore(spark, root)
        self.instrumentation = QueryRunner()
        self.themes: dict[str, ThemeSpec] = {}
        self.catalog = Catalog(tables={}, fields={}, fts={})
        self.pipeline = PipelineRunner(self.catalog)
        self.loads: dict[str, LoadResult] = {}
        #: bumps on every load_area — the memo-signature stand-in for the
        #: reference's release key (intersections.js:22-27): new data ⇒
        #: every cached intersection result is stale
        self._load_gen = 0
        #: intersections() results by signature (current generation only)
        self._pip_memo: dict = {}

    # -- catalog ----------------------------------------------------------

    def register_theme(self, key: str, spec: ThemeSpec) -> None:
        self.themes[key] = spec
        self.catalog.fields[key] = [f.label for f in spec.fields]

    # -- EP1: area loads --------------------------------------------------

    def load_area(
        self,
        keys: list[str],
        bbox: tuple[float, float, float, float],
        *,
        limit: int = DEFAULT_THEME_LIMIT,
    ) -> dict[str, LoadResult]:
        """loadArea (controller.js:119-146): load each requested theme for
        the bbox; loaded tables register in the pipeline catalog.  The
        reference fires these without await — here each is one Spark job;
        real parallelism comes from the cluster, not the driver loop."""
        results = {}
        for key in keys:
            spec = self.themes[key]
            projection = spec.projection or (
                lambda raw, s=spec: cache_select(
                    raw, name_exprs=s.name_exprs, fields=s.fields
                )
            )
            res = load_theme(
                self.spark,
                table=spec.table,
                files=spec.files,
                bbox=bbox,
                projection=projection,
                store=self.snapviews,
                state_root=self.root,
                limit=limit,
            )
            results[key] = res
            self.loads[key] = res
            self._load_gen += 1
            self.catalog.tables[spec.table] = res.df
            if spec.build_fts:
                # catalog indexes live for the session — materialize once;
                # a RELOAD of the same theme must release the old index's
                # cached frames first (the CacheManager never frees them on
                # Python GC — repeated area loads leaked executor storage)
                old = self.catalog.fts.get(spec.table)
                if old is not None:
                    old.unpersist()
                self.catalog.fts[spec.table] = build_fts_index(
                    res.df, "id", "search_name"
                ).persist()
        return results

    # -- EP3: raw SQL front door -----------------------------------------

    def sql(self, text: str, label: str = "console") -> DataFrame:
        """Instrumented DuckDB-dialect SQL (Y3 wrapper around the shim)."""
        preview = " ".join(text.split())[:140]
        t0 = time.monotonic()
        try:
            df = duck_sql(self.spark, text, session_state=self.session_state)
        except Exception as exc:  # noqa: BLE001 — mirror queryRunner.js:40-50
            self.instrumentation._push(
                QueryRecord(label, preview, (time.monotonic() - t0) * 1e3, False,
                            str(exc)[:500])
            )
            raise
        self.instrumentation._push(
            QueryRecord(label, preview, (time.monotonic() - t0) * 1e3, True)
        )
        return df

    # -- memoized intersection pass (intersections.js:22-44) --------------

    def intersections(
        self,
        points_table: str,
        polygon_tables: list[str],
        bbox: tuple[float, float, float, float],
    ):
        """Point-in-polygon fold over the loaded tables, memoized by
        (release-generation, tables, rounded bbox) signature exactly like
        the reference (intersections.js:22-44: release + enabled keys +
        rounded bbox; recompute only when the signature moves — and a new
        area load invalidates every cached result)."""
        from overturemaps_duckdb_spark.operators.spatial_join import (
            intersection_fold,
        )

        sig = (
            self._load_gen,  # release twin (ref :23)
            points_table,
            tuple(sorted(polygon_tables)),
            tuple(round(v, 6) for v in bbox),  # rounded-bbox key (ref :28, toFixed(6))
        )
        if sig in self._pip_memo:
            return self._pip_memo[sig]
        # a new load generation makes every older entry permanently
        # unreachable (sig embeds _load_gen) — drop them instead of letting
        # collected row lists accumulate for the session's lifetime
        self._pip_memo = {
            k: v for k, v in self._pip_memo.items() if k[0] == self._load_gen
        }
        import pyspark.sql.functions as F

        xmin, ymin, xmax, ymax = bbox
        clip = (
            (F.col("centroid_lon") >= xmin) & (F.col("centroid_lon") <= xmax)
            & (F.col("centroid_lat") >= ymin) & (F.col("centroid_lat") <= ymax)
        )
        def _clone(df):
            # fresh exprIds so a table can be both point and polygon side
            return df.select([F.col(c).alias(c) for c in df.columns])

        pts = self.catalog.tables[points_table].where(clip)
        polys = {
            name: _clone(self.catalog.tables[name]).where(clip)
            for name in polygon_tables
        }
        result = intersection_fold(pts, polys).collect()
        self._pip_memo[sig] = result
        return result

    # -- session persistence (controller.js:395-426) ----------------------

    def save_session(self) -> None:
        self.session_state.set(
            "engine",
            {
                "themes": sorted(self.themes),
                "loaded": sorted(self.loads),
                "pipeline": {
                    "search": self.pipeline.search,
                    "limit": self.pipeline.limit,
                    "bbox": list(self.pipeline.bbox) if self.pipeline.bbox else None,
                },
            },
        )

    def restore_session(self) -> dict | None:
        return self.session_state.get("engine")

    # -- introspection ----------------------------------------------------

    def tables(self) -> list[str]:
        return list_user_tables(self.spark)
