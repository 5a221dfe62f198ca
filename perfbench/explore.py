"""``explore``: a scripted user session through the ``Engine`` facade.

One round visits one area of the theme region, alternating between areas
A and B.  It makes a fresh load per theme, pipeline edits (balanced-limit
union, within, exclude, bbox, limit, an ILIKE fallback search), an FTS
search, SQL console statements and a debounced ``update()`` storm, then
loads a bbox inside the area for all themes (served by the snapview) and
searches the clipped tables.  Alternating A and B keeps every area load
fresh: the snapview only holds the last area.
"""

from __future__ import annotations

import math
import os
import random
import re

import duckdb

from perfbench import gen
from perfbench.harness import Recorder, kernel_times, wrap

#: (area, bbox inside it); each area touches four 4-degree tiles fully
#: and its neighbours' edges, so the manifest prunes the other tiles
AREAS = {
    "A": ((4.0, 44.0, 8.0, 48.0), (5.0, 45.0, 7.0, 47.0)),
    "B": ((8.0, 48.0, 12.0, 52.0), (9.0, 49.0, 11.0, 51.0)),
}
#: the warm-up's area: small, and no timed load is contained in it
WARM_AREA = ((12.0, 40.0, 14.0, 42.0), (12.5, 40.5, 13.5, 41.5))
#: within/exclude distance: (6957.5 / 111320).toFixed(6) = 0.0625 degrees
WITHIN_M = 6957.5
WITHIN_DEG = 0.0625
BAND_DEG = 0.2

#: FTS search terms and the vocabulary word each must match after
#: stemming (Porter maps both forms to one stem)
FTS_TERMS = {
    "joins": "join", "sorted": "sort", "windows": "window",
    "filtering": "filter", "streams": "stream", "scanning": "scan",
    "tables": "table", "queries": "query", "values": "value",
    "batches": "batch",
}
SEGMENT_TERMS = {"building": "building", "machinery": "machinery"}
_TOKEN = re.compile("[a-z0-9]+")

CONSOLE = [
    "SELECT _f0 AS segment, count(*) AS n, count(DISTINCT _f1) AS nations "
    "FROM places_customer GROUP BY _f0 ORDER BY n DESC, segment",
    "SELECT string_split(search_name, ' ')[1] AS w, count(*) AS c "
    "FROM docs_document GROUP BY w ORDER BY c DESC, w LIMIT 5",
    "SELECT s.id, count(*) AS n FROM places_supplier s "
    "JOIN places_customer c ON c._f1 = s._f0 "
    "GROUP BY s.id ORDER BY n DESC, s.id LIMIT 10",
]

#: theme key -> (table, projection SQL over the raw tile columns, fields,
#: build the FTS index)
THEMES = {
    "places/customer": (
        "places_customer",
        {"display_name": "coalesce(name, '')",
         "search_name": "concat_ws(' ', name, category)",
         "_f0": "category", "_f1": "nation"},
        ["segment", "nation"], True,
    ),
    "places/supplier": (
        "places_supplier",
        {"display_name": "coalesce(name, '')", "search_name": "name",
         "_f0": "nation"},
        ["nation"], False,
    ),
    "docs/document": (
        "docs_document",
        {"display_name": "coalesce(name, '')", "search_name": "text",
         "_f0": "lang"},
        ["lang"], True,
    ),
}
C, S, D = "places_customer", "places_supplier", "docs_document"
KEY = {spec[0]: key for key, spec in THEMES.items()}


def inputs(root: str, seed: int, repo: str) -> dict:
    return gen.explore_inputs(root, seed)


def _projection(cols: dict):
    def project(batch):
        import pyspark.sql.functions as F

        from overturemaps_duckdb_spark.functions.geo import st_geometrytype, st_point

        out = batch.select(
            F.col("id"),
            *[F.expr(expr).alias(name) for name, expr in cols.items()],
            F.col("lon").alias("centroid_lon"),
            F.col("lat").alias("centroid_lat"),
        ).withColumn("geometry", st_point("centroid_lon", "centroid_lat"))
        return out.withColumn("geom_type", st_geometrytype("geometry"))

    return project


class Workload:
    def __init__(self, spark, files: dict, seed: int, rec: Recorder, work: str):
        from overturemaps_duckdb_spark.engine import Engine, ThemeSpec
        from overturemaps_duckdb_spark.sources.ingest import ThemeFieldSpec

        self.spark, self.files, self.rec = spark, files, rec
        self.rng = random.Random(seed)
        self.eng = Engine(spark, root=os.path.join(work, "engine"))
        for key, (table, cols, labels, fts) in THEMES.items():
            fields = [ThemeFieldSpec(lbl, f"_f{i}") for i, lbl in enumerate(labels)]
            self.eng.register_theme(key, ThemeSpec(
                table=table, files=files[table], fields=fields,
                projection=_projection(cols), build_fts=fts,
            ))
        self.published = None
        self.rounds = 0
        self.eng.pipeline.on_result = self._publish
        self.log: list[dict] = []  # (op, context, output) for the checks

    def _publish(self, outcome) -> None:
        self.published = outcome

    # -- one round -----------------------------------------------------------

    def _node(self, i: int, table: str, op: str | None = None):
        from overturemaps_duckdb_spark.plans.pipeline import Node

        return Node(id=f"n{i}", type="source" if op is None else "combine",
                    table=table, key=KEY[table], op=op,
                    distance=WITHIN_M if op in ("within", "exclude") else None)

    def _edit(self, cls: str, label: str, loaded: dict, nodes, *, search="",
              limit=3000, bbox=None) -> list:
        p = self.eng.pipeline
        p.nodes, p.search, p.limit, p.bbox = nodes, search, limit, bbox
        with self.rec.call(cls, label, repeat=True):
            out = p.run_now()
        rows = [r.asDict() for r in out.rows]
        self.log.append({"op": cls, "label": label, "loaded": dict(loaded),
                         "nodes": [(n.table, n.op) for n in nodes],
                         "search": search, "limit": limit, "bbox": bbox,
                         "rows": rows, "degraded": out.degraded})
        return rows

    def _console(self, loaded: dict, text: str) -> None:
        with self.rec.call("console", text[:40], repeat=True):
            with self.rec.phase("construct"):
                df = self.eng.sql(text)
            rows = df.collect()
            self.rec.executed(df)
        self.log.append({"op": "console", "loaded": dict(loaded), "sql": text,
                         "rows": [tuple(r) for r in rows]})

    def _load(self, cls: str, keys: list[str], bbox) -> dict:
        with self.rec.call(cls, ",".join(keys)) as op:
            res = self.eng.load_area(keys, bbox)
            if op is not None:
                op["ingest"]["ingest.loads"] += len(keys)
                op["ingest"]["ingest.rows"] += sum(r.rows for r in res.values())
        for key, r in res.items():
            self.log.append({"op": cls, "table": THEMES[key][0], "bbox": bbox,
                             "rows": r.rows, "cached": r.cached})
        return res

    def round(self) -> None:
        """One area visit; consecutive rounds alternate areas A and B."""
        area = "AB"[self.rounds % 2]
        self.rounds += 1
        self._visit(*AREAS[area])

    def _visit(self, box, inner, warm: bool = False) -> None:
        """One area visit; ``warm`` (the untimed warm-up) skips the edits
        that only vary an earlier edit's limits or bbox."""
        loaded = {}
        for key in THEMES:
            self._load("load", [key], box)
            loaded[THEMES[key][0]] = box
        union3 = [self._node(1, C), self._node(2, S, "union"), self._node(3, D, "union")]
        ref = self._edit("pipeline", "union", loaded, union3, limit=300)
        self._edit("pipeline", "within", loaded,
                   [self._node(1, C), self._node(2, S, "within")])
        self._edit("pipeline", "exclude", loaded,
                   [self._node(1, C), self._node(2, S, "exclude")])
        if not warm:
            self._edit("pipeline", "bbox", loaded,
                       [self._node(1, C), self._node(2, S, "union")], bbox=inner)
            self._edit("pipeline", "limit", loaded,
                       [self._node(1, C), self._node(2, D, "union")], limit=40)
        self._edit("pipeline", "ilike", loaded, [self._node(1, S)],
                   search=f"supplier#0000001{self.rng.randrange(10)}", limit=100)
        self._edit("search", "fts", loaded, [self._node(1, D)],
                   search=self.rng.choice(sorted(FTS_TERMS)), limit=10)
        for text in CONSOLE[1:] if warm else CONSOLE:
            self._console(loaded, text)
        self._storm(loaded, union3, ref)
        self._load("reuse", list(THEMES), inner)

    def _storm(self, loaded: dict, final_nodes, ref_rows) -> None:
        """Five rapid edits coalesce into one debounced run whose final
        state equals the balanced-union edit made just before."""
        p = self.eng.pipeline
        before = p.run_count
        self.published = None
        with self.rec.call("storm", "update x5", repeat=True):
            for limit in (100, 200, 250, 280, 300):
                p.update(nodes=final_nodes, search="", limit=limit, bbox=None)
            p.flush()
        out = self.published
        self.log.append({"op": "storm", "runs": p.run_count - before,
                         "rows": [r.asDict() for r in out.rows] if out else None,
                         "ref": ref_rows})

    # -- set-up, tracing, checks ---------------------------------------------

    def setup(self) -> None:
        """Untimed warm-up: one visit of a small area, so every op class
        has run once before timing."""
        self._visit(*WARM_AREA, warm=True)

    def install_tracing(self, tracer) -> None:
        from overturemaps_duckdb_spark import engine
        from overturemaps_duckdb_spark.plans import runner
        from overturemaps_duckdb_spark.sources import ingest, layout

        orig_compile = runner.compile_pipeline

        def compile_pipeline(*a, **kw):
            if tracer.cur is None:
                return orig_compile(*a, **kw)
            with tracer.phase("construct"), tracer.span("plans.pipeline.compile"):
                df = orig_compile(*a, **kw)
            if df is not None:
                tracer.executed(df)
            return df

        runner.compile_pipeline = compile_pipeline

        def pruned(out, args, kwargs):
            manifest = args[0]
            total = len(manifest[0]) + len(manifest[1])
            tracer.cur["ingest"]["ingest.files_scanned"] += len(out)
            tracer.cur["ingest"]["ingest.files_pruned"] += total - len(out)

        def written(out, args, kwargs):
            path = args[1]
            n, size = 0, 0
            for dirpath, _dirs, fns in os.walk(path):
                for fn in fns:
                    if fn.endswith(".parquet"):
                        n += 1
                        size += os.path.getsize(os.path.join(dirpath, fn))
            tracer.cur["ingest"]["ingest.files_written"] += n
            tracer.cur["ingest"]["ingest.mb_written"] += size / (1024.0 * 1024.0)

        wrap(ingest, "build_manifest", "sources.manifest.build", tracer)
        wrap(ingest, "prune_files", "sources.manifest.prune", tracer, pruned)
        wrap(layout, "write_grid_partitioned", "sources.layout.write", tracer, written)
        wrap(engine, "load_theme", "sources.ingest.load_theme", tracer)
        wrap(engine, "build_fts_index", "operators.fts.build_index", tracer)
        store = self.eng.snapviews
        orig_save = store.save

        def save(sv_id, df, meta=None):
            with tracer.span("state.snapview_save"):
                out = orig_save(sv_id, df, meta)
            written(None, (None, store._data_path(sv_id)), {})
            return out

        store.save = save

    def kernels(self) -> dict:
        import pyarrow.parquet as pq

        docs = pq.read_table(self.files[D], columns=["text"]).column("text").to_pylist()
        tokens = [w for t in docs for w in _TOKEN.findall(t.lower())]
        pts = [pq.read_table(self.files[t], columns=["lon", "lat"]) for t in (C, S, D)]
        lon = [x for p in pts for x in p.column("lon").to_pylist()]
        lat = [y for p in pts for y in p.column("lat").to_pylist()]
        return kernel_times(tokens, (lon, lat), CONSOLE)

    def check(self) -> list[str]:
        return Checker(self.files).run(self.log)


# ---------------------------------------------------------------------------
# correctness checks: DuckDB over the same tile files
# ---------------------------------------------------------------------------


def _norm(v):
    if isinstance(v, float):
        return round(v, 9)
    return v


class Checker:
    def __init__(self, files: dict):
        self.files = files
        self.con = duckdb.connect()
        self._views = None

    def _views_for(self, loaded: dict) -> None:
        key = tuple(sorted(loaded.items()))
        if key == self._views:
            return
        for table, (x0, y0, x1, y1) in loaded.items():
            key_ = KEY[table]
            cols = THEMES[key_][1]
            files = ", ".join(f"'{p}'" for p in self.files[table])
            proj = ", ".join(f"{expr} AS {name}" for name, expr in cols.items())
            self.con.execute(
                f"CREATE OR REPLACE VIEW {table} AS SELECT id, {proj}, "
                f"lon AS centroid_lon, lat AS centroid_lat, '{key_}' AS _source "
                f"FROM read_parquet([{files}]) "
                f"WHERE lon BETWEEN {x0} AND {x1} AND lat BETWEEN {y0} AND {y1}"
            )
        self._views = key

    def _ids(self, sql: str) -> list:
        return [r[0] for r in self.con.execute(sql).fetchall()]

    def run(self, log: list[dict]) -> list[str]:
        errors = []
        for entry in log:
            try:
                msg = getattr(self, "_check_" + entry["op"])(entry)
            except Exception as exc:  # noqa: BLE001 — report, do not crash
                msg = f"check raised {type(exc).__name__}: {exc}"
            if msg:
                errors.append(f"{entry['op']} {entry.get('label', '')}: {msg}")
        return errors

    def _check_load(self, e: dict, cached: bool = False) -> str | None:
        self._views_for({e["table"]: e["bbox"]})
        n = self.con.execute(f"SELECT count(*) FROM {e['table']}").fetchone()[0]
        if e["rows"] != n:
            return f"{e['table']} rows {e['rows']} != {n}"
        if e["cached"] != cached:
            return f"{e['table']} cached={e['cached']}"
        return None

    def _check_reuse(self, e: dict) -> str | None:
        return self._check_load(e, cached=True)

    def _check_pipeline(self, e: dict) -> str | None:
        self._views_for(e["loaded"])
        got = [(r["id"], r["_source"]) for r in e["rows"]]
        want = [tuple(r) for r in self.con.execute(self._pipeline_sql(e)).fetchall()]
        if got != want:
            return f"{len(got)} rows, expected {len(want)}; first diff " + str(
                next(((a, b) for a, b in zip(got, want) if a != b), None))
        if e["search"] and any(r["_score"] is not None for r in e["rows"]):
            return "ILIKE fallback rows carry a score"
        return None

    def _pipeline_sql(self, e: dict) -> str:
        nodes, limit = e["nodes"], e["limit"]
        filters = [(t, op) for t, op in nodes if op in ("within", "exclude")]
        sources = [t for t, op in nodes if op in (None, "union")]
        sources += [t for t, op in filters if op == "within" and t not in sources]
        near = (f"abs(base.centroid_lon - b.centroid_lon) < {BAND_DEG} "
                f"AND abs(base.centroid_lat - b.centroid_lat) < {BAND_DEG} "
                "AND sqrt((base.centroid_lon - b.centroid_lon) ** 2 "
                f"+ (base.centroid_lat - b.centroid_lat) ** 2) < {WITHIN_DEG}")
        if not filters:
            per = math.ceil(limit / len(sources))
            where = f"WHERE search_name ILIKE '%{e['search']}%'" if e["search"] else ""
            base = " UNION ALL ".join(
                f"(SELECT id, _source, centroid_lon, centroid_lat FROM {t} {where} "
                f"ORDER BY id LIMIT {per})" for t in sources)
        else:
            base = " UNION ALL ".join(
                f"SELECT id, _source, centroid_lon, centroid_lat FROM {t}" for t in sources)
        sql = f"WITH base AS ({base}) SELECT id, _source FROM base WHERE TRUE"
        if e["bbox"]:
            x0, y0, x1, y1 = e["bbox"]
            sql += (f" AND centroid_lon BETWEEN {x0} AND {x1}"
                    f" AND centroid_lat BETWEEN {y0} AND {y1}")
        for t, op in filters:
            if op == "within":
                sql += (f" AND id IN (SELECT base.id FROM base WHERE EXISTS (SELECT 1 "
                        f"FROM {t} b WHERE base.id <> b.id AND {near}) UNION "
                        f"SELECT b.id FROM {t} b WHERE EXISTS (SELECT 1 FROM base "
                        f"WHERE base.id <> b.id AND {near}))")
            else:
                sql += (f" AND NOT EXISTS (SELECT 1 FROM {t} b "
                        f"WHERE base.id <> b.id AND {near})")
        return sql + f" ORDER BY id LIMIT {limit}"

    def _check_search(self, e: dict) -> str | None:
        self._views_for(e["loaded"])
        rows = e["rows"]
        if e["degraded"]:
            return "FTS degraded to ILIKE"
        word = {**FTS_TERMS, **SEGMENT_TERMS}[e["search"]]
        per = math.ceil(e["limit"] / len(e["nodes"]))
        want = 0
        for t, _op in e["nodes"]:
            if t == S:  # no FTS index: ILIKE fallback
                sql = f"SELECT count(*) FROM {t} WHERE search_name ILIKE '%{e['search']}%'"
            else:
                sql = (f"SELECT count(*) FROM {t} WHERE list_contains("
                       f"regexp_split_to_array(lower(search_name), '[^a-z0-9]+'), '{word}')")
            want += min(per, self.con.execute(sql).fetchone()[0])
        if len(rows) != want:
            return f"{len(rows)} rows, expected {want}"
        for r in rows:
            if r["_source"] != KEY[S] and word not in _TOKEN.findall(r["search_name"].lower()):
                return f"row {r['id']} lacks '{word}'"
        scores = [r["_score"] for r in rows if r["_score"] is not None]
        if any(a < b for a, b in zip(scores, scores[1:])):
            return "scores increase"
        return None

    def _check_console(self, e: dict) -> str | None:
        self._views_for(e["loaded"])
        want = [tuple(_norm(v) for v in r) for r in self.con.execute(e["sql"]).fetchall()]
        got = [tuple(_norm(v) for v in r) for r in e["rows"]]
        return None if got == want else f"rows differ: {got[:2]} vs {want[:2]}"

    def _check_storm(self, e: dict) -> str | None:
        if e["runs"] != 1:
            return f"{e['runs']} runs for one storm"
        if e["rows"] != e["ref"]:
            return "storm result differs from run_now on the same state"
        return None
