"""Reactive-runner (EP2 loop) and ingest-orchestration (EP1) tests,
mirroring pipelineRunner.js behavior: debounce coalescing, FTS-degrade
retry, budgeted batched ingest."""

from __future__ import annotations

import time

import pyspark.sql.functions as F
import pytest

from overturemaps_duckdb_spark.plans.pipeline import Node
from overturemaps_duckdb_spark.plans.runner import PipelineRunner
from overturemaps_duckdb_spark.queries.pipeline import SRC_C, SRC_S, catalog_cs
from tests.conftest import SF_SMOKE


def test_debounce_coalesces_updates(spark):
    cat = catalog_cs(spark, SF_SMOKE)
    results = []
    r = PipelineRunner(cat, debounce_s=0.15, on_result=results.append)
    # a storm of updates within the debounce window → exactly ONE run
    r.update(nodes=[SRC_C])
    r.update(limit=7)
    r.update(nodes=[SRC_C, SRC_S])
    time.sleep(0.4)
    r.flush()
    assert r.run_count == 1
    assert len(results) == 1 and results[0].count == 7


def test_runner_publishes_outcome(spark):
    cat = catalog_cs(spark, SF_SMOKE)
    r = PipelineRunner(cat, debounce_s=0.01)
    r.nodes = [SRC_C]
    r.limit = 5
    out = r.run_now()
    assert out.count == 5 and out.duration_ms > 0 and not out.degraded


def test_fts_degrade_retry(spark):
    """Broken FTS → clear capability cache → ILIKE recompile
    (pipelineRunner.js:91-104)."""
    from overturemaps_duckdb_spark.operators.fts import FtsIndex

    cat = catalog_cs(spark, SF_SMOKE)
    # poison the FTS capability for theme_customer: postings with a column
    # schema the scorer can't use → runtime/type failure at execution
    broken = FtsIndex(
        postings=spark.createDataFrame([], "term string, wrong string"),
        docstats=spark.createDataFrame([], "id string, dl long"),
        stats=spark.createDataFrame([(1, 1.0)], "n long, avgdl double"),
    )
    cat.fts["theme_customer"] = broken
    r = PipelineRunner(cat, debounce_s=0.01)
    r.nodes = [SRC_C]
    r.search = "machinery"
    r.limit = 10
    out = r.run_now()
    assert out.degraded
    assert not cat.fts  # capability cache cleared (fts.js:93-96)
    assert out.count == 10  # ILIKE fallback produced results


def test_non_fts_failure_surfaces(spark):
    """A failure that is NOT FTS-shaped must raise, not silently degrade to
    ILIKE — the reference degrades only when the error names match_bm25
    (pipelineRunner.js:93-96); a transient unrelated failure that cleared
    the FTS cache would permanently change ranking with no surfaced error."""
    from overturemaps_duckdb_spark.operators.fts import FtsIndex, build_fts_index

    cat = catalog_cs(spark, SF_SMOKE)
    df = cat.tables["theme_customer"]
    cat.fts["theme_customer"] = build_fts_index(df, "id", "search_name")
    # break the SOURCE table (simulates a missing file / schema drift), with
    # a healthy FTS index registered and a search active
    cat.tables["theme_customer"] = spark.createDataFrame([(1,)], "only_col int")
    r = PipelineRunner(cat, debounce_s=0.01)
    r.nodes = [SRC_C]
    r.search = "machinery"
    with pytest.raises(Exception) as ei:
        r.run_now()
    from overturemaps_duckdb_spark.operators.fts import FtsScoringError

    assert not isinstance(ei.value, FtsScoringError)
    assert cat.fts  # capability cache NOT cleared by the unrelated failure


def test_sql_override_replaces_compiled_plan(spark):
    """User-edited SQL replaces the compiled pipeline entirely
    (store.js:27, pipelineRunner.js:73) — DuckDB dialect accepted."""
    cat = catalog_cs(spark, SF_SMOKE)
    r = PipelineRunner(cat, debounce_s=0.01)
    r.nodes = [SRC_C, SRC_S]
    r.limit = 5
    r.sql_override = (
        "SELECT id, string_split(search_name, ' ')[1] AS w "
        "FROM theme_customer ORDER BY id LIMIT 3"
    )
    out = r.run_now()
    assert out.count == 3  # the override's LIMIT, not the pipeline's
    assert set(out.rows[0].asDict()) == {"id", "w"}
    r.sql_override = None
    assert r.run_now().count == 5  # compiled path restored


def test_sourceless_pipeline_runs_nothing(spark):
    cat = catalog_cs(spark, SF_SMOKE)
    r = PipelineRunner(cat, debounce_s=0.01)
    r.nodes = [
        Node(id="x", type="combine", op="within", table="theme_supplier",
             key="places/supplier")
    ]
    assert r.run_now() is None


def test_load_theme_budget_and_pruning(spark, tmp_path):
    """EP1: the budget caps the rows loaded; pruning skips out-of-bbox
    files entirely (themes.js:300-330, worker/index.js:174)."""
    import os

    from overturemaps_duckdb_spark.queries.spatial import customer_points
    from overturemaps_duckdb_spark.sources.ingest import load_theme

    pts = customer_points(spark, SF_SMOKE).select(
        F.col("id").cast("string").alias("id"), "centroid_lon", "centroid_lat"
    )
    files = []
    for i, (lo, hi) in enumerate([(-181, -120), (-120, -60), (-60, 0), (0, 181)]):
        part = pts.where((F.col("centroid_lon") >= lo) & (F.col("centroid_lon") < hi))
        p = str(tmp_path / f"band_{i}")
        part.coalesce(1).write.mode("overwrite").parquet(p)
        files.extend(os.path.join(p, f) for f in os.listdir(p) if f.endswith(".parquet"))

    res = load_theme(
        spark,
        table="theme_budget_test",
        files=files,
        bbox=(-130.0, -90.0, -60.0, 90.0),  # overlaps bands 0..2 only
        projection=lambda raw: raw,
        limit=20,
    )
    assert res.files_scanned < len(files)  # pruning really skipped files
    assert res.rows == 20  # budget respected
    assert res.batches <= res.files_scanned
    assert spark.table("theme_budget_test").count() == 20


def test_load_theme_snapview_cache_roundtrip(spark, tmp_path):
    import os

    from overturemaps_duckdb_spark.queries.spatial import customer_points
    from overturemaps_duckdb_spark.sources.ingest import load_theme
    from overturemaps_duckdb_spark.state import SnapviewStore

    pts = customer_points(spark, SF_SMOKE).select(
        F.col("id").cast("string").alias("id"), "centroid_lon", "centroid_lat"
    )
    p = str(tmp_path / "all")
    pts.coalesce(1).write.mode("overwrite").parquet(p)
    files = [os.path.join(p, f) for f in os.listdir(p) if f.endswith(".parquet")]
    store = SnapviewStore(spark, str(tmp_path / "ep1cache"))

    kwargs = dict(
        table="theme_cache_test", files=files, bbox=(-180.0, -90.0, 0.0, 90.0),
        projection=lambda raw: raw, limit=10**6, store=store,
    )
    first = load_theme(spark, **kwargs)
    second = load_theme(spark, **kwargs)
    assert not first.cached and second.cached
    assert first.rows == second.rows

    # superset-bbox reuse (bboxContains, themes.js:212): a smaller request
    # is served from the cache, clipped — row count equals a direct load
    sub = dict(kwargs, bbox=(-120.0, -45.0, -40.0, 45.0))
    clipped = load_theme(spark, **sub)
    assert clipped.cached
    direct = load_theme(
        spark, table="theme_cache_direct", files=files,
        bbox=(-120.0, -45.0, -40.0, 45.0), projection=lambda raw: raw,
        limit=10**6,
    )
    assert clipped.rows == direct.rows > 0

    # a NON-contained request must fall back to the load path
    wider = load_theme(
        spark, **dict(kwargs, table="theme_cache_test", bbox=(-181.0, -91.0, 10.0, 91.0))
    )
    assert not wider.cached


def test_fts_sniff_ignores_unrelated_substrings():
    """r8 review fix: the degrade sniff matched bare 'fts'/'_score'
    substrings, so an unrelated error naming '/data/drafts/...' or a
    quality_score column silently cleared the FTS capability cache and
    permanently changed ranking.  FTS-specific tokens only."""
    from overturemaps_duckdb_spark.plans.runner import looks_like_fts_failure

    assert not looks_like_fts_failure(
        Exception("FileNotFoundException: /data/drafts/part-0.parquet")
    )
    assert not looks_like_fts_failure(
        Exception("cannot resolve column quality_score")
    )
    assert looks_like_fts_failure(Exception("match_bm25 scoring failed"))
    assert looks_like_fts_failure(Exception("bm25 term weights overflow"))
    assert looks_like_fts_failure(
        Exception("missing file /tmp/store/postings/term=a")
    )
    assert looks_like_fts_failure(Exception("fts index unavailable"))
    assert looks_like_fts_failure(Exception("broken FTS capability"))


def test_debounced_failure_surfaces_in_flush(spark):
    """r8 review fix: an exception on the debounce timer thread vanished
    into threading's excepthook — on_result never fired and the caller
    had no way to learn the run failed.  flush() now re-raises it."""
    cat = catalog_cs(spark, SF_SMOKE)
    cat.tables["theme_customer"] = spark.createDataFrame([(1,)], "only_col int")
    r = PipelineRunner(cat, debounce_s=0.01)
    r.update(nodes=[SRC_C])  # schedules the failing run on the timer thread
    time.sleep(0.1)
    with pytest.raises(Exception):
        r.flush()
    assert r.last_error is None  # consumed by the flush that raised
    # a healthy runner flushes clean
    cat2 = catalog_cs(spark, SF_SMOKE)
    r2 = PipelineRunner(cat2, debounce_s=0.01)
    r2.update(nodes=[SRC_C], limit=3)
    time.sleep(0.1)
    r2.flush()
    assert r2.run_count == 1


def test_jsonl_roundtrip_identity_on_nasty_text(spark, tmp_path):
    """JSONL write→read must preserve newlines, tabs, quotes, unicode,
    backslashes, and NULLs bit-for-bit (the io1 identity, off-fixture)."""
    rows = [
        (1, 'line1\nline2\r\nline3', "en", "s0", 18),
        (2, 'tab\there "quoted" back\\slash', "de", None, 28),
        (3, "東京 naïve Straße 🙂  sep", None, "s1", 20),
        (4, None, "fr", "s2", None),
        (5, "", "en", "s3", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    root = str(tmp_path / "jl")
    df.write.mode("overwrite").json(root)
    back = spark.read.schema(df.schema).json(root)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, rows))
