"""Lifecycle layer tests: manifest pruning, catalog discovery, session KV,
snapviews, load history, URL codec — mirroring the reference's
sessionState/urlState/store test coverage (SURVEY §5)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from overturemaps_duckdb_spark.sources.manifest import (
    build_manifest,
    discover_catalog,
    prune_files,
    read_pruned,
)
from overturemaps_duckdb_spark.state import (
    SessionState,
    SnapviewStore,
    append_load_history,
    decode_url_state,
    encode_url_state,
    read_load_history,
)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def banded_files(spark, tmp_path_factory):
    """4 parquet files of customer points, split into lon bands — each file's
    footer stats carry a distinct lon range, so pruning is observable."""
    from overturemaps_duckdb_spark.queries.spatial import customer_points

    pts = customer_points(spark, SF_SMOKE).select(
        "id", "centroid_lon", "centroid_lat"
    )
    root = str(tmp_path_factory.mktemp("manifest"))
    paths = []
    # sf0.001 customer lons span [-180, -30]; bands chosen to be non-empty
    for i, (lo, hi) in enumerate([(-180, -140), (-140, -100), (-100, -60), (-60, 0)]):
        part = pts.where(
            (F.col("centroid_lon") >= lo) & (F.col("centroid_lon") < hi)
        )
        p = os.path.join(root, f"band_{i}")
        part.coalesce(1).write.mode("overwrite").parquet(p)
        pq_file = [f for f in os.listdir(p) if f.endswith(".parquet")][0]
        paths.append(os.path.join(p, pq_file))
    return pts, paths


def test_manifest_prunes_files(spark, banded_files):
    pts, paths = banded_files
    manifest = build_manifest(paths)
    indexed, unknown = manifest
    assert len(indexed) == 4 and not unknown
    # a query box inside one band must touch exactly one file
    survivors = prune_files(manifest, (-130.0, -80.0, -120.0, 80.0))
    assert len(survivors) == 1
    # pruned scan result == full scan + filter (correctness of pruning)
    box = (F.col("centroid_lon") >= -130) & (F.col("centroid_lon") <= -120)
    pruned = read_pruned(spark, manifest, (-130.0, -80.0, -120.0, 80.0)).where(box)
    full = pts.where(box)
    assert sorted(r["id"] for r in pruned.collect()) == sorted(
        r["id"] for r in full.collect()
    )


def test_manifest_degrades_without_stats(tmp_path):
    # a file with no lon/lat columns → no stats → always survives
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "nostats.parquet")
    pq.write_table(pa.table({"x": [1, 2, 3]}), p)
    manifest = build_manifest([p])
    assert manifest[1] == [p]
    assert prune_files(manifest, (0, 0, 1, 1)) == [p]


def test_discover_catalog(tmp_path):
    base = tmp_path / "releases"
    for rel in ["2026-01", "2026-02"]:
        for theme in ["places_place", "buildings_building"]:
            d = base / rel / theme
            d.mkdir(parents=True)
            (d / "part0.parquet").touch()
    cat = discover_catalog(str(base))
    assert sorted(cat) == ["2026-01", "2026-02"]
    assert sorted(cat["2026-01"]) == ["buildings_building", "places_place"]
    assert cat["2026-02"]["places_place"][0].endswith("part0.parquet")


def test_session_state_roundtrip(spark, tmp_path):
    root = str(tmp_path / "state")
    s = SessionState(spark, root)
    s.set("pipeline", {"nodes": [1, 2], "limit": 3000})
    s.set("pipeline", {"nodes": [1, 2, 3], "limit": 100})  # INSERT OR REPLACE
    s.set("bbox", [1.5, 2.5])
    # fresh instance hydrates from parquet
    s2 = SessionState(spark, root)
    assert s2.get("pipeline") == {"nodes": [1, 2, 3], "limit": 100}
    assert s2.get("bbox") == [1.5, 2.5]
    assert s2.get("missing", "dflt") == "dflt"
    s2.delete("bbox")
    s3 = SessionState(spark, root)
    assert s3.get("bbox") is None
    s3.clear()
    assert SessionState(spark, root).get("pipeline") is None
    # the pyarrow-written artifact must stay a Spark-readable parquet dir
    # (the engine-side contract the class docstring claims)
    s3.set("k", 7)
    got = {r["key"]: r["value"] for r in spark.read.parquet(s3.path).collect()}
    assert got == {"k": "7"}


def test_session_state_tolerates_corrupt_json(spark, tmp_path):
    root = str(tmp_path / "state")
    df = spark.createDataFrame(
        [("good", '{"a":1}'), ("bad", "{not json")], "key string, value string"
    )
    df.write.mode("overwrite").parquet(os.path.join(root, "_session"))
    s = SessionState(spark, root)
    assert s.get("good") == {"a": 1}
    assert s.get("bad") is None  # sessionState.js:96-101 tolerance


def test_snapview_roundtrip(spark, tmp_path):
    root = str(tmp_path / "snap")
    store = SnapviewStore(spark, root)
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    rec = store.save("sv1", df, {"bbox": [0, 0, 1, 1], "keys": ["places"]})
    assert rec["row_count"] == 100 and rec["keys"] == ["places"]
    back = store.load("sv1")
    assert back.count() == 100
    assert sorted(r["v"] for r in back.collect()) == sorted(
        r["v"] for r in df.collect()
    )
    assert [m["id"] for m in store.list()] == ["sv1"]
    assert store.delete("sv1") and store.load("sv1") is None


def test_load_history_appends(spark, tmp_path):
    root = str(tmp_path / "hist")
    append_load_history(root, key="places/place", row_count=10, load_time_ms=5.0)
    append_load_history(root, key="buildings/building", cached=True)
    h = read_load_history(spark, root)
    assert h.count() == 2
    assert {r["key"] for r in h.collect()} == {"places/place", "buildings/building"}
    assert all(r["ts"] is not None for r in h.collect())


def test_url_state_roundtrip():
    state = {"pipeline": [{"id": "n1", "type": "source"}], "limit": 3000,
             "search": "café ☕"}
    token = encode_url_state(state)
    assert token.isascii() and "=" not in token and "+" not in token
    assert decode_url_state(token) == state
    # tolerant decode (urlState.js:83-114)
    assert decode_url_state("!!!not-a-token!!!") is None
    assert decode_url_state("") is None


def test_session_state_reclaims_orphaned_tmp(spark, tmp_path):
    """r9 ADVICE fix: a crash between pq.write_table(tmp) and os.replace
    left .part-00000.parquet.tmp behind forever — hidden from readers
    (dot-prefixed), but the cleanup loop only removed '*.parquet' names,
    so orphans accumulated across crashes.  Any stale dot-prefixed .tmp
    is now reclaimed on the next successful flush."""
    root = str(tmp_path / "state")
    s = SessionState(spark, root)
    s.set("a", 1)
    # simulate crashed flushes' leftovers: the live tmp name (consumed by
    # the next flush's own write+replace) and a stale one from an older
    # layout (only the cleanup loop can reclaim it)
    for orphan in (".part-00000.parquet.tmp", ".part-00001.parquet.tmp"):
        with open(os.path.join(s.path, orphan), "wb") as f:
            f.write(b"torn write")
    s.set("b", 2)  # next successful flush reclaims it
    names = set(os.listdir(s.path))
    assert "part-00000.parquet" in names
    assert not any(n.startswith(".") and n.endswith(".tmp") for n in names), names
    # store stayed intact through the cleanup
    s2 = SessionState(spark, root)
    assert s2.get("a") == 1 and s2.get("b") == 2


def test_drop_table_covers_managed_tables(spark, tmp_path):
    """r9 review fix: drop_table only called dropTempView, so a managed
    (saveAsTable / write_bucketed) table was listed by the lifecycle
    surface but silently undroppable (returned False, table survived)."""
    from overturemaps_duckdb_spark.session import drop_table, list_user_tables

    root = str(tmp_path / "droptbl")
    spark.range(5).write.mode("overwrite").option(
        "path", f"{root}/t"
    ).saveAsTable("omds_managed_drop_t")
    assert "omds_managed_drop_t" in list_user_tables(spark)
    assert drop_table(spark, "omds_managed_drop_t") is True
    assert not spark.catalog.tableExists("omds_managed_drop_t")
    assert "omds_managed_drop_t" not in list_user_tables(spark)
    # absent name: False, no raise (DROP TABLE IF EXISTS semantics)
    assert drop_table(spark, "omds_managed_drop_t") is False
    # system prefixes still protected for managed names too
    import pytest

    with pytest.raises(ValueError):
        drop_table(spark, "_session_anything")


def test_default_driver_memory_is_half_of_physical_capped(monkeypatch):
    """Local mode runs every task in the driver JVM: the default heap is
    half of physical memory, never more than the old 32g, so a default
    session cannot grow past the host."""
    from overturemaps_duckdb_spark import session

    page = 4096
    for phys_gb, want in ((15, f"{15 * 1024 // 2}m"), (128, "32768m")):
        pages = phys_gb * (1 << 30) // page
        monkeypatch.setattr(
            session.os, "sysconf",
            lambda name, pages=pages: page if name == "SC_PAGE_SIZE" else pages,
        )
        assert session._default_driver_memory() == want
