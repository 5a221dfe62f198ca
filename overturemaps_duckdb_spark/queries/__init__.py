"""Operator-inventory query registry.

Every operator the engine implements (SURVEY.md §2 inventory + the
LLM-pipeline extension surface) registers here as a named query:

- a PySpark callable ``(spark, sf_dir) -> DataFrame``
- (where SQL-expressible) an equivalent ANSI/DuckDB oracle SQL string run by
  the driver's correctness harness on the same parquet tables.

Determinism rules (FIXTURES.md "Oracle-comparison rules"):
- every LIMIT is preceded by a total ORDER BY ending in a unique key;
- double aggregates over money columns go through the exact cents trick
  (``CAST(ROUND(x*100) AS BIGINT)``) so partial-agg ordering can't flip bits;
- timestamps are surfaced as epoch microseconds (session-TZ independent);
- DuckDB ``SUM(BIGINT)`` returns HUGEINT → oracles cast back to BIGINT.
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from collections.abc import Callable

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column, DataFrame, SparkSession

from overturemaps_duckdb_spark.operators._util import cache_get, cache_put

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def query(name: str, oracle: str | None = None):
    """Register a query; ``oracle`` is DuckDB SQL over the pre-registered views."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _has_unhashable(dt: T.DataType) -> bool:
    """True if a cell of this type contains a list/dict anywhere — pandas
    ``sort_values`` hashes whole cells, so an array nested INSIDE a struct
    crashes it exactly like a top-level array (Row.__hash__ delegates to
    tuple.__hash__, which raises on contained lists)."""
    if isinstance(dt, (T.ArrayType, T.MapType)):
        return True
    if isinstance(dt, T.StructType):
        return any(_has_unhashable(f.dataType) for f in dt.fields)
    return False


def driver_unsafe_columns(df: DataFrame) -> list[tuple[str, str]]:
    """Top-level columns the ROUND DRIVER's canonicalizer cannot hash.

    The driver loads each result into pandas and ``sort_values`` over all
    columns; an array/map cell — including one nested inside a struct —
    raises ``TypeError: unhashable type`` (CORRECTNESS_r11 emb1/bpe2
    failure).  Registered queries must serialize such columns
    (``concat_ws`` engine-side / ``array_to_string``/``string_agg``
    oracle-side).  Returns the offending ``(column, type)`` pairs —
    empty means driver-safe."""
    return [
        (f.name, f.dataType.simpleString())
        for f in df.schema.fields
        if _has_unhashable(f.dataType)
    ]


_SHIPPED: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    The caller's SparkSession (e.g. the driver harness's) won't have the repo
    on the workers' PYTHONPATH, so UDFs defined here would fail to unpickle.
    ``addPyFile`` of a zip of the package is the cluster-correct fix — it
    ships the code to every executor, exactly as on a 1000-node deployment.
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED:
        return
    # __file__ is <repo>/overturemaps_duckdb_spark/queries/__init__.py
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    pkg = os.path.join(repo_root, "overturemaps_duckdb_spark")
    sources = [
        os.path.join(dirpath, fn)
        for dirpath, _dirs, files in os.walk(pkg)
        for fn in files
        if fn.endswith(".py")
    ]
    zpath = os.path.join(tempfile.gettempdir(), f"omds_pkg_{os.getpid()}.zip")
    # Sweep dead processes' zips (one accrued per process FOREVER — the
    # staging_root resource-lifecycle policy, same age gate so a live
    # concurrent process is never raced; addPyFile copies the zip into
    # Spark's own file-server dir, so sweeping a shipped source is safe).
    import glob
    import time

    from overturemaps_duckdb_spark.operators._util import (
        STAGING_STALE_SECONDS,
    )

    now = time.time()
    for sib in glob.glob(
        os.path.join(tempfile.gettempdir(), "omds_pkg_*.zip")
    ):
        if sib == zpath:
            continue
        try:
            if now - os.stat(sib).st_mtime > STAGING_STALE_SECONDS:
                os.remove(sib)
        except OSError:
            pass  # raced with another sweeper / already gone
    # A recycled pid (or an edited repo within one long-lived process tree)
    # must not ship a STALE zip: rebuild whenever any source is at least as
    # new as the existing zip — `<=`, not `<` (ADVICE r11): on coarse-mtime
    # filesystems an edit within the zip's own mtime tick would otherwise
    # ship pre-edit code, and a spurious rebuild is cheap.
    try:
        if os.path.exists(zpath) and os.stat(zpath).st_mtime <= max(
            os.stat(s).st_mtime for s in sources
        ):
            os.remove(zpath)
    except OSError:
        pass
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for full in sources:
                z.write(full, os.path.relpath(full, repo_root))
    else:
        # Reuse heartbeat (ADVICE r11 TOCTOU): a long-lived process reusing
        # its zip across sessions must keep its mtime fresh, or a sibling's
        # age-gated sweep can delete it between this reuse check and
        # addPyFile.  Mirrors staging_root's wipe-recreate heartbeat.
        try:
            os.utime(zpath, None)
        except OSError:
            pass
    spark.sparkContext.addPyFile(zpath)
    _SHIPPED.add(app_id)


def table_key(sf_dir: str, name: str) -> tuple:
    """(realpath(sf_dir), table, file stamp) — the identity a session memo
    over one fixture table keys on.  The stamp is ``(mtime_ns, size)``
    (ADVICE r13): a table file rewritten mid-session gets a new key
    instead of a stale hit.  One os.stat — noise next to any job a hit
    saves."""
    try:
        st = os.stat(f"{sf_dir}/{name}.parquet")
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None  # let spark.read raise its own error path
    return (os.path.realpath(sf_dir), name, stamp)


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table (TESTDATA.md).

    ``events.parquet`` has carried different physical `ts` types across
    fixture regenerations — TIMESTAMP(NANOS) (readable only as a LONG of
    epoch-nanos behind the legacy flag) and plain TIMESTAMP[us] (read as
    TIMESTAMP_NTZ).  Set the read conf defensively (the driver's session may
    not have it) and let :func:`us_col` adapt to whichever type actually
    loaded — probe-then-adapt, the reference's own schema handling pattern
    (/root/reference/src/lib/themes.js:294-297, query.js:10-45 builds
    against whatever columns/types exist).

    This function deliberately does NOT touch ``spark.sql.session.timeZone``
    (ADVICE r03: a load-time TZ mutation leaked into unrelated timestamp
    rendering for the rest of the session): :func:`us_col` is
    TZ-independent by construction, and the streaming layer pins the TZ
    itself where window alignment genuinely needs it (streaming/windows).
    """
    _ship_package(spark)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    # Schema memo: inference is a Spark JOB (footer read) per
    # ``spark.read.parquet`` call, and every query re-opens its tables —
    # ~0.1 s of pure repeated work per call at ANY scale.  Only the SCHEMA
    # is kept (never data, never the DataFrame — each call still returns a
    # fresh plan with fresh expression ids, so self-joins of two ``t()``
    # results stay unambiguous), mirroring the reference engine's
    # long-lived table handles (duckdb.js:7-28).  256 entries: a sweep
    # over many fixtures must not cycle the LRU into re-inference.
    key = table_key(sf_dir, name)
    schema = cache_get(spark, "table_schema", key)
    if schema is None:
        df = spark.read.parquet(path)
        cache_put(spark, "table_schema", key, df.schema, max_entries=256)
        return df
    # explicit schema ⇒ no inference job; the stored schema was inferred
    # under the same session confs (nanosAsLong set above before the first
    # events read), so dtype handling is identical to the first open
    return spark.read.schema(schema).parquet(path)


def us_col(df: DataFrame, col: str = "ts") -> Column:
    """Epoch-microseconds BIGINT from the events `ts` column, whatever
    physical type the fixture carries.

    - LONG (TIMESTAMP(NANOS) under `nanosAsLong`) → integer `DIV 1000`;
    - TIMESTAMP_NTZ → `timestampdiff(MICROSECOND, epoch, ts)` — pure
      wall-clock arithmetic, no session-TZ-dependent cast (DuckDB's
      `epoch_us(ts)` treats the naive wall time as-is, and so does this);
    - TIMESTAMP (LTZ, already an absolute instant) → `unix_micros`.

    Matches the oracle's `epoch_us(ts)` bit-for-bit in all three cases,
    whatever the session time zone is set to.
    """
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        return F.expr(f"{col} DIV 1000")
    if isinstance(dt, T.TimestampNTZType):
        return F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
        )
    return F.unix_micros(F.col(col))


def load_all() -> None:
    """Import all query modules so their registrations run."""
    from overturemaps_duckdb_spark.queries import (  # noqa: F401
        dedup,
        events,
        fts,
        ingest,
        lifecycle,
        multimodal,
        pipeline,
        relational,
        similarity,
        spatial,
        sqlfront,
        textstats,
        tpch,  # registered last: keeps pre-r2 registry order frozen
        pipelineops,
    )
