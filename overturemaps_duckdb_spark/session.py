"""SparkSession bootstrap + query instrumentation.

Rebuilds the engine-lifecycle surface of the reference
(``/root/reference/src/lib/duckdb.js:7-49`` — engine init, extension load,
table lifecycle) and the query instrumentation wrapper
(``/root/reference/src/lib/queryRunner.js:14-55`` — label + SQL preview +
wall-clock + ok/err ring buffer) on a SparkSession.

Scale notes: every config below is chosen for a large cluster first and a
local[32] dev box second.  AQE re-plans shuffles at runtime (coalesces small
partitions, splits skewed ones, converts sort-merge→broadcast when a side
turns out small), nested-schema pruning keeps deep Overture-style structs
from being fully materialized, and Arrow makes driver-side result transfer
columnar.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

#: Tables the engine maintains for itself; hidden from user-facing listings,
#: mirroring the reference's system-table protection (duckdb.js:39,
#: fts.js:119-126).  FTS index tables use the fts_main_ prefix (fts.js:51-68).
SYSTEM_TABLE_PREFIXES = ("_session", "_load_history", "fts_main_")


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _default_driver_memory() -> str:
    """Half of physical memory, capped at 32g: local mode runs every task
    in the driver JVM, and a heap sized past the host lets the JVM grow
    until the kernel's OOM killer ends it."""
    try:
        phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    except (ValueError, OSError):
        return "32g"
    return f"{max(1024, min(32 * 1024, phys_mb // 2))}m"


def get_spark(
    app_name: str = "overturemaps_duckdb_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or reuse) the engine SparkSession.

    Mirrors ``initDuckDB`` (duckdb.js:7-28): one long-lived engine handle per
    process.  Config set here is safe to apply to an existing session's scope
    where possible; JVM-level settings only apply on first creation.
    """
    cpus = cpus or _default_parallelism()
    shuffle_partitions = shuffle_partitions or max(cpus, 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # --- heap: local mode puts ALL executor work in the driver JVM,
        #     whose 1g default is sized for a cluster driver, not for 32
        #     worker threads (observed: d2's shingle-array verify join OOMs
        #     the JVM at ~6M-row scale under the default).  JVM-level: only
        #     effective for the process that first creates the session.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        # --- correctness-critical for oracle parity ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- runtime re-planning: coalesce small / split skewed shuffle
        #     partitions, demote sort-merge to broadcast when a side is small.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing: ~1 partition per core locally; on a real
        #     cluster AQE coalesces from this starting point.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- scan sizing: default 128MB split keeps 100TB ≈ 800k tasks;
        #     row-group min/max pruning happens inside each split.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # --- small-input split floor: splitSize = min(maxPartitionBytes,
        #     max(openCostInBytes, bytes/parallelism)), so openCost only
        #     governs inputs smaller than ~4MB×cores — at 100 TB it is
        #     unreachable and this setting is inert.  The 4MB default
        #     serializes heavy-compute scans of SMALL dense files into one
        #     task (a 3.2MB 50k-doc parquet is minutes of shingle/token
        #     compute: measured 1 → 13 scan splits, x15 14.4 → 12.4 s at
        #     the 10× fixture).  256KB lets row-group-sized splits
        #     parallelize those; file-packing of many tiny files still
        #     batches (lower per-file padding packs MORE files per task).
        .config("spark.sql.files.openCostInBytes", "262144")
        # --- keep deep structs (Overture names/bbox/brand...) pruned to the
        #     accessed leaves only.
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # --- InferFiltersFromGenerate synthesizes `size(e)>0 AND
        #     isnotnull(e)` below every explode, duplicating the generator
        #     expression: the tokenize chain (lower+regexp+split+filter)
        #     appeared FOUR times per row in d3's scan stage (filter twice,
        #     project, generate).  Every explode in this engine is adjacent
        #     to its source scan or a cached frame — there is no join or
        #     exchange below it for the inferred filter to prune through —
        #     so the rule only multiplies per-row CPU (measured d3 warm:
        #     0.70 → 0.59 s at sf0.1; plan: 4 → 1 chain evaluations).
        #     Values are unchanged: a non-outer Generate already emits
        #     nothing for empty/null arrays.  Scale-independent: at 100 TB
        #     the duplicated expression is pure extra scan CPU.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        )
        .config("spark.sql.parquet.filterPushdown", "true")
        # --- Arrow for pandas UDFs + toPandas (the geo kernel hot path).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- PySpark's per-call error-origin capture wraps EVERY
        #     DataFrame method with getActiveSession + a conf RPC + a
        #     Python stack walk + two JVM origin set/clear calls — ~4
        #     py4j round trips per API call.  cProfile over d2's plan
        #     construction: 176 wrapped calls cost 1.7 s of the ~4 s
        #     construction (this is driver-side latency a cluster pays
        #     identically).  The only loss is the Python call-site line
        #     in error messages — a debug aid, not a production need.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # --- streaming state store: default (HDFS-backed, in-heap) wins while
    #     state fits the executor heap — measured on the i4 stream-stream
    #     interval join (the largest-state operator here) at 10M events /
    #     5.5 GB state: 66.6 s in-heap vs 300.9 s RocksDB at a 32g heap,
    #     still 3.9x ahead with state at ~65% of an 8g heap.  FLIP TO
    #     ROCKSDB WHEN PROJECTED PER-EXECUTOR STREAMING STATE EXCEEDS ~1/2
    #     OF EXECUTOR HEAP (SPARK_GRAFT_STATE_STORE=rocksdb): past that the
    #     in-heap store does not degrade, it GC-LIVELOCKS — at 4g the same
    #     job made no progress in 580 s with GCLocker retry warnings and
    #     heartbeat RPC timeouts, i.e. on a cluster it presents as dying
    #     executors, not a readable OOM.  RocksDB itself is heap-
    #     insensitive (flat 300-323 s from 32g down to 2g, ~1.3 GB native
    #     memory) so the flip never needs heap re-sizing.  Full matrix:
    #     BENCH_COMPARE.md round-8 crossover section; harness:
    #     tools/state_heap_ab.py.
    state_store = os.environ.get("SPARK_GRAFT_STATE_STORE", "").lower()
    if state_store not in ("", "default", "rocksdb"):
        # a typo must not silently fall back to the in-heap store — that is
        # exactly the OOM-at-scale misconfiguration the env var prevents.
        raise ValueError(
            f"SPARK_GRAFT_STATE_STORE={state_store!r}: expected 'rocksdb' "
            "or 'default'"
        )
    if state_store == "rocksdb":
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        ).config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing"
            ".enabled",
            "true",
        )
    return builder.getOrCreate()


# ---------------------------------------------------------------------------
# Query instrumentation (ref queryRunner.js:14-55)
# ---------------------------------------------------------------------------

#: ring-buffer size, matching the reference's HUD history (queryRunner.js:5)
HISTORY_CAP = 20


@dataclass
class QueryRecord:
    label: str
    preview: str
    ms: float
    ok: bool
    error: str | None = None
    rows: int | None = None


@dataclass
class QueryRunner:
    """Wall-clock + status wrapper around query execution.

    The reference wraps every `conn.query` with a label, a 140-char SQL
    preview, elapsed ms and an ok/err flag kept in a ring buffer of 20
    (queryRunner.js:14-55).  Here the unit of execution is a DataFrame
    action or a SQL text.
    """

    history: list[QueryRecord] = field(default_factory=list)

    def _push(self, rec: QueryRecord) -> QueryRecord:
        self.history.append(rec)
        if len(self.history) > HISTORY_CAP:
            del self.history[: len(self.history) - HISTORY_CAP]
        return rec

    def run_sql(self, spark: SparkSession, sql: str, label: str = "sql") -> DataFrame:
        preview = " ".join(sql.split())[:140]  # 140-char preview, queryRunner.js:18
        t0 = time.monotonic()
        try:
            df = spark.sql(sql)
            self._push(QueryRecord(label, preview, (time.monotonic() - t0) * 1e3, True))
            return df
        except Exception as exc:  # noqa: BLE001 — mirror ref's catch-all (queryRunner.js:40-50)
            self._push(
                QueryRecord(label, preview, (time.monotonic() - t0) * 1e3, False, str(exc)[:500])
            )
            raise

    def run_action(self, fn, label: str = "action", preview: str = ""):
        t0 = time.monotonic()
        try:
            out = fn()
            rows = len(out) if isinstance(out, list) else None
            self._push(
                QueryRecord(label, preview[:140], (time.monotonic() - t0) * 1e3, True, rows=rows)
            )
            return out
        except Exception as exc:  # noqa: BLE001
            self._push(
                QueryRecord(label, preview[:140], (time.monotonic() - t0) * 1e3, False, str(exc)[:500])
            )
            raise


# ---------------------------------------------------------------------------
# Table lifecycle (ref duckdb.js:41-49, themes.js:284)
# ---------------------------------------------------------------------------


def list_user_tables(spark: SparkSession) -> list[str]:
    """``SHOW TABLES`` minus system tables (duckdb.js:39, fts.js:119-126)."""
    return [
        t.name
        for t in spark.catalog.listTables()
        if not t.name.startswith(SYSTEM_TABLE_PREFIXES)
    ]


def drop_table(spark: SparkSession, name: str, *, allow_system: bool = False) -> bool:
    """``DROP TABLE IF EXISTS`` with system-table protection (duckdb.js:41-49).

    Covers BOTH registration kinds the engine creates (r9 review fix): temp
    views (the common case) and metastore tables (write_bucketed /
    saveAsTable layouts).  The old temp-view-only form silently returned
    False for a managed table — listed by SHOW TABLES but undroppable
    through the lifecycle surface."""
    if not allow_system and name.startswith(SYSTEM_TABLE_PREFIXES):
        raise ValueError(f"refusing to drop system table {name!r}")
    if spark.catalog.dropTempView(name):
        return True
    if spark.catalog.tableExists(name):
        escaped = name.replace("`", "``")
        spark.sql(f"DROP TABLE IF EXISTS `{escaped}`")
        return True
    return False


def drop_all_user_tables(spark: SparkSession) -> list[str]:
    """Clear-all used by area reloads (controller.js:119-146 → duckdb.js:41-49);
    routes through :func:`drop_table` so managed tables clear too."""
    dropped = []
    for name in list_user_tables(spark):
        if drop_table(spark, name):
            dropped.append(name)
    return dropped
