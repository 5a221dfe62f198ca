#!/usr/bin/env python
"""Streaming state-store A/B under a constrained heap (VERDICT r07 #4).

The in-heap (HDFSBackedStateStore) vs RocksDB decision has so far rested
on measurements where state comfortably fit a 32 GB heap (RocksDB = flat
~2.2x penalty on i4, noise on i2/i3).  This harness finds the regime
where that flips: the i4 stream-stream interval join's buffered state is
the largest state any registered query carries, and a constrained driver
heap (local mode: the ONLY heap) makes "state exceeds executor memory"
reproducible on one box.

Two deliberate differences from bench.py's i4 path:

- the streaming sink is ``noop``, not the memory sink ``run_to_batch``
  uses — a memory sink collects every output pair into the driver heap,
  so at small heaps the RESULT would OOM the JVM before the STATE does,
  confounding exactly the variable under test;
- Spark's own state metrics (``stateOperators[].numRowsTotal`` /
  ``stateOnCurrentVersionSizeBytes``) are reported from the query
  progress, so the BENCH_COMPARE row can state the measured state size a
  given heap could not hold, not a guess.

One (heap, store) config per process — heap is a JVM-creation-time
setting and a dying JVM must not poison the next run.  Drive it like:

    for s in default rocksdb; do for h in 32g 4g 2g; do
        python tools/state_heap_ab.py benchdata/events10m "$h" "$s"
    done; done

Prints ONE JSON line per invocation (ok or the failure class).
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    fixture = sys.argv[1] if len(sys.argv) > 1 else "benchdata/events10m"
    heap = sys.argv[2] if len(sys.argv) > 2 else "32g"
    store = sys.argv[3] if len(sys.argv) > 3 else "default"

    # JVM-creation-time settings: must be in place before the session exists
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    os.environ["SPARK_GRAFT_STATE_STORE"] = store

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from overturemaps_duckdb_spark.session import get_spark
    from overturemaps_duckdb_spark.streaming.windows import followup_events_join

    spark = get_spark(f"state_ab_{heap}_{store}")
    out: dict[str, object] = {"fixture": fixture, "heap": heap, "store": store}
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")  # run_to_batch's state sizing
    t0 = time.monotonic()
    try:
        q = (
            followup_events_join(spark, fixture)
            .writeStream.format("noop")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out["sec"] = round(time.monotonic() - t0, 1)
        rows = size = 0
        for p in q.recentProgress:
            for so in p.get("stateOperators", []):
                rows = max(rows, so.get("numRowsTotal", 0))
                cm = so.get("customMetrics", {}) or {}
                size = max(
                    size,
                    so.get("memoryUsedBytes", 0) or 0,
                    cm.get("stateOnCurrentVersionSizeBytes", 0) or 0,
                    cm.get("rocksdbTotalMemoryUsageBytes", 0) or 0,
                )
        out["state_rows"] = rows
        out["state_mb"] = round(size / 1e6, 1)
        out["ok"] = True
    except Exception as e:  # OOM kills the gateway; report the class, exit clean
        out["sec"] = round(time.monotonic() - t0, 1)
        out["ok"] = False
        out["err"] = f"{type(e).__name__}: {str(e)[:300]}"
    finally:
        try:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
            spark.stop()
        except Exception:
            pass
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
