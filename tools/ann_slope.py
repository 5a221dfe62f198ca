#!/usr/bin/env python
"""Embeddings-family scale-slope harness (VERDICT r07 #2).

Measures the embeddings-only registered queries (qz1 quantize, d5
embedding near-dup, n2 LSH ANN pairs) plus the IVF amortization split
(ivf_build_write = train + `_list`-partitioned store write,
ivf_store_probe = steady-state ANN probe over the persisted store) at
ONE fixture dir, and asserts the probed-store scan still prunes
partitions (non-empty PartitionFilters on `_list`) at that scale.

One dir per process so GC/codegen state from a 2M-row run can't bleed
into the next decade's numbers; a driver loop is a shell one-liner:

    for d in benchdata/sf1 benchdata/emb200k benchdata/emb2m; do
        python tools/ann_slope.py "$d"; done

Each invocation prints ONE JSON line:
    {"dir": ..., "rows": N, "queries": {name: sec, ...}}
Timings are min-of-2 after a sf0.001 warmup pass (bench.py methodology).
NOISE NOTE: this host's CPU throughput is bursty — identical code has
measured 2-3× apart within an hour under hypervisor-neighbor pressure —
so never conclude a regression from one pass; re-measure min-of-2 in a
fresh quiet-hour process before believing any slope change.
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from overturemaps_duckdb_spark import queries as _q  # noqa: E402
from overturemaps_duckdb_spark.operators.similarity import (  # noqa: E402
    ivf_build,
    ivf_topk_from_store,
    ivf_write,
)
from overturemaps_duckdb_spark.queries import t  # noqa: E402
from overturemaps_duckdb_spark.session import get_spark  # noqa: E402

_q.load_all()

#: registered embeddings-family queries measured at each decade
NAMES = ["qz1_embedding_quantize", "d5_embedding_neardup", "n2_lsh_ann_pairs"]
WARM_SF = "/root/testdata/sf0.001"
PASSES = int(os.environ.get("SPARK_GRAFT_SLOPE_PASSES", "2"))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "benchdata/emb2m"
    # per-query split (VERDICT r08 #3): at the 2M decade a full min-of-2
    # sweep of all five queries no longer fits one measurement window, so
    # SPARK_GRAFT_SLOPE_NAMES selects a subset per fresh process —
    # registered names and/or the pseudo-name "ivf" for the build+probe
    # section.  Default (unset) runs everything, as before.
    only = [
        n.strip()
        for n in os.environ.get("SPARK_GRAFT_SLOPE_NAMES", "").split(",")
        if n.strip()
    ]
    run_names = [n for n in NAMES if not only or n in only]
    run_ivf = not only or "ivf" in only
    run_pq = not only or "pq" in only
    spark = get_spark("ann_slope")
    rows = t(spark, sf_dir, "embeddings").count()
    out: dict[str, float] = {}

    for name in run_names:
        fn = _q.QUERIES[name]
        fn(spark, WARM_SF).write.format("noop").mode("overwrite").save()
        best = None
        for _ in range(PASSES):
            t0 = time.monotonic()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)

    if run_ivf:
        # IVF split, bench.py shape: one-time build+write, then the probe
        e = t(spark, sf_dir, "embeddings")
        root = tempfile.mkdtemp(prefix="omds_slope_ivf_") + "/store"
        t0 = time.monotonic()
        assigned, centroids = ivf_build(
            e, id_col="vec_id", vec_col="embedding", n_lists=16, seed=42
        )
        ivf_write(assigned, root)
        out["ivf_build_write"] = round(time.monotonic() - t0, 3)
        queries_df = e.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        best = None
        for _ in range(PASSES):
            t0 = time.monotonic()
            # scorer explicit since r10 (default flipped to vectorized):
            # decade-over-decade comparability requires the same exact
            # fold the r8/r9 slope rows measured
            probe = ivf_topk_from_store(
                spark, root, centroids, queries_df, n_probe=4, k=10,
                scorer="exact",
            )
            probe.write.format("noop").mode("overwrite").save()
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        out["ivf_store_probe"] = round(best, 3)

        # the 100 TB claim must survive the scale-up: the store scan still
        # prunes unprobed `_list` partitions at this decade
        plan = probe._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and m.group(1).strip() and "_list" in m.group(1), (
            f"IVF store scan lost partition pruning at {rows} rows"
        )

    if run_pq:
        # PQ split (r12): one-time train + encode + code-table write, then
        # the steady-state ADC+rerank probe over the persisted codes — the
        # decade slope of the 16×-compressed scan
        from overturemaps_duckdb_spark.operators.similarity import (
            pq_encode,
            pq_topk_rerank,
            pq_train,
        )

        e = t(spark, sf_dir, "embeddings")
        pq_root = tempfile.mkdtemp(prefix="omds_slope_pq_") + "/codes"
        t0 = time.monotonic()
        books = pq_train(e, m=16, n_codes=64, seed=42)
        pq_encode(e, books).write.mode("overwrite").parquet(pq_root)
        out["pq_train_encode_write"] = round(time.monotonic() - t0, 3)
        codes = spark.read.parquet(pq_root)
        queries_df = e.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        best = None
        for _ in range(PASSES):
            t0 = time.monotonic()
            pq_topk_rerank(
                codes, books, e, queries_df, k=10
            ).write.format("noop").mode("overwrite").save()
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        out["pq_adc_rerank_probe"] = round(best, 3)

    print(json.dumps({"dir": sf_dir, "rows": rows, "queries": out}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
