#!/usr/bin/env python
"""Isolated per-query timing with EXACT bench-pass semantics: fresh session,
warm the named queries at sf0.001, then time each once at $SPARK_GRAFT_SF_DIR
via the noop sink.  Prints one JSON line {name: sec}.

Usage: python tools/qiso.py q1_pricing_summary t2_bm25_topk ...
Run it N times from a wrapper and take the min/median — single runs on this
host swing 2x (BENCH_COMPARE noise history).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from overturemaps_duckdb_spark import queries as _q  # noqa: E402
from overturemaps_duckdb_spark.session import get_spark  # noqa: E402

_q.load_all()


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("qiso")
    spark.sparkContext.setLogLevel("FATAL")
    for warm in names:
        _q.QUERIES[warm](spark, "/root/testdata/sf0.001").write.format(
            "noop"
        ).mode("overwrite").save()
    times = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"qiso:{name}")
        t0 = time.monotonic()
        _q.QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        times[name] = round(time.monotonic() - t0, 3)
    print(json.dumps(times))
    spark.stop()


if __name__ == "__main__":
    main()
