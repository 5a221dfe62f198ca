#!/usr/bin/env python
"""Capture .explain('formatted') for headline queries → plans/<round>/<q>_<tag>.txt.

Usage: python tools/explain.py <round> <tag> [query ...]
With no query args, captures the whole bench HEADLINE set.

Also prints a one-line plan-shape summary per query (Exchange count, join
strategies, Python-boundary nodes) — the guide §1 measurement checklist.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from overturemaps_duckdb_spark import queries as _q  # noqa: E402
from overturemaps_duckdb_spark.session import get_spark  # noqa: E402

_q.load_all()


def shape(plan: str) -> str:
    counts = {
        "Exchange": len(re.findall(r"\bExchange\b", plan)),
        "SMJ": len(re.findall(r"\bSortMergeJoin\b", plan)),
        "BHJ": len(re.findall(r"\bBroadcastHashJoin\b", plan)),
        "SHJ": len(re.findall(r"\bShuffledHashJoin\b", plan)),
        "BNLJ": len(re.findall(r"\bBroadcastNestedLoopJoin\b", plan)),
        "BatchEvalPython": len(re.findall(r"\bBatchEvalPython\b", plan)),
        "ArrowEvalPython": len(re.findall(r"\bArrowEvalPython\b", plan)),
        "MapInPandas": len(re.findall(r"\bMapInPandas\b", plan)),
        "Codegen": len(re.findall(r"\bWholeStageCodegen", plan)),
    }
    return " ".join(f"{k}={v}" for k, v in counts.items() if v)


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    rnd, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    if not names:
        import importlib

        bench = importlib.import_module("bench")
        names = list(bench.HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        rnd,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(f"explain_{rnd}")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        try:
            df = _q.QUERIES[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            print(f"{name}: ERROR {exc}")
            continue
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"{name}: {shape(plan)}")
    spark.stop()


if __name__ == "__main__":
    main()
