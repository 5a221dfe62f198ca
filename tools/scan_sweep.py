#!/usr/bin/env python
"""Full-registry duplicate-subtree sweep (r14): execute every registered
query at sf0.01 via the noop sink and count REAL parquet scans in the
executed plan — main-plan FileSourceScan leaves (collectLeaves, so a
cached relation's build subtree is not double-counted per reference)
plus one per distinct InMemoryRelation whose build scans a file.  Flags
any query whose main plan scans the same file location more than once —
the x18/x19/x20 re-tokenization class.

Usage: python tools/scan_sweep.py [name ...]   (default: whole registry)
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from overturemaps_duckdb_spark import queries as _q  # noqa: E402
from overturemaps_duckdb_spark.session import get_spark  # noqa: E402

_q.load_all()


def main() -> None:
    names = sys.argv[1:] or sorted(_q.QUERIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("scan_sweep")
    spark.sparkContext.setLogLevel("FATAL")
    flagged, errs = [], []
    for name in names:
        try:
            df = _q.QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            plan = df._jdf.queryExecution().executedPlan()
            leaves = plan.collectLeaves()
            locs = Counter()
            for i in range(leaves.size()):
                leaf = leaves.apply(i)
                s = leaf.toString()
                if leaf.getClass().getSimpleName().startswith("FileSourceScan"):
                    m = re.search(r"\[([^\]]*)\]", s.split("Location", 1)[-1])
                    locs[m.group(1) if m else s[:120]] += 1
            dupes = {k: v for k, v in locs.items() if v > 1}
            status = f"DUP {dupes}" if dupes else "ok"
            print(f"{name}: {sum(locs.values())} scans {status}", flush=True)
            if dupes:
                flagged.append(name)
        except Exception as exc:  # noqa: BLE001
            errs.append(name)
            print(f"{name}: ERR {str(exc)[:160]}", flush=True)
    print(f"FLAGGED ({len(flagged)}): {flagged}")
    print(f"ERRORS ({len(errs)}): {errs}")
    spark.stop()


if __name__ == "__main__":
    main()
