#!/usr/bin/env python
"""Full-registry executed-plan sweep: execute every registered query at
sf0.01 and read its final (AQE) plan for two defect classes.

- Duplicate scans: the plan scans the same file location more than once
  (the x18/x19/x20 re-tokenization class).  ReusedExchange leaves print no
  subtree, and the subtree printed under each InMemoryRelation (the cached
  frame's own build) is left out, so neither is counted per reference.
- Broken top-k: a Limit over a Sort fed by ``Exchange rangepartitioning``,
  or a Python eval node between a LocalLimit and its Sort.  Either means
  an ORDER BY … LIMIT planned as a global sort with its own sampling job
  instead of TakeOrderedAndProject (a UDF Project pushed below the LIMIT
  splits the Limit from its Sort).

The query runs through its own QueryExecution (``toRdd().count()``), so the
plan read afterwards is the final adaptive plan of the run.

Usage: python tools/scan_sweep.py [name ...]   (default: whole registry)
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter, defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from overturemaps_duckdb_spark import queries as _q  # noqa: E402
from overturemaps_duckdb_spark.session import get_spark  # noqa: E402

_q.load_all()

_LIMITS = ("LocalLimit", "GlobalLimit", "CollectLimit")
_STAGE_WRAPPERS = ("AQEShuffleRead", "ShuffleQueryStage", "InputAdapter")
_PYTHON_EVAL = re.compile(r"(Arrow|Batch)EvalPython")


def plan_tree(plan: str) -> list[tuple[str, int | None]]:
    """(node text, parent index) for each node of the final plan, without
    the Initial Plan section and without InMemoryRelation subtrees."""
    nodes: list[tuple[str, int | None]] = []
    stack: list[tuple[int, int]] = []  # (depth, node index) of open nodes
    cached_depth = None
    for ln in plan.split("== Initial Plan ==")[0].splitlines():
        text = ln.lstrip(" :|+-")
        depth = len(ln) - len(text)
        if cached_depth is not None and depth > cached_depth:
            continue
        cached_depth = depth if text.startswith("InMemoryRelation") else None
        if not text or text.startswith("=="):
            continue
        while stack and stack[-1][0] >= depth:
            stack.pop()
        nodes.append((re.sub(r"^\*\(\d+\) ", "", text),
                      stack[-1][1] if stack else None))
        stack.append((depth, len(nodes) - 1))
    return nodes


def duplicate_scans(nodes) -> dict[str, int]:
    locs: Counter = Counter()
    for text, _ in nodes:
        if text.startswith("FileScan"):
            m = re.search(r"\[([^\]]*)\]", text.split("Location", 1)[-1])
            locs[m.group(1) if m else text[:120]] += 1
    return {k: v for k, v in locs.items() if v > 1}


def broken_top_k(nodes) -> list[str]:
    """Limit/Sort pairs the planner could not fuse into a top-k."""
    children = defaultdict(list)
    for i, (_, parent) in enumerate(nodes):
        if parent is not None:
            children[parent].append(i)

    def down(i: int, skip: tuple[str, ...]) -> str:
        # first node below i, along single children, that is not in `skip`
        while len(children[i]) == 1:
            i = children[i][0]
            if not nodes[i][0].startswith(skip):
                return nodes[i][0]
        return ""

    def up(i: int, skip: tuple[str, ...]) -> str:
        while (i := nodes[i][1]) is not None:
            if not nodes[i][0].startswith(skip):
                return nodes[i][0]
        return ""

    hits = []
    for i, (text, parent) in enumerate(nodes):
        if (
            text.startswith("Sort [")
            and parent is not None
            and nodes[parent][0].startswith(_LIMITS)
            and down(i, _STAGE_WRAPPERS).startswith("Exchange rangepartitioning")
        ):
            hits.append(f"{nodes[parent][0][:40]} over a range-partitioned Sort")
        if (
            _PYTHON_EVAL.match(text)
            and up(i, ("Project",)).startswith("LocalLimit")
            and down(i, ("Project", "LocalLimit")).startswith("Sort [")
        ):
            hits.append(f"{text[:40]} between a LocalLimit and its Sort")
    return hits


def main() -> None:
    names = sys.argv[1:] or sorted(_q.QUERIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("scan_sweep")
    spark.sparkContext.setLogLevel("FATAL")
    dup_flagged, topk_flagged, errs = [], [], []
    for name in names:
        try:
            qe = _q.QUERIES[name](spark, sf_dir)._jdf.queryExecution()
            qe.toRdd().count()
            nodes = plan_tree(qe.executedPlan().toString())
            dupes = duplicate_scans(nodes)
            top_k = broken_top_k(nodes)
            n_scans = sum(t.startswith("FileScan") for t, _ in nodes)
            status = []
            if dupes:
                status.append(f"DUP {dupes}")
                dup_flagged.append(name)
            if top_k:
                status.append(f"TOPK {top_k}")
                topk_flagged.append(name)
            print(f"{name}: {n_scans} scans {' '.join(status) or 'ok'}",
                  flush=True)
        except Exception as exc:  # noqa: BLE001
            errs.append(name)
            print(f"{name}: ERR {str(exc)[:160]}", flush=True)
    print(f"DUPLICATE SCANS ({len(dup_flagged)}): {dup_flagged}")
    print(f"BROKEN TOP-K ({len(topk_flagged)}): {topk_flagged}")
    print(f"ERRORS ({len(errs)}): {errs}")
    spark.stop()


if __name__ == "__main__":
    main()
