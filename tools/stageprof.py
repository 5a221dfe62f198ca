#!/usr/bin/env python
"""Stage-level profile of one query: run it once (bench semantics: warmup at
sf0.001 first), then dump per-job/per-stage wall times from the local Spark
UI REST API — the guide §1/§7.1 'where is the time going' measurement.

Usage: python tools/stageprof.py <query> [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from overturemaps_duckdb_spark import queries as _q  # noqa: E402
from overturemaps_duckdb_spark.session import get_spark  # noqa: E402

_q.load_all()


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark("stageprof")
    spark.sparkContext.setLogLevel("FATAL")
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    # warmup (bench parity)
    _q.QUERIES[name](spark, "/root/testdata/sf0.001").write.format("noop").mode(
        "overwrite"
    ).save()

    def jobs():
        with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/jobs") as r:
            return json.load(r)

    def stages():
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
        ) as r:
            return json.load(r)

    before_jobs = {j["jobId"] for j in jobs()}
    spark.sparkContext.setJobDescription(f"prof:{name}")
    t0 = time.monotonic()
    _q.QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    wall = time.monotonic() - t0
    time.sleep(0.5)
    new_jobs = [j for j in jobs() if j["jobId"] not in before_jobs]
    new_stage_ids = {s for j in new_jobs for s in j.get("stageIds", [])}
    st = [s for s in stages() if s["stageId"] in new_stage_ids]
    print(f"wall={wall:.3f}s jobs={len(new_jobs)} stages={len(st)}")
    from datetime import datetime

    def ts(s):
        return datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").timestamp()

    tmin = min(ts(j["submissionTime"]) for j in new_jobs)
    for j in sorted(new_jobs, key=lambda j: j["jobId"]):
        sub = ts(j["submissionTime"]) - tmin
        dur = ts(j["completionTime"]) - ts(j["submissionTime"])
        print(
            f"job {j['jobId']:>4} +{sub:6.2f}s dur={dur:6.3f}s "
            f"stages={len(j.get('stageIds', []))} {j.get('description','')[:60]}"
        )
    for s in sorted(st, key=lambda s: -(s.get("executorRunTime", 0))):
        sub = (ts(s["firstTaskLaunchedTime"]) - tmin) if s.get("firstTaskLaunchedTime") else -1
        wall_s = (
            ts(s["completionTime"]) - ts(s["submissionTime"])
            if s.get("completionTime") and s.get("submissionTime")
            else -1
        )
        print(
            f"  stage {s['stageId']:>4} +{sub:6.2f}s wall={wall_s:6.3f}s "
            f"tasks={s['numCompleteTasks']:>3} run={s['executorRunTime']/1e3:7.3f}s "
            f"cpu={s.get('executorCpuTime',0)/1e9:7.3f}s "
            f"shW={s.get('shuffleWriteBytes',0)>>10}K shR={s.get('shuffleReadBytes',0)>>10}K "
            f"{(s.get('description') or s['name'])[:110]}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
