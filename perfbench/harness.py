"""Session set-up, call timing and the traced mode shared by the workloads.

A workload drives the engine through its public functions and wraps each
call in :meth:`Recorder.call`.  Untraced, that only times the call.
Traced, it also records a span tree (kept in memory, written out at the
end of the run) and reads per-layer figures at the call's boundaries:
py4j round trips and Spark jobs while the DataFrame is being built,
Catalyst phase times and plan-node counts of the executed plan, and
stage metrics of the call's jobs from the Spark UI's REST API.
"""

from __future__ import annotations

import json
import math
import os
import re
import shlex
import statistics
import tempfile
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")

#: Spark task slots (fewer than this host's 4 cores), shuffle partitions
#: and driver heap are fixed here, not taken from the session defaults
SLOTS = 3
SHUFFLE_PARTITIONS = 6
DRIVER_MEM = "2g"

MB = 1024.0 * 1024.0


def start_spark(work: str):
    """One SparkSession per run, with every scratch directory inside the
    run's work directory (removed by :func:`stop_spark`)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # -XX:-UsePerfData: each JVM (spark-submit's launcher too) would
    # otherwise keep a file in /tmp while it runs
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.local.dir={local}"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        "--driver-java-options", shlex.quote(java_opts), "pyspark-shell",
    ])
    from overturemaps_duckdb_spark.session import get_spark

    spark = get_spark(
        "perfbench", cpus=SLOTS, shuffle_partitions=SHUFFLE_PARTITIONS
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM the session started and wait
    for it (its Python workers end with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may already be gone
            pass
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


# ---------------------------------------------------------------------------
# timing + tracing
# ---------------------------------------------------------------------------

#: per-layer metric -> unit, in BENCHMARK.json order
LAYER_METRICS = {
    "construct.ms": "ms", "construct.py4j_calls": "count", "construct.jobs": "count",
    "catalyst.ms": "ms", "plan.exchanges": "count", "plan.broadcasts": "count",
    "plan.scans": "count", "plan.python_nodes": "count",
    "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms",
    "exec.gc_ms": "ms", "exec.input_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "kernel.stem_us": "us", "kernel.geo_us": "us", "kernel.translate_us": "us",
    "cache.persisted_rdds": "count", "cache.mb": "MB", "cache.repeat_input_mb": "MB",
    "ingest.files_scanned": "count", "ingest.files_pruned": "count",
    "ingest.rows": "count", "ingest.files_written": "count",
    "ingest.mb_written": "MB", "ingest.reuse_ms": "ms",
}

_SCAN_RE = re.compile(r"(FileScan|InMemoryTableScan|Scan ExistingRDD|LocalTableScan|Scan OneRowRelation|Scan \w+)")
_PY_RE = re.compile(r"(EvalPython|InPandas|InArrow|PythonUDTF)")


def plan_counts(plan: str) -> dict:
    """Node counts of an executed plan string (final AQE plan only)."""
    plan = plan.split("== Initial Plan ==")[0]
    lines = plan.splitlines()
    return {
        "plan.exchanges": sum(1 for ln in lines if re.search(r"\bExchange\b", ln)
                              and "BroadcastExchange" not in ln
                              and "ReusedExchange" not in ln),
        "plan.broadcasts": sum(1 for ln in lines if "BroadcastExchange" in ln),
        "plan.scans": sum(1 for ln in lines if _SCAN_RE.search(ln)),
        "plan.python_nodes": sum(1 for ln in lines if _PY_RE.search(ln)),
    }


class Recorder:
    """Times public calls; with ``tracer`` set, also traces them."""

    def __init__(self):
        self.tracer: Tracer | None = None
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.rounds: list[float] = []
        self.attempted = 0
        self.timing = False  # samples are kept only inside the timed loop

    @contextmanager
    def call(self, cls: str, label: str = "", repeat: bool = False):
        """Time one public call of op class ``cls``; ``repeat`` marks a
        call over tables an earlier call of the run already read."""
        op = self.tracer.begin(cls, label, repeat) if self.tracer else None
        t0 = time.perf_counter()
        try:
            yield op
        finally:
            ms = (time.perf_counter() - t0) * 1e3
            if self.timing:
                self.samples[cls].append(ms)
                self.attempted += 1
            if self.tracer:
                self.tracer.end(op, ms, keep=self.timing)

    @contextmanager
    def phase(self, name: str):
        """A construct (``construct``) or execute (``exec``) phase inside a
        call; a no-op when untraced."""
        if self.tracer is None:
            yield
            return
        with self.tracer.phase(name):
            yield

    def executed(self, df) -> None:
        """Hand the DataFrame a call just executed to the tracer."""
        if self.tracer is not None:
            self.tracer.executed(df)

    def e2e(self) -> dict:
        meds = [median(v) for v in self.samples.values()]
        return {
            "call_ms": geomean(meds),
            "round_s": median(self.rounds),
        }


class Tracer:
    """Spans and per-layer counters of a traced run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.app = self.sc.applicationId
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self.api = f"http://localhost:{port}/api/v1/applications/{self.app}"
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.ops: list[dict] = []
        self.cur: dict | None = None
        self.phase_name = "exec"
        self.py4j_calls = 0
        self.main = threading.get_ident()
        self.t0 = time.perf_counter()
        self._count_py4j()

    # -- py4j round trips ------------------------------------------------

    def _count_py4j(self) -> None:
        client = self.sc._gateway._gateway_client
        orig = client.send_command
        tracer = self

        def send_command(command, *a, **kw):
            # the garbage collector's detach messages ("m\nd\n...") come
            # from py4j's finalizer thread and are not the caller's work
            if (tracer.phase_name == "construct"
                    and threading.get_ident() == tracer.main
                    and not command.startswith("m\nd\n")):
                tracer.py4j_calls += 1
            return orig(command, *a, **kw)

        client.send_command = send_command

    # -- spans -------------------------------------------------------------

    def _open(self, name: str, op_id: int | None) -> int:
        parent = self.stack[-1] if self.stack else None
        self.spans.append({"name": name, "op": op_id, "parent": parent,
                           "start": time.perf_counter() - self.t0, "end": None})
        self.stack.append(len(self.spans) - 1)
        return self.stack[-1]

    def _close(self, idx: int) -> None:
        self.spans[idx]["end"] = time.perf_counter() - self.t0
        self.stack.remove(idx)

    @contextmanager
    def span(self, name: str):
        idx = self._open(name, self.cur["id"] if self.cur else None)
        try:
            yield
        finally:
            self._close(idx)

    # -- ops ---------------------------------------------------------------

    def _group(self) -> None:
        op = self.cur
        suffix = "c" if self.phase_name == "construct" else "x"
        self.sc.setJobGroup(f"op{op['id']}-{suffix}", op["cls"])

    def begin(self, cls: str, label: str, repeat: bool) -> dict:
        op = {"id": len(self.ops), "cls": cls, "label": label,
              "construct_ms": 0.0, "construct_py4j": 0, "dfs": [],
              "ingest": defaultdict(float), "repeat": repeat}
        self.ops.append(op)
        self.cur = op
        self.phase_name = "exec"
        self._group()
        op["span"] = self._open(cls, op["id"])
        return op

    @contextmanager
    def phase(self, name: str):
        prev = self.phase_name
        self.phase_name = name
        self._group()
        idx = self._open(name, self.cur["id"])
        calls0 = self.py4j_calls
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if name == "construct":
                self.cur["construct_ms"] += (time.perf_counter() - t0) * 1e3
                self.cur["construct_py4j"] += self.py4j_calls - calls0
            self._close(idx)
            self.phase_name = prev
            self._group()

    def executed(self, df) -> None:
        self.cur["dfs"].append(df)

    def end(self, op: dict, ms: float, keep: bool) -> None:
        self._close(op["span"])
        self.phase_name = "exec"
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.cur = None
        op["ms"] = ms
        op["keep"] = keep
        self._collect(op)
        op.pop("dfs")

    # -- per-op figures ----------------------------------------------------

    def _get(self, path: str):
        with urllib.request.urlopen(self.api + path, timeout=30) as r:
            return json.loads(r.read())

    def _collect(self, op: dict) -> None:
        jvm_sc = self.sc._jsc.sc()
        jvm_sc.listenerBus().waitUntilEmpty()
        m = defaultdict(float)
        catalyst = 0.0
        for df in op["dfs"]:
            qe = df._jdf.queryExecution()
            phases = qe.tracker().phases()
            for p in ("analysis", "optimization", "planning"):
                opt = phases.get(p)
                if opt.isDefined():
                    catalyst += opt.get().durationMs()
            for k, v in plan_counts(qe.executedPlan().toString()).items():
                m[k] += v
        m["catalyst.ms"] = catalyst
        m["construct.ms"] = op["construct_ms"]
        m["construct.py4j_calls"] = op["construct_py4j"]
        m["exec.ms"] = max(op["ms"] - op["construct_ms"], 0.0)
        groups = {f"op{op['id']}-c": "construct.jobs", f"op{op['id']}-x": "exec.jobs"}
        stage_ids = []
        for job in self._get("/jobs"):
            key = groups.get(job.get("jobGroup"))
            if key is None:
                continue
            m[key] += 1
            if key == "exec.jobs":
                stage_ids.extend(job.get("stageIds", []))
        for sid in sorted(set(stage_ids)):
            for att in self._get(f"/stages/{sid}?details=false"):
                if att.get("status") != "COMPLETE":
                    continue
                m["exec.stages"] += 1
                m["exec.tasks"] += att.get("numCompleteTasks", 0)
                m["exec.task_run_ms"] += att.get("executorRunTime", 0)
                m["exec.task_cpu_ms"] += att.get("executorCpuTime", 0) / 1e6
                m["exec.gc_ms"] += att.get("jvmGcTime", 0)
                m["exec.input_mb"] += att.get("inputBytes", 0) / MB
                m["exec.shuffle_write_mb"] += att.get("shuffleWriteBytes", 0) / MB
                m["exec.shuffle_read_mb"] += att.get("shuffleReadBytes", 0) / MB
                m["exec.spill_mb"] += (att.get("diskBytesSpilled", 0)
                                       + att.get("memoryBytesSpilled", 0)) / MB
        m["cache.repeat_input_mb"] = m["exec.input_mb"] if op["repeat"] else 0.0
        m["cache.persisted_rdds"] = self.sc._jsc.getPersistentRDDs().size()
        # memory + disk held by cached blocks, as the UI's storage page shows
        m["cache.mb"] = sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0)
                            for r in self._get("/storage/rdd")) / MB
        for k, v in op["ingest"].items():
            m[k] = v
        op["metrics"] = dict(m)

    # -- summaries -----------------------------------------------------------

    def self_times(self) -> dict:
        """Self time per span name: duration minus the part of the span's
        interval its children cover."""
        children = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                children[s["parent"]].append(i)
        out = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            ivs = sorted((self.spans[c]["start"], self.spans[c]["end"])
                         for c in children[i] if self.spans[c]["end"] is not None)
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in ivs:
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["name"]] += (s["end"] - s["start"] - covered) * 1e3
        return dict(out)

    def layer_metrics(self, kernels: dict) -> dict:
        """Per-layer metrics of the timed calls: the mean per call, except
        the ingest figures (mean per fresh theme load, and the mean latency
        of snapview-served loads) and the kernels."""
        kept = [o for o in self.ops if o.get("keep")]
        out = {}
        for name in LAYER_METRICS:
            if name.startswith("kernel."):
                out[name] = kernels[name]
            elif name == "ingest.reuse_ms":
                reuse = [o["ms"] for o in kept if o["cls"] == "reuse"]
                out[name] = statistics.mean(reuse) if reuse else 0.0
            elif name.startswith("ingest."):
                loads = [o["metrics"] for o in kept if o["cls"] == "load"]
                n = sum(m.get("ingest.loads", 0.0) for m in loads)
                out[name] = sum(m.get(name, 0.0) for m in loads) / n if n else 0.0
            else:
                vals = [o["metrics"].get(name, 0.0) for o in kept]
                out[name] = statistics.mean(vals) if vals else 0.0
        return out

    def by_class(self) -> dict:
        kept = [o for o in self.ops if o.get("keep")]
        classes = defaultdict(list)
        for o in kept:
            classes[o["cls"]].append(o)
        out = {}
        for cls, ops in classes.items():
            keys = sorted({k for o in ops for k in o["metrics"]})
            out[cls] = {"calls": len(ops),
                        "ms": statistics.mean(o["ms"] for o in ops),
                        **{k: statistics.mean(o["metrics"].get(k, 0.0) for o in ops)
                           for k in keys}}
        return out

    def write(self, path: str, extra: dict) -> dict:
        summary = {"self_ms": self.self_times(), "by_class": self.by_class(), **extra}
        os.makedirs(os.path.dirname(path), exist_ok=True)
        ops = [{k: v for k, v in o.items() if k not in ("span",)} for o in self.ops]
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": ops, "summary": summary}, f,
                      default=float)
        return summary


def wrap(module, name: str, span_name: str, tracer: Tracer, after=None):
    """Replace ``module.name`` by a function recording a span around it
    (traced runs only).  ``after(result, args, kwargs)`` may add per-op
    figures."""
    orig = getattr(module, name)

    def traced(*args, **kwargs):
        if tracer.cur is None:
            return orig(*args, **kwargs)
        with tracer.span(span_name):
            out = orig(*args, **kwargs)
        if after is not None:
            after(out, args, kwargs)
        return out

    setattr(module, name, traced)
    return orig


def time_per_item(fn, items, min_s: float = 0.2) -> float:
    """Microseconds per item of ``fn`` over ``items``, repeated until at
    least ``min_s`` seconds were measured."""
    reps, elapsed = 0, 0.0
    while elapsed < min_s:
        t0 = time.perf_counter()
        fn(items)
        elapsed += time.perf_counter() - t0
        reps += 1
    return elapsed / (reps * len(items)) * 1e6


def grid_points(keys) -> tuple:
    """Integer ids as points on the explore themes' 1/64-degree grid."""
    import numpy as np

    keys = np.asarray(keys)
    return (keys % 1024) / 64.0, 40.0 + (keys // 1024 % 1024) / 64.0


def kernel_times(tokens: list[str], points: tuple, statements: list[str]) -> dict:
    """Per-item cost of the engine's Python kernels, called directly on a
    workload's own inputs: ``porter_stem`` per token, ``st_point`` +
    ``st_geometrytype`` (the pandas functions behind the UDFs) per
    ``(lon, lat)`` point and ``compat.translate`` per SQL statement."""
    import pandas as pd

    from overturemaps_duckdb_spark.compat import translate
    from overturemaps_duckdb_spark.functions.geo import st_geometrytype, st_point
    from overturemaps_duckdb_spark.functions.stem import porter_stem

    lon, lat = pd.Series(points[0]), pd.Series(points[1])

    def geo(_):
        st_geometrytype.func(st_point.func(lon, lat))

    return {
        "kernel.stem_us": time_per_item(lambda ws: [porter_stem(w) for w in ws], tokens),
        "kernel.geo_us": time_per_item(geo, lon),
        "kernel.translate_us": time_per_item(
            lambda ss: [translate(q) for q in ss], statements),
    }
