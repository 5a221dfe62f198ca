#!/usr/bin/env python3
"""The repo's benchmark: one closed-loop workload per run, one client,
one SparkSession.

    python3 perfbench/run.py --workload explore --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Inputs are generated from ``--seed``
(cached under ``.perfbench/data``), the session is warmed up untimed,
then whole rounds of the workload run until ``--seconds`` have passed.
The outputs of the timed rounds are checked afterwards, and the last line
of stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics untraced, the per-layer metrics with
``--trace 1``; spans and a per-layer self-time summary then go to
``.perfbench/traces``).  See perfbench/README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT]

UNITS = {"setup_s": "s", "call_ms": "ms", "round_s": "s"}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["explore", "corpus", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    try:
        import overturemaps_duckdb_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "tools", "make_scaled_fixture.py")):
        print("perfbench: tools/make_scaled_fixture.py is missing", file=sys.stderr)
        return 2

    from perfbench import analytics, corpus, explore, harness

    mod = {"explore": explore, "corpus": corpus, "analytics": analytics}[args.workload]
    g0 = time.perf_counter()
    files = mod.inputs(os.path.join(harness.STATE, "data"), args.seed, ROOT)
    gen_s = time.perf_counter() - g0

    work = os.path.join(harness.STATE, "work", f"{args.workload}-{os.getpid()}")
    rec = harness.Recorder()
    spark = harness.start_spark(work)
    try:
        w = mod.Workload(spark, files, args.seed, rec, work)
        w.setup()
        setup_s = time.perf_counter() - T0 - gen_s
        tracer = None
        if args.trace:
            tracer = harness.Tracer(spark)
            rec.tracer = tracer
            w.install_tracing(tracer)
        w.log.clear()  # the checks cover the timed calls
        rec.timing = True
        end = time.perf_counter() + args.seconds
        while True:
            r0 = time.perf_counter()
            w.round()
            rec.rounds.append(time.perf_counter() - r0)
            if time.perf_counter() >= end:
                break
            if getattr(w, "exhausted", lambda: False)():
                print("perfbench: inputs exhausted before --seconds", file=sys.stderr)
                break
        rec.timing = False
        errors = w.check()
        if tracer is not None:
            layer = tracer.layer_metrics(w.kernels())
            path = os.path.join(harness.STATE, "traces",
                                f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
            summary = tracer.write(path, {"layer": layer})
            print(f"perfbench: spans written to {path}", file=sys.stderr)
            for name, ms in sorted(summary["self_ms"].items(), key=lambda kv: -kv[1]):
                print(f"  self {name:32s} {ms:10.1f} ms", file=sys.stderr)
    finally:
        harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for e in errors:
        print(f"perfbench: CHECK FAILED {e}", file=sys.stderr)
    if args.trace:
        metrics = {k: {"value": v, "unit": harness.LAYER_METRICS[k]} for k, v in layer.items()}
    else:
        values = {"setup_s": setup_s, **rec.e2e()}
        metrics = {k: {"value": values[k], "unit": UNITS[k]} for k in UNITS}
    for cls, ms in rec.samples.items():
        print(f"  {cls:28s} {len(ms):4d} calls  median {harness.median(ms):9.1f} ms",
              file=sys.stderr)
    print(f"perfbench: {args.workload} seed {args.seed}: {rec.attempted} calls in "
          f"{len(rec.rounds)} rounds of " + ", ".join(f"{r:.2f}" for r in rec.rounds)
          + f" s; inputs {gen_s:.1f} s", file=sys.stderr)
    # a call that raises ends the run without a result, so none failed here
    print(json.dumps({"correct": not errors, "attempted": rec.attempted,
                      "failed": 0, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
