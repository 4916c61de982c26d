"""The repo benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload window_stream --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics with no instrumentation
installed. ``--trace 1`` installs the timing wrappers, a progress
listener and Spark's event log, and reports the per-layer metrics; a
layer that the chosen workload does not run reports 0. The metric names
and units are those of ``BENCHMARK.json`` at the repo root. The last line
of standard output is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

and the line before it names the workload's figures as the engine's
documents call them (``window_latency_p50_ms`` and so on).

``--workload all`` runs every workload untraced and then traced, each in
its own process, and prints each result plus the tracing overhead
(traced minus untraced end-to-end figures).

Everything a run writes goes under ``.perfbench_work/`` at the repo root
and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("window_stream", "dedup_ingest", "batch_queries")


def _metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def _isolate(work: str) -> None:
    """Point every scratch location of Python, the JVM and the engine into
    ``work``; must run before pyspark or the engine is imported."""
    for sub in ("tmp", "local", "scratch", "mb"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["MINIBATCH_SPARK_SCRATCH"] = os.path.join(work, "scratch")
    os.environ["MINIBATCH_SPARK_DIR"] = os.path.join(work, "mb")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]


def _stop_active() -> None:
    try:
        from pyspark.sql import SparkSession

        import common

        spark = SparkSession.getActiveSession()
        if spark is not None:
            common.stop_spark(spark)
    except Exception:
        traceback.print_exc()


def run_one(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    specs = _metric_specs()
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _isolate(work)
    sys.path[:0] = [HERE, ROOT]
    try:
        import common

        mod = __import__(workload)
        res = mod.run(work, seed, seconds, trace)
        host = common.host_info()
        common.stop_spark(res.pop("spark"))
        if trace:
            after = res.pop("after_stop", None)
            if after is not None:
                folded = common.fold_event_log(os.path.join(work, "eventlog"))
                res["layers"].update(after(folded))
    finally:
        _stop_active()
        shutil.rmtree(work, ignore_errors=True)

    if trace:
        prefix = workload + "."
        metrics = {}
        for name, unit in specs["per_layer"].items():
            if name.startswith(prefix):
                value = res["layers"][name[len(prefix):]]
            else:
                value = 0  # a layer this workload does not run
            metrics[name] = {"value": float(value), "unit": unit}
    else:
        metrics = {
            name: {"value": float(res["e2e"][name]), "unit": unit}
            for name, unit in specs["end_to_end"].items()
        }
    for e in res["errors"]:
        print(f"perfbench {workload}: {e}", file=sys.stderr)
    return {
        "info": {
            "workload": workload,
            "seed": seed,
            "seconds": seconds,
            "trace": int(trace),
            "host": host,
            "e2e": res["e2e"],
            "named": res["named"],
        },
        "result": {
            "correct": res["failed"] == 0,
            "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": metrics,
        },
    }


def run_all(seed: int, seconds: int) -> int:
    """Every workload untraced then traced, each in its own process; prints
    every end-to-end figure by name and unit, attempted/failed per workload
    and the tracing overhead."""
    specs = _metric_specs()
    summary = {}
    for w in WORKLOADS:
        lines = {}
        for trace in (0, 1):
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", w,
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                stdout=subprocess.PIPE, text=True,
            )
            if p.returncode != 0:
                print(f"{w} trace={trace}: exit {p.returncode}", file=sys.stderr)
                return p.returncode
            out = p.stdout.strip().splitlines()
            lines[trace] = (json.loads(out[-2]), json.loads(out[-1]))
        info0, res0 = lines[0]
        info1, res1 = lines[1]
        summary[w] = {
            "attempted": res0["attempted"],
            "failed": res0["failed"],
            "correct": res0["correct"] and res1["correct"],
            "end_to_end": res0["metrics"],
            "named": info0["named"],
            # every figure the workload times, bounded (end-to-end) or
            # reported per layer (the latencies)
            "trace_overhead": {
                k: {
                    "value": info1["e2e"][k] - info0["e2e"][k],
                    "unit": specs["end_to_end"].get(k) or specs["per_layer"][f"{w}.{k}"],
                }
                for k in info0["e2e"]
            },
            "per_layer": {k: v for k, v in res1["metrics"].items() if k.startswith(w + ".")},
        }
        print(json.dumps({w: summary[w]}), flush=True)
    print(json.dumps({"host": info0["host"], "seed": seed, "workloads": summary}))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "minibatch_spark", "session.py")):
        print("perfbench: the engine sources (minibatch_spark/) are not next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    if a.workload == "all":
        return run_all(a.seed, a.seconds)
    t = time.perf_counter()
    try:
        out = run_one(a.workload, a.seed, a.seconds, bool(a.trace))
    except Exception:
        traceback.print_exc()
        return 1
    out["info"]["wall_s"] = time.perf_counter() - t
    print(json.dumps(out["info"]))
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
