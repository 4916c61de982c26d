"""Helpers shared by the perfbench workloads: host facts, the host-sized
Spark session, percentile rules, peak RSS, the event-log fold, the
per-batch progress listener and the oracle comparison.

Nothing here starts a thread, a process or a JVM at import time; the
workload modules call these from ``run.py``. ``run.py`` runs exactly one
workload per Python process, so process-lifetime figures (peak RSS) belong
to that workload alone.
"""

from __future__ import annotations

import glob
import json
import os
import platform
import statistics
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Spark sets these on every job a streaming micro-batch runs
# (StreamExecution.BATCH_ID_KEY / QUERY_ID_KEY).
BATCH_ID_KEY = "streaming.sql.batchId"
QUERY_ID_KEY = "sql.streaming.queryId"
JOB_DESC_KEY = "spark.job.description"


def config() -> dict:
    """The benchmark's fixed constants (rates, sizes, repetitions)."""
    with open(os.path.join(HERE, "config.json")) as f:
        return json.load(f)


# -- host ----------------------------------------------------------------


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb(total_mb: int) -> int:
    """Driver heap from the machine's RAM: a sixth of MemTotal, kept
    between 1 and 4 GiB, so the JVM never claims memory the host lacks
    (the engine's fixed 16g default does not fit a 15 GB host)."""
    return max(1024, min(4096, total_mb // 6))


def host_info() -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "driver_memory_mb": driver_memory_mb(mem_total_mb()),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


# -- session -------------------------------------------------------------


def start_spark(work: str, app: str, trace: bool):
    """The engine session through ``session.get_spark`` at local[nproc],
    with every scratch path inside ``work``. ``trace`` turns on Spark's
    event log (uncompressed, so the fold below reads it as JSON lines)."""
    from minibatch_spark.session import get_spark

    n = nproc()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": f"{driver_memory_mb(mem_total_mb())}m",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        # keep every progress event of a run on the query object
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(
        app_name=app, master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session and wait for the gateway JVM to exit (it exits when
    its stdin pipe closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except Exception:
            proc.kill()
            proc.wait(timeout=timeout)


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this Python driver plus the gateway JVM, MiB.
    Read while the JVM is still running."""
    from pyspark import SparkContext

    kb = _vm_hwm_kb("self")
    gateway = SparkContext._gateway
    if gateway is not None and gateway.proc is not None:
        kb += _vm_hwm_kb(gateway.proc.pid)
    return kb / 1024.0


# -- statistics ----------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, pct: float) -> float:
    """Nearest-rank percentile (pct in 0..100)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-pct * len(s) // 100)) - 1))
    return float(s[k])


def tail(xs, beyond: int = 10) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has at
    least ``beyond`` samples above it. When that percentile would sit below
    the median (fewer than 2*beyond+1 samples) the sample holds no tail,
    and the maximum is reported as percentile 100."""
    if not xs:
        return 0.0, 0.0
    s = sorted(xs)
    n = len(s)
    k = n - 1 - beyond
    if k < n // 2:
        return float(s[-1]), 100.0
    return float(s[k]), 100.0 * (k + 1) / n


def slope(ys) -> float:
    """Least-squares slope of ys against their index."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2.0
    my = sum(ys) / n
    num = sum((i - mx) * (y - my) for i, y in enumerate(ys))
    den = sum((i - mx) ** 2 for i in range(n))
    return num / den


# -- tracing: progress listener and event log -------------------------------


def _epoch(iso: str) -> float:
    """Epoch seconds of a progress event's ISO-8601 UTC timestamp."""
    from datetime import datetime, timezone

    return (
        datetime.fromisoformat(iso.rstrip("Z"))
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def progress_listener():
    """A StreamingQueryListener that keeps every progress event in memory,
    keyed by query id, each with its trigger start as epoch seconds
    (created lazily: the base class needs pyspark)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def __init__(self):
            self.events: dict[str, list[dict]] = defaultdict(list)

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.events[str(p.id)].append(
                {
                    "start": _epoch(p.timestamp),
                    "batchId": p.batchId,
                    "numInputRows": p.numInputRows,
                    "durationMs": dict(p.durationMs),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()


def _event_lines(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isdir(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def fold_event_log(log_dir: str) -> dict:
    """Fold Spark's event log into per-job rows.

    Returns {"jobs": {job_id: {"desc", "batch", "query", "stages",
    "tasks", "run_ms", "gc_ms", "input_bytes", "shuffle_bytes",
    "spill_bytes"}}}, where ``stages``/``tasks`` count completed stages and
    ended tasks. Shuffle bytes are bytes read by shuffles (local + remote).
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for ev in _event_lines(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "desc": props.get(JOB_DESC_KEY),
                "batch": props.get(BATCH_ID_KEY),
                "query": props.get(QUERY_ID_KEY),
                "stages": 0,
                "tasks": 0,
                "run_ms": 0,
                "gc_ms": 0,
                "input_bytes": 0,
                "shuffle_bytes": 0,
                "spill_bytes": 0,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_job:
                jobs[stage_job[sid]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if jid is None or not m:
                continue
            j = jobs[jid]
            sr = m.get("Shuffle Read Metrics") or {}
            j["tasks"] += 1
            j["run_ms"] += m.get("Executor Run Time", 0)
            j["gc_ms"] += m.get("JVM GC Time", 0)
            j["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            j["shuffle_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            j["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return {"jobs": jobs}


def jobs_per_batch(folded: dict, query_id: str, batches=None) -> float:
    """Median number of Spark jobs per micro-batch of one streaming query,
    over ``batches`` (batch ids) when given."""
    per: dict[int, int] = defaultdict(int)
    for j in folded["jobs"].values():
        if j["query"] == query_id and j["batch"] is not None:
            b = int(j["batch"])
            if batches is None or b in batches:
                per[b] += 1
    return median(list(per.values()))


# -- oracle comparison ---------------------------------------------------


def frames_mismatch(got, want, name: str) -> str | None:
    """Exact, order-insensitive comparison of two pandas frames through
    the repo's differential-test comparator (``tests/oracle_util``).
    Returns None on a match, else the mismatch message."""
    from tests.oracle_util import assert_frames_match

    try:
        assert_frames_match(got, want, name)
    except AssertionError as e:
        return str(e) or f"{name}: mismatch"
    return None
