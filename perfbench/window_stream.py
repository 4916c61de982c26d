"""``window_stream``: a reference-parity ``CountWindow`` over a stream fed by
a separate open-loop producer process (``producer.py``).

Phases:

* set-up: session start, warm-up drains of a small in-process stream
  (repeated, median taken), then the producer writes the backlog;
* catch-up: the emitter starts on the default trigger and drains the
  backlog; ``throughput_per_s`` is backlog rows over the time from emitter
  start to receipt of the window holding the last backlog row;
* live: the producer appends at the fixed rate for a short lead-in plus
  ``--seconds``; for each window whose rows fall after the lead-in, its
  latency is its receipt time minus the due time of its newest row
  (``Window.query[1]``).

Every produced row index must be emitted exactly once, in windows of
exactly ``size`` consecutive rows; each window that breaks this is a
failed operation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from datetime import datetime, timezone

import common
from producer import utc

STREAM = "bench"


def _due(iso: str) -> float:
    return datetime.fromisoformat(iso).replace(tzinfo=timezone.utc).timestamp()


class _Receiver:
    """The emit fn: records (receipt time, newest-row due time, row ids)
    and signals when a target row count has been received."""

    def __init__(self):
        self.windows: list[tuple[float, float, list[int]]] = []
        self.rows = 0
        self.target = None
        self.reached = threading.Event()
        self._lock = threading.Lock()  # emit fn runs on Spark's callback thread

    def expect(self, rows: int) -> None:
        with self._lock:
            self.target = rows
            if self.rows >= rows:
                self.reached.set()
            else:
                self.reached.clear()

    def __call__(self, win):
        t = time.time()
        ids = [d["i"] for d in win.data]
        due = _due(win.query[1])
        with self._lock:
            self.windows.append((t, due, ids))
            self.rows += len(ids)
            if self.target is not None and self.rows >= self.target:
                self.reached.set()


def _warm_up(spark, base: str, rep: int, rows: int, size: int) -> float:
    from minibatch_spark.streaming.models import Stream
    from minibatch_spark.streaming.window import CountWindow

    t = time.perf_counter()
    s = Stream(f"warm{rep}", base_dir=base, batchsize=size)
    now = time.time()
    for i in range(rows):
        s.append({"i": i, "k": "k000", "v": 0.0}, created=utc(now + i * 1e-6))
    s.flush()
    got = _Receiver()
    CountWindow(s, emitfn=got, size=size).run(spark, available_now=True)
    if got.rows != rows:
        raise RuntimeError(f"warm-up emitted {got.rows} of {rows} rows")
    return time.perf_counter() - t


def _check(windows, n_rows: int, size: int) -> tuple[int, int, list[str]]:
    """(attempted, failed, errors): window k must hold exactly the row ids
    k*size .. (k+1)*size-1, each produced row exactly once."""
    attempted = n_rows // size
    errors = []
    for k, (_, _, ids) in enumerate(windows):
        if sorted(ids) != list(range(k * size, (k + 1) * size)):
            errors.append(f"window {k}: {len(ids)} rows, ids {min(ids)}..{max(ids)}")
    failed = len(errors)
    if len(windows) != attempted:
        errors.append(f"{len(windows)} windows emitted, {attempted} expected")
        failed += abs(attempted - len(windows))
    return attempted, min(attempted, failed), errors


def run(work: str, seed: int, seconds: int, trace: bool) -> dict:
    from minibatch_spark.streaming.models import Stream
    from minibatch_spark.streaming.window import CountWindow

    cfg = common.config()["window_stream"]
    size, batchsize = cfg["size"], cfg["producer_batchsize"]
    backlog, rate = cfg["backlog_rows"], cfg["live_rate_rows_per_s"]
    lead_in = cfg["live_lead_in_s"]
    live_rows = int(rate * (lead_in + seconds)) // size * size
    n_rows = backlog + live_rows

    t = time.perf_counter()
    spark = common.start_spark(work, "perfbench-window_stream", trace)
    session_s = time.perf_counter() - t
    warm_s = [
        _warm_up(spark, os.path.join(work, "warm"), r, cfg["warm_rows"], size)
        for r in range(cfg["warm_reps"])
    ]

    base = os.path.join(work, "streams")
    t = time.perf_counter()
    prod = subprocess.Popen(
        [
            sys.executable,
            os.path.join(common.HERE, "producer.py"),
            "--base-dir", base,
            "--stream", STREAM,
            "--seed", str(seed),
            "--backlog", str(backlog),
            "--live-rows", str(live_rows),
            "--rate", str(rate),
            "--batchsize", str(batchsize),
            "--trace", str(int(trace)),
        ],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        line = prod.stdout.readline()
        if not line:
            raise RuntimeError("producer exited before writing the backlog")
        backlog_s = time.perf_counter() - t
        setup_s = session_s + common.median(warm_s) + backlog_s

        listener = None
        if trace:
            listener = common.progress_listener()
            spark.streams.addListener(listener)
        emitter_cls = CountWindow
        split_timer = None
        if trace:
            split_timer = []

            class TracedCountWindow(CountWindow):
                def split(self, rows, final):
                    t = time.perf_counter()
                    try:
                        return super().split(rows, final)
                    finally:
                        split_timer.append((time.perf_counter() - t) * 1e3)

            emitter_cls = TracedCountWindow

        got = _Receiver()
        got.expect(backlog)
        stream = Stream(STREAM, base_dir=base, batchsize=batchsize)
        emitter = emitter_cls(stream, emitfn=got, size=size)
        t_start = time.time()
        emitter.run(spark, blocking=False)
        if not got.reached.wait(120):
            raise RuntimeError(f"catch-up stalled at {got.rows} of {backlog} rows")
        t_caught = got.windows[-1][0]
        catchup_windows = len(got.windows)

        got.expect(n_rows)
        prod.stdin.write("live\n")
        prod.stdin.flush()
        stats = json.loads(prod.stdout.readline())
        t_prod_done = time.time()
        emitted_at_end = got.rows
        done = got.reached.wait(60)
        qid = str(emitter._query.id)
        emitter.stop()
        if not done:
            raise RuntimeError(f"live phase stalled at {got.rows} of {n_rows} rows")
        rss = common.peak_rss_mb()
    finally:
        if prod.stdin and not prod.stdin.closed:
            prod.stdin.close()
        try:
            prod.wait(timeout=30)
        except subprocess.TimeoutExpired:
            prod.kill()
            prod.wait()

    attempted, failed, errors = _check(got.windows, n_rows, size)
    # the first ``lead_in`` seconds of the live phase settle the trigger
    # cadence after catch-up; latency is measured on the windows after it
    measured_from = stats["live_start"] + lead_in
    live = [w for w in got.windows[catchup_windows:] if w[1] >= measured_from]
    lat_ms = [(tr - due) * 1e3 for tr, due, _ in live]
    tail_ms, tail_pct = common.tail(lat_ms)
    lateness_p99 = common.percentile(stats["lateness_ms"], 99)
    if lateness_p99 > cfg["max_lateness_p99_ms"]:
        # the generator missed its schedule: the run did not offer the rate
        failed += 1
        errors.append(f"producer lateness p99 {lateness_p99:.1f} ms")
    e2e = {
        "setup_s": setup_s,
        "peak_rss_mb": rss,
        "throughput_per_s": backlog / (t_caught - t_start),
        "latency_p50_ms": common.median(lat_ms),
        "latency_tail_ms": tail_ms,
    }
    named = {
        "window_catchup_rows_per_s": e2e["throughput_per_s"],
        "window_latency_p50_ms": e2e["latency_p50_ms"],
        "window_latency_tail_ms": tail_ms,
        "window_latency_tail_pct": tail_pct,
        "live_windows": len(lat_ms),
        "session_s": session_s,
        "warm_s": common.median(warm_s),
        "backlog_s": backlog_s,
        "producer.lateness_ms_p99": lateness_p99,
    }
    out = {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "e2e": e2e,
        "named": named,
        "spark": spark,
    }
    if not trace:
        return out

    events = listener.events[qid]
    data = [p for p in events if p["numInputRows"] > 0]
    catch = [p for p in data if p["start"] < t_caught]
    live_b = [
        p for p in events if stats["live_start"] <= p["start"] <= t_prod_done
    ]
    live_data = [p for p in live_b if p["numInputRows"] > 0]

    def d(ps, key):
        return [p["durationMs"].get(key, 0) for p in ps]

    live_wall = max(1e-9, t_prod_done - stats["live_start"])
    out["layers"] = {
        "models.append_us_p50": common.median(stats["append_us"]),
        "models.flush_ms_p50": common.median(stats["flush_ms"]),
        "models.files_written": stats["files_written"],
        "producer.lateness_ms_p99": lateness_p99,
        "window.batches": len(data),
        "window.rows_per_batch_p50": common.median([p["numInputRows"] for p in live_data]),
        "window.add_batch_ms_p50": common.median(d(live_data, "addBatch")),
        "window.split_ms_p50": common.median(split_timer),
        "window.catchup_add_batch_ms": sum(d(catch, "addBatch")),
        "window.latest_offset_ms_p50": common.median(d(live_b, "latestOffset")),
        "window.query_planning_ms_p50": common.median(d(live_data, "queryPlanning")),
        "window.commit_ms_p50": common.median(
            [a + b for a, b in zip(d(live_data, "walCommit"), d(live_data, "commitOffsets"))]
        ),
        "window.busy_frac": sum(d(live_b, "triggerExecution")) / 1e3 / live_wall,
        "window.backlog_rows_end": n_rows - emitted_at_end,
        "window.latency_tail_pct": tail_pct,
        "latency_p50_ms": e2e["latency_p50_ms"],
        "latency_tail_ms": e2e["latency_tail_ms"],
    }
    out["after_stop"] = lambda folded: {
        "window.jobs_per_batch": common.jobs_per_batch(
            folded, qid, {p["batchId"] for p in live_data}
        )
    }
    return out
