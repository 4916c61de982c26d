"""Streaming tour — the engine-side streaming surface in one runnable file.

Three stops, each a capability the reference approximates with driver-side
machinery (polling loops, wall-clock flusher threads, process pools wired
through MongoDB) re-expressed on the engine:

1. CountWindow with PROCESS-pool emit — a CPU-bound emit fn runs in real
   parallel child processes (reference ProcessPoolExecutor parity,
   minibatch/window.py:84), results forwarded back parent-side;
2. watermarked tumbling aggregation (append mode): windows finalize
   exactly once when the watermark passes, late rows are dropped by the
   engine — no emitter code at all;
3. event-time windows closed by GroupState event-time TIMEOUTS: buckets
   live in the checkpointed state store and emit when the watermark
   passes their end.

Run:  python examples/streaming_tour.py
"""

import os
import sys
import tempfile
from datetime import datetime, timedelta

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from minibatch_spark.session import get_spark
from minibatch_spark.streaming.aggregate import (
    read_sink,
    run_available_now,
    windowed_frame,
)
from minibatch_spark.streaming.models import Stream
from minibatch_spark.streaming.window import CountWindow

T0 = datetime(2026, 1, 1, 12, 0, 0)


def _checksum(window):
    """CPU-bound emit fn — the GIL would serialize this on threads."""
    acc = 0
    for d in window.data:
        for _ in range(200_000):
            acc = (acc + d["i"]) % 1_000_003
    return acc


def main() -> None:
    spark = get_spark()
    workdir = tempfile.mkdtemp(prefix="mb-streaming-tour-")

    # -- 1. process-pool emit ------------------------------------------
    s = Stream("tour", base_dir=workdir)
    for i in range(8):
        s.append({"i": i})
    results = []
    em = CountWindow(
        s, emitfn=_checksum, size=2, workers=4, executor="process",
        forwardfn=results.append,
    )
    em.run(spark, available_now=True)
    print(f"1. process emit: {len(em.emitted)} windows, checksums {results}")

    # -- 2. watermarked tumbling aggregation ---------------------------
    s2 = Stream("tour-agg", base_dir=workdir)
    for sec, v in [(5, 1.0), (20, 2.0), (65, 3.0), (125, 4.0)]:
        s2.append({"v": v}, created=T0 + timedelta(seconds=sec))
    s2.flush()
    sink = os.path.join(workdir, "agg-sink")
    run_available_now(
        windowed_frame(s2, spark, interval_seconds=60),
        os.path.join(workdir, "agg-ckpt"),
        sink_dir=sink,
        query_name="tour_agg",
    )
    finalized = sorted(
        (r.window_start, r.n) for r in read_sink(spark, sink).collect()
    )
    print(f"2. watermarked agg finalized windows: {finalized}")

    # -- 3. timeout-closed event-time windows (applyInPandasWithState) --
    from minibatch_spark.streaming.stateful import stateful_time_window

    s3 = Stream("tour-time", base_dir=workdir)
    for sec in (1, 3, 12, 25):
        s3.append({"t": sec}, created=T0 + timedelta(seconds=sec))
    s3.flush()
    sink3 = os.path.join(workdir, "time-sink")
    run_available_now(
        stateful_time_window(s3, spark, 10),
        os.path.join(workdir, "time-ckpt"),
        sink_dir=sink3,
        query_name="tour_time",
    )
    closed = sorted(
        (r.window_start, r.n) for r in read_sink(spark, sink3).collect()
    )
    print(f"3. timer-closed buckets: {closed}")


if __name__ == "__main__":
    main()
