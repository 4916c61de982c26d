"""Open-loop producer for the ``window_stream`` workload, run as its own
process so the load generator never shares an interpreter with the
system under test.

Protocol with the parent (one line each way):

1. append ``--backlog`` rows as fast as possible, flush, print one JSON
   line ``{"backlog_s": ...}``;
2. wait for ``live`` on stdin;
3. append ``--live-rows`` rows open-loop at ``--rate`` rows/s, each
   stamped ``created`` = its due time, flush, print one JSON line of
   stats and exit.

Rows go through ``Stream.append``; the payload carries the row index
``i`` that the parent checks for exactly-once emission. The payload's
other fields come from ``--seed``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
from datetime import datetime, timezone


def open_loop(n, rate, start, send, clock=time.time, sleep=time.sleep, idle=0.002):
    """Send ``n`` items on a fixed schedule: item i is due at
    ``start + i / rate`` and is never sent early. A stall delays the items
    behind it but not the schedule, so they are sent late, back to back.
    Returns each item's lateness in seconds (send time minus due time)."""
    late = []
    i = 0
    while i < n:
        due = start + i / rate
        now = clock()
        if now < due:
            sleep(min(due - now, idle))
            continue
        late.append(now - due)
        send(i, due)
        i += 1
    return late


def utc(ts: float) -> datetime:
    """Naive-UTC datetime of an epoch time (the envelope's ``created``)."""
    return datetime.fromtimestamp(ts, timezone.utc).replace(tzinfo=None)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base-dir", required=True)
    ap.add_argument("--stream", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--backlog", type=int, required=True)
    ap.add_argument("--live-rows", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--batchsize", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from minibatch_spark.streaming.models import Stream

    rng = random.Random(a.seed)
    stream = Stream(a.stream, base_dir=a.base_dir, batchsize=a.batchsize)
    files = 0

    def payload(i):
        return {"i": i, "k": f"k{rng.randrange(1000):03d}", "v": rng.random()}

    def flush():
        nonlocal files
        if stream.batcher.rows:
            files += 1
        stream.flush()

    t = time.perf_counter()
    for i in range(a.backlog):
        stream.append(payload(i), created=utc(time.time()))
        if not stream.batcher.rows:
            files += 1
    flush()
    print(json.dumps({"backlog_s": time.perf_counter() - t}), flush=True)

    if sys.stdin.readline().strip() != "live":
        sys.exit(1)
    append_us: list[float] = []
    flush_ms: list[float] = []

    def send(j, due):
        nonlocal files
        data = payload(a.backlog + j)
        t = time.perf_counter()
        stream.append(data, created=utc(due))
        dt = time.perf_counter() - t
        # the Batcher empties exactly when this append wrote its file
        if not stream.batcher.rows:
            files += 1
            flush_ms.append(dt * 1e3)
        else:
            append_us.append(dt * 1e6)

    start = time.time() + 0.05
    late = open_loop(a.live_rows, a.rate, start, send)
    flush()
    out = {
        "live_start": start,
        "live_end": start + (a.live_rows - 1) / a.rate,
        "lateness_ms": [x * 1e3 for x in late],
        "files_written": files,
    }
    if a.trace:
        out.update({"append_us": append_us, "flush_ms": flush_ms})
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
