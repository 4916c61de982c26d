"""Bounded drain helpers for live-trigger streaming tests and shutdowns.

Processing-time-mode features (e.g. state TTL, ``stateful_count_window
(state_ttl_ms=...)``) cannot run under ``Trigger.AvailableNow``: a
``ProcessingTimeTimeout`` query runs a no-data batch on every trigger to
check its timeouts, so it never terminates, and a live query never
terminates on its own either.
These helpers bound such runs deterministically instead of hand-rolled
``sleep`` loops:

- ``await_condition(fn)``: poll a probe until it holds (sink row-count
  reached, file appeared, ...).
- ``drain_until_quiet(query)``: declare the query drained once no progress
  event has consumed input rows for ``quiet_seconds`` — the micro-batch
  analog of "N consecutive empty batches". Implementation note: with a
  processing-time trigger and no new source data Spark SKIPS batch
  execution entirely (idle events only, emitted at
  ``noDataProgressEventInterval``), so counting literal empty batches
  would hang; absence-of-input-progress over a wall-clock window is the
  signal that actually exists.

Reference parity: the reference's tests bound their polling loops with
sleeps sized to the poller interval (tests/test_mongodb.py:28-44); these
helpers are the deterministic version of that contract.
"""

from __future__ import annotations

import time
from typing import Callable


def await_condition(
    fn: Callable[[], bool], timeout: float = 30.0, poll: float = 0.2
) -> bool:
    """Poll ``fn`` until truthy or ``timeout`` elapses. Returns whether the
    condition held."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if fn():
            return True
        time.sleep(poll)
    return bool(fn())


def drain_until_quiet(
    query,
    quiet_seconds: float = 1.5,
    timeout: float = 60.0,
    poll: float = 0.1,
    stop: bool = False,
) -> bool:
    """Wait until ``query`` (a live StreamingQuery) has consumed NO input
    rows for ``quiet_seconds`` of wall clock, then optionally stop it.

    Watches ``recentProgress``: any not-yet-seen progress event with
    ``numInputRows > 0`` resets the quiet clock. The clock starts at call
    time, so batches processed before the call never count against
    quietness. Returns True when quiet was reached within ``timeout``,
    False otherwise (the query is left running unless ``stop`` and quiet).
    """
    t0 = time.monotonic()
    last_active = t0
    seen: set = set()
    while True:
        for p in query.recentProgress:
            key = (p.get("batchId"), p.get("timestamp"))
            if key not in seen:
                seen.add(key)
                if (p.get("numInputRows") or 0) > 0:
                    last_active = time.monotonic()
        now = time.monotonic()
        if now - last_active >= quiet_seconds:
            if stop:
                query.stop()
            return True
        if now - t0 >= timeout:
            return False
        time.sleep(poll)
