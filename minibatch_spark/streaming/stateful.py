"""Stateful windows on the engine's own state store
(``applyInPandasWithState``) — the fully-distributed alternative to the
foreachBatch carry in streaming/window.py.

The reference's CountWindow keeps its remainder implicitly in MongoDB
(``processed=False`` rows left behind, minibatch/window.py:305-327) and
closes time windows with a driver-side flusher (:252-262). The
foreachBatch port keeps both in a driver-side carry file. THIS version
puts the state where Structured Streaming puts it: the checkpointed,
per-key, executor-local state store —

- partitioned by stream key, so a thousand streams batch in parallel with
  no driver involvement (the carry design serializes on the driver);
- fault-tolerant by construction: state is versioned with the micro-batch
  in the checkpoint, so a crash replays onto exactly the pre-batch
  remainder — the at-least-once contract with no custom code;
- Arrow-batched both ways (pandas in, pandas out), never per-row Python.

Windows are emitted as ROWS (stream, window_id, n, data_json), which keeps
the operator composable: downstream DataFrame ops, sinks, and the DuckDB
harness all consume a flat schema instead of driver-side Window objects.

One backend, two GroupState timeouts:

- ``stateful_count_window(state_ttl_ms=...)``: a ``ProcessingTimeTimeout``
  abandons a partial-window remainder that saw no data for the TTL;
- ``stateful_time_window``: an ``EventTimeTimeout`` closes event-time
  buckets once the watermark passes their end.

Gotcha: a ``ProcessingTimeTimeout`` query runs a no-data batch on every
trigger to check its timeouts, so under ``Trigger.AvailableNow`` it never
terminates. That is why only a TTL turns the timeout on; run TTL queries
on a processing-time trigger (``streaming/drain.py`` bounds such runs).
"""

from __future__ import annotations

import json
from typing import TYPE_CHECKING, Iterable, Iterator, Tuple

import pandas as pd

from minibatch_spark.streaming.models import SPARK_DDL, Stream

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

OUTPUT_DDL = "stream string, window_id long, n long, data_json string"
# remainder rows + the next window ordinal, all checkpoint-versioned
STATE_DDL = "pending string, next_window long"
TIME_OUTPUT_DDL = "stream string, window_start timestamp, n long, data_json string"
# open buckets as JSON {bucket start ms: [payload, ...]}
TIME_STATE_DDL = "buckets string"


def _sorted_batch(pdfs: Iterable[pd.DataFrame]) -> "pd.DataFrame | None":
    # concat THEN sort: the iterator may deliver a key's micro-batch rows
    # in several Arrow chunks, and (created, seq) order must hold across
    # all of them, not within each
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        return None
    return pd.concat(chunks).sort_values(["created", "seq"])


def _chunk(
    key: Tuple[str],
    pdfs: Iterable[pd.DataFrame],
    state,
    size: int,
    state_ttl_ms: int | None = None,
) -> Iterator[pd.DataFrame]:
    rows = []
    if state.exists:
        pending, next_window = state.get
        rows = json.loads(pending) if pending else []
    else:
        next_window = 0
    if state_ttl_ms and state.hasTimedOut:
        # the remainder saw no data for the TTL: abandon it, but keep the
        # ordinal so later windows keep monotonic ids
        rows = []
    batch = _sorted_batch(pdfs)
    if batch is not None:
        rows.extend(batch["data"].tolist())
    out = []
    while len(rows) >= size:
        window, rows = rows[:size], rows[size:]
        out.append((key[0], next_window, len(window), json.dumps(window)))
        next_window += 1
    state.update((json.dumps(rows), next_window))
    if state_ttl_ms and rows:
        state.setTimeoutDuration(state_ttl_ms)
    if out:
        yield pd.DataFrame(out, columns=["stream", "window_id", "n", "data_json"])


def stateful_count_window(
    stream: Stream, spark, size: int, state_ttl_ms: int | None = None
) -> "DataFrame":
    """Streaming DataFrame of exactly-``size`` windows per stream key.

    The 10-messages/size-2 ⇒ exactly-5-windows invariant (reference
    tests/test_minibatch.py:48-87) holds across micro-batch boundaries and
    restarts because the remainder lives in the state store, not in any
    single batch.

    ``state_ttl_ms``: optional state TTL (the reference's TTL
    housekeeping, minibatch/models.py:327-338, on engine state instead of
    buffer files): a partial-window remainder that sees no new data for
    the TTL is dropped, so permanently quiet keys cannot hold state
    forever at 1000-stream scale. The window ordinal survives. A TTL
    turns on ``ProcessingTimeTimeout``, which never ends an
    ``availableNow`` query (see the module docstring); 0 or None means no
    TTL."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = spark.readStream.schema(SPARK_DDL).parquet(stream.buffer_dir)
    return src.groupBy("stream").applyInPandasWithState(
        lambda key, pdfs, state: _chunk(key, pdfs, state, size, state_ttl_ms),
        outputStructType=OUTPUT_DDL,
        stateStructType=STATE_DDL,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if state_ttl_ms
            else GroupStateTimeout.NoTimeout
        ),
    )


def _buckets(
    key: Tuple[str], pdfs: Iterable[pd.DataFrame], state, interval_ms: int
) -> Iterator[pd.DataFrame]:
    buckets = json.loads(state.get[0]) if state.exists else {}
    batch = _sorted_batch(pdfs)
    if batch is not None:
        # naive values are the stored UTC instants (session tz is UTC)
        ms = batch["created"].values.astype("datetime64[ms]").astype("int64")
        for m, data in zip(ms.tolist(), batch["data"].tolist()):
            buckets.setdefault(str(m - m % interval_ms), []).append(data)
    watermark = state.getCurrentWatermarkMs()
    out = []
    for bs in sorted(buckets, key=int):
        if int(bs) + interval_ms > watermark:
            break
        rows = buckets.pop(bs)
        out.append(
            (key[0], pd.Timestamp(int(bs), unit="ms"), len(rows), json.dumps(rows))
        )
    if buckets:
        state.update((json.dumps(buckets),))
        # above the watermark by construction: every bucket ending at or
        # below it was just emitted
        state.setTimeoutTimestamp(min(int(b) for b in buckets) + interval_ms)
    else:
        state.remove()
    if out:
        yield pd.DataFrame(out, columns=["stream", "window_start", "n", "data_json"])


def stateful_time_window(
    stream: Stream, spark, interval_seconds: float
) -> "DataFrame":
    """Tumbling event-time windows per stream key, closed by the engine —
    the capability the reference's FixedTimeWindow approximates with a
    driver-side wall-clock flusher thread (minibatch/window.py:252-256).

    Each row lands in its floor(created/interval) bucket (checkpointed
    state); a bucket emits once the WATERMARK passes its end, either when
    new data for the key arrives or when the key's event-time timeout
    (the earliest open bucket end) fires. The watermark has a 0 s delay:
    the reference drops late rows rather than wait (:258-262), and Spark
    drops rows below the watermark before they reach the state, so a
    closed bucket never re-opens. Restarts resume with open buckets
    intact — no driver thread, no clock races, per-key parallel."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    interval_ms = int(interval_seconds * 1000)
    src = (
        spark.readStream.schema(SPARK_DDL)
        .parquet(stream.buffer_dir)
        .withWatermark("created", "0 seconds")
    )
    return src.groupBy("stream").applyInPandasWithState(
        lambda key, pdfs, state: _buckets(key, pdfs, state, interval_ms),
        outputStructType=TIME_OUTPUT_DDL,
        stateStructType=TIME_STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
