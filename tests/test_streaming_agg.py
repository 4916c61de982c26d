"""Watermarked streaming aggregation (W11) invariants:

- complete mode: window bucket math over the stream source matches the
  batch expectation;
- append mode across restarts: a window is finalized exactly once, when
  the watermark passes its end, and a row arriving BELOW the watermark
  (too late) is dropped by the engine — never double-counted, never
  re-opened. This is the disciplined version of the reference's silent
  late-data loss (minibatch/window.py:269-278).
"""

import json
import os
from datetime import datetime, timedelta

from minibatch_spark.streaming.aggregate import (
    read_sink,
    run_available_now,
    session_frame,
    windowed_frame,
)
from minibatch_spark.streaming.models import Stream

T0 = datetime(2026, 1, 1, 12, 0, 0)


def _mk(tmp_path, name="agg", **kw) -> Stream:
    return Stream(name, base_dir=str(tmp_path), **kw)


def test_windowed_complete_mode_bucket_math(spark, tmp_path):
    s = _mk(tmp_path)
    for sec, v in [(5, 1.0), (20, 2.0), (65, 3.0), (70, 4.0), (125, 5.0)]:
        s.append({"v": v}, created=T0 + timedelta(seconds=sec))
    s.flush()
    df = windowed_frame(s, spark, interval_seconds=60)
    run_available_now(
        df,
        os.path.join(str(tmp_path), "ckpt-complete"),
        output_mode="complete",
        query_name="agg_complete",
    )
    rows = {
        r.window_start: (r.n, r.sum_value)
        for r in spark.sql("SELECT * FROM agg_complete").collect()
    }
    assert rows == {
        T0: (2, 3.0),
        T0 + timedelta(seconds=60): (2, 7.0),
        T0 + timedelta(seconds=120): (1, 5.0),
    }


def test_append_mode_finalizes_once_and_drops_late(spark, tmp_path):
    """interval=30s, watermark=10s.

    Run 1: rows at t0+5 (B0) and t0+65 (B2) -> watermark t0+55; no window
           end <= t0+55 is final except B0 [t0,t0+30) and B1 -- B0 emitted
           without waiting, B1 was empty (no row -> no state -> no output).
    Between runs: a LATE row at t0+10 (B0: end t0+30 < watermark t0+55 ->
           dropped by the engine) and a fresh row at t0+125 -> run 2
           advances the watermark to t0+115, finalizing B2.
    Assert: B0 emitted exactly once with n=1 (late row NOT counted), B2
           emitted with n=1."""
    s = _mk(tmp_path, name="late")
    ckpt = os.path.join(str(tmp_path), "ckpt-append")
    sink = os.path.join(str(tmp_path), "sink")

    s.append({"v": 1.0}, created=T0 + timedelta(seconds=5))
    s.append({"v": 2.0}, created=T0 + timedelta(seconds=65))
    s.flush()
    run_available_now(
        windowed_frame(s, spark, 30), ckpt, sink_dir=sink, query_name="a1"
    )
    first = {r.window_start: r.n for r in read_sink(spark, sink).collect()}
    assert first == {T0: 1}  # B0 finalized by watermark t0+55

    s.append({"v": 99.0}, created=T0 + timedelta(seconds=10))  # too late: < wm
    s.append({"v": 3.0}, created=T0 + timedelta(seconds=125))
    s.flush()
    run_available_now(
        windowed_frame(s, spark, 30), ckpt, sink_dir=sink, query_name="a2"
    )
    final = {r.window_start: (r.n, r.sum_value) for r in read_sink(spark, sink).collect()}
    # B0 appears exactly once with the ORIGINAL count — the late row was
    # dropped, not merged, and the window was not re-emitted
    assert final[T0] == (1, 1.0)
    assert final[T0 + timedelta(seconds=60)] == (1, 2.0)  # B2 finalized
    assert len(final) == 2  # B4 (t0+120) still open


def test_sliding_windows_assign_overlaps(spark, tmp_path):
    s = _mk(tmp_path, name="slide")
    s.append({"v": 1.0}, created=T0 + timedelta(seconds=45))
    s.flush()
    run_available_now(
        windowed_frame(s, spark, 60, slide_seconds=30),
        os.path.join(str(tmp_path), "ckpt-slide"),
        output_mode="complete",
        query_name="agg_slide",
    )
    starts = sorted(
        r.window_start for r in spark.sql("SELECT * FROM agg_slide").collect()
    )
    assert starts == [T0, T0 + timedelta(seconds=30)]  # len/slide = 2 buckets


def test_session_frame_gap_merge(spark, tmp_path):
    s = _mk(tmp_path, name="sess")
    for sec, user in [(0, "a"), (5, "a"), (300, "a"), (0, "b")]:
        s.append({"user": user}, created=T0 + timedelta(seconds=sec))
    s.flush()
    run_available_now(
        session_frame(s, spark, gap_seconds=60),
        os.path.join(str(tmp_path), "ckpt-sess"),
        output_mode="complete",
        query_name="agg_sess",
    )
    rows = {(r.key, r.session_start): r.n for r in spark.sql("SELECT * FROM agg_sess").collect()}
    assert rows == {
        ("a", T0): 2,  # 0s and 5s merge (gap < 60)
        ("a", T0 + timedelta(seconds=300)): 1,
        ("b", T0): 1,
    }


def test_payload_roundtrip_json(tmp_path):
    """The value_path contract: payloads are JSON strings in the buffer."""
    s = _mk(tmp_path, name="json")
    s.append({"v": 1.5, "user": "x"})
    s.flush()
    import pyarrow.parquet as pq

    f = os.path.join(s.buffer_dir, os.listdir(s.buffer_dir)[0])
    row = pq.read_table(f).to_pylist()[0]
    assert json.loads(row["data"]) == {"v": 1.5, "user": "x"}


def test_stream_stream_join_inner_time_bound(spark, tmp_path):
    """Stream-stream inner join (ABSENT in reference): matches only pairs
    with equal payload key AND right event time within ±30s of left."""
    from minibatch_spark.streaming.join import joined_frame

    l, r = _mk(tmp_path, name="jl"), _mk(tmp_path, name="jr")
    l.append({"k": "a", "v": 1}, created=T0)
    l.append({"k": "b", "v": 2}, created=T0)
    l.flush()
    r.append({"k": "a", "v": 10}, created=T0 + timedelta(seconds=5))    # match
    r.append({"k": "a", "v": 11}, created=T0 + timedelta(seconds=95))   # out of bound
    r.append({"k": "c", "v": 12}, created=T0 + timedelta(seconds=5))    # no key match
    r.flush()

    df = joined_frame(l, r, spark, key_path="$.k", within_seconds=30)
    run_available_now(
        df, os.path.join(str(tmp_path), "ckpt-ssj"), query_name="ssj"
    )
    rows = spark.sql("SELECT key, lag_ms FROM ssj").collect()
    assert [(r_.key, r_.lag_ms) for r_ in rows] == [("a", 5000)]


def test_stream_stream_join_left_outer_emits_unmatched(spark, tmp_path):
    """left_outer: an unmatched left row emits with null right side once
    the watermark proves no match can still arrive."""
    from minibatch_spark.streaming.join import joined_frame

    l, r = _mk(tmp_path, name="jol"), _mk(tmp_path, name="jor")
    l.append({"k": "a"}, created=T0)
    l.append({"k": "z"}, created=T0)  # never matched
    l.flush()
    r.append({"k": "a"}, created=T0 + timedelta(seconds=1))
    # a much-later row on BOTH sides advances both watermarks past T0's
    # join horizon so the unmatched 'z' row can finalize
    l.append({"k": "__tick__"}, created=T0 + timedelta(seconds=600))
    l.flush()
    r.append({"k": "__tick__"}, created=T0 + timedelta(seconds=600))
    r.flush()

    df = joined_frame(l, r, spark, key_path="$.k", within_seconds=30,
                      watermark="10 seconds", how="left_outer")
    ckpt = os.path.join(str(tmp_path), "ckpt-ssjo")
    run_available_now(df, ckpt, query_name="ssjo")
    got = {(r_.key, r_.r_created is None) for r_ in
           spark.sql("SELECT key, r_created FROM ssjo").collect()}
    assert ("a", False) in got
    assert ("z", True) in got


def _count_window_across_restart(spark, tmp_path, split):
    """Run stateful_count_window(size=2) over messages 0..split-1, check
    the complete windows, then restart on the same checkpoint with
    messages split..9 and check that exactly 5 windows of 2 came out,
    every message once, in arrival order. File sink (not memory): the
    point is checkpoint recovery, which the memory sink refuses."""
    from minibatch_spark.streaming.stateful import stateful_count_window

    s = _mk(tmp_path, name=f"st-cw{split}")
    ckpt = os.path.join(str(tmp_path), f"ckpt-stcw{split}")
    sink = os.path.join(str(tmp_path), f"sink-stcw{split}")
    for i in range(split):
        s.append({"i": i}, created=T0 + timedelta(seconds=i))
    s.flush()
    run_available_now(stateful_count_window(s, spark, size=2), ckpt,
                      sink_dir=sink, query_name=f"stcw{split}a")

    def windows():
        rows = spark.read.parquet(sink).orderBy("window_id").collect()
        assert all(r.n == 2 for r in rows)
        assert [r.window_id for r in rows] == list(range(len(rows)))
        return [[json.loads(d)["i"] for d in json.loads(r.data_json)]
                for r in rows]

    assert windows() == [[i, i + 1] for i in range(0, split - 1, 2)]

    for i in range(split, 10):
        s.append({"i": i}, created=T0 + timedelta(seconds=i))
    s.flush()
    run_available_now(stateful_count_window(s, spark, size=2), ckpt,
                      sink_dir=sink, query_name=f"stcw{split}b")
    # restart resumes from state: carry + new rows; 10 msgs => exactly
    # 5 windows, every message once, in order
    assert windows() == [[0, 1], [2, 3], [4, 5], [6, 7], [8, 9]]


def test_stateful_count_window_invariant_and_restart(spark, tmp_path):
    """applyInPandasWithState CountWindow: 10 msgs / size=2 => exactly 5
    windows of 2 in arrival order (reference test_minibatch.py:48-87),
    with the remainder carried in the STATE STORE across a restart. Split
    5 then 5: windows [0,1] [2,3] before the restart, carry [4]."""
    _count_window_across_restart(spark, tmp_path, split=5)


def test_tws_count_window_invariant_and_restart(spark, tmp_path):
    """The same CountWindow contract at the 7-then-3 split the former
    transformWithState count window was tested at: 3 windows before the
    restart, carry [6]. stateful_count_window now serves both."""
    _count_window_across_restart(spark, tmp_path, split=7)


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Duplicate payload ids within the watermark horizon are suppressed
    across micro-batches; state for expired keys is evicted (bounded)."""
    import json

    from minibatch_spark.streaming.aggregate import deduped_frame

    s = _mk(tmp_path, name="sdedup")
    ckpt = os.path.join(str(tmp_path), "ckpt-sdedup")
    sink = os.path.join(str(tmp_path), "sink-sdedup")
    s.append({"id": "a", "v": 1}, created=T0)
    s.append({"id": "a", "v": 1}, created=T0 + timedelta(seconds=1))  # dup
    s.append({"id": "b", "v": 2}, created=T0 + timedelta(seconds=2))
    s.flush()
    df = deduped_frame(s, spark, key_path="$.id", watermark="30 seconds")
    run_available_now(df, ckpt, sink_dir=sink, query_name="sd1")

    def ids():
        return sorted(
            json.loads(r.data)["id"] for r in spark.read.parquet(sink).collect()
        )

    assert ids() == ["a", "b"]

    # replayed duplicate in a LATER micro-batch, still inside the horizon
    s.append({"id": "a", "v": 1}, created=T0 + timedelta(seconds=3))
    s.append({"id": "c", "v": 3}, created=T0 + timedelta(seconds=4))
    s.flush()
    run_available_now(df, ckpt, sink_dir=sink, query_name="sd2")
    assert ids() == ["a", "b", "c"]


def test_metrics_listener_counts_watermark_drops(spark, tmp_path):
    """W11 observability: the MetricsListener must report the engine's
    numRowsDroppedByWatermark for a genuinely-late row, plus input-row
    and batch counters — the alarm hook the reference's silent late-data
    loss lacks (ref window.py:269-278)."""
    from minibatch_spark.streaming import metrics

    s = _mk(tmp_path, name="obs")
    ckpt = os.path.join(str(tmp_path), "ckpt-obs")
    sink = os.path.join(str(tmp_path), "sink-obs")
    listener = metrics.attach(spark)
    try:
        s.append({"v": 1.0}, created=T0 + timedelta(seconds=5))
        s.append({"v": 2.0}, created=T0 + timedelta(seconds=65))
        s.flush()
        q1 = run_available_now(
            windowed_frame(s, spark, 30), ckpt, sink_dir=sink, query_name="m1"
        )
        m1 = listener.wait_for_progress(q1.runId, min_batches=1)
        assert m1["input_rows"] == 2
        assert m1["dropped_by_watermark"] == 0
        assert m1["total_batch_ms"] > 0

        # late row below the watermark (t0+55) -> engine drops it
        s.append({"v": 99.0}, created=T0 + timedelta(seconds=10))
        s.flush()
        q2 = run_available_now(
            windowed_frame(s, spark, 30), ckpt, sink_dir=sink, query_name="m2"
        )
        m2 = listener.wait_for_progress(q2.runId, min_batches=1)
        assert m2["input_rows"] == 1
        assert m2["dropped_by_watermark"] == 1
    finally:
        metrics.detach(spark, listener)


def test_stream_static_enrichment_broadcast(spark, tmp_path):
    """Stream-static join: streaming rows enriched from a batch dim, dim
    side broadcast (no stream-side shuffle, no state store)."""
    from minibatch_spark.streaming.join import enriched_frame

    s = _mk(tmp_path, name="enrich")
    for i, k in enumerate(["a", "b", "a", "c"]):
        s.append({"k": k, "i": i}, created=T0 + timedelta(seconds=i))
    s.flush()
    dim = spark.createDataFrame(
        [("a", "alpha"), ("b", "beta")], "key string, label string"
    )
    out_rows = []
    q = (
        enriched_frame(s, spark, dim)
        .writeStream.format("memory")
        .queryName("enriched")
        .trigger(availableNow=True)
        .option(
            "checkpointLocation", os.path.join(str(tmp_path), "ckpt-enrich")
        )
        .start()
    )
    q.awaitTermination()
    got = {
        (r.key, json.loads(r.data)["i"]): r.label
        for r in spark.sql("SELECT * FROM enriched").collect()
    }
    assert got == {
        ("a", 0): "alpha",
        ("b", 1): "beta",
        ("a", 2): "alpha",
        ("c", 3): None,  # left join keeps unmatched stream rows
    }


def test_stateful_time_window_closes_buckets(spark, tmp_path):
    """Event-time tumbling windows closed by GroupState event-time
    timeouts (the engine-side replacement for the reference's driver
    wall-clock flusher, minibatch/window.py:252-256): buckets emit when
    the WATERMARK passes their end — across runs, from checkpointed
    state. Timeline (10s interval): run 1 loads buckets [0,10) and
    [10,20); run 2 appends an event at +25, whose watermark closes both
    earlier buckets."""
    from minibatch_spark.streaming.stateful import stateful_time_window

    s = _mk(tmp_path, name="sttime")
    ckpt = os.path.join(str(tmp_path), "ckpt-sttime")
    sink = os.path.join(str(tmp_path), "sink-sttime")
    for sec, v in [(1, "a"), (3, "b"), (12, "c")]:
        s.append({"v": v}, created=T0 + timedelta(seconds=sec))
    s.flush()
    run_available_now(
        stateful_time_window(s, spark, 10), ckpt, sink_dir=sink, query_name="tw1"
    )
    first = {r.window_start: r for r in read_sink(spark, sink).collect()}

    s.append({"v": "d"}, created=T0 + timedelta(seconds=25))
    s.flush()
    run_available_now(
        stateful_time_window(s, spark, 10), ckpt, sink_dir=sink, query_name="tw2"
    )
    rows = {r.window_start: r for r in read_sink(spark, sink).collect()}
    b0, b1 = T0, T0 + timedelta(seconds=10)
    assert b0 in rows and b1 in rows  # both earlier buckets closed
    assert rows[b0].n == 2 and rows[b1].n == 1
    vals0 = [json.loads(d)["v"] for d in json.loads(rows[b0].data_json)]
    vals1 = [json.loads(d)["v"] for d in json.loads(rows[b1].data_json)]
    assert vals0 == ["a", "b"] and vals1 == ["c"]
    # the open [20,30) bucket (event "d") must NOT have emitted
    assert T0 + timedelta(seconds=20) not in rows
    # run 1 could legitimately emit bucket0 already (watermark hit +12)
    assert set(first) <= {b0}


def test_stateful_time_window_drops_late_rows(spark, tmp_path):
    """A late row for an already-closed bucket is dropped, never
    re-emitted (the reference drops late rows, minibatch/window.py:
    258-262). After [0,10) and [10,20) close, a row at +5 (late) and one
    at +35 arrive together: [0,10) keeps its one output row with n=2,
    and the +35 watermark closes [20,30) holding only "d"."""
    from minibatch_spark.streaming.stateful import stateful_time_window

    s = _mk(tmp_path, name="stlate")
    ckpt = os.path.join(str(tmp_path), "ckpt-stlate")
    sink = os.path.join(str(tmp_path), "sink-stlate")

    def run(batch, name):
        for sec, v in batch:
            s.append({"v": v}, created=T0 + timedelta(seconds=sec))
        s.flush()
        run_available_now(
            stateful_time_window(s, spark, 10), ckpt, sink_dir=sink,
            query_name=name,
        )
        return read_sink(spark, sink).collect()

    run([(1, "a"), (3, "b"), (12, "c")], "late1")
    closed = run([(25, "d")], "late2")
    assert sorted(r.window_start for r in closed) == [
        T0, T0 + timedelta(seconds=10)
    ]

    rows = run([(5, "late"), (35, "e")], "late3")
    by_start: dict = {}
    for r in rows:
        by_start.setdefault(r.window_start, []).append(r)
    b0, b2 = T0, T0 + timedelta(seconds=20)
    assert len(by_start[b0]) == 1 and by_start[b0][0].n == 2  # no re-emit
    vals2 = [json.loads(d)["v"] for d in json.loads(by_start[b2][0].data_json)]
    assert len(by_start[b2]) == 1 and vals2 == ["d"]
    assert T0 + timedelta(seconds=30) not in by_start  # [30,40) still open


def test_stateful_state_ttl_abandons_stale_remainder(spark, tmp_path):
    """state_ttl_ms: a partial-window remainder is dropped after the TTL
    (the reference's TTL housekeeping, models.py:327-338, applied to
    engine state): 3 msgs / size=2 leave a remainder of 1; after the TTL
    elapses, a 4th message does NOT complete a window with the dropped
    remainder. The control run without TTL completes it. Uses a live
    processing-time trigger (the TTL is a processing-time timeout;
    availableNow never terminates in that mode), bounded by the drain
    helpers: await_condition for sink arrival, drain_until_quiet to prove
    no EXTRA window appears (no input consumed for the quiet period)."""
    import time as _t

    from minibatch_spark.streaming.drain import await_condition, drain_until_quiet
    from minibatch_spark.streaming.stateful import stateful_count_window

    def run_scenario(name, ttl):
        s = _mk(tmp_path, name=name)
        sink = os.path.join(str(tmp_path), f"sink-{name}")
        for i in range(3):
            s.append({"i": i}, created=T0 + timedelta(seconds=i))
        s.flush()
        q = (
            stateful_count_window(s, spark, size=2, state_ttl_ms=ttl)
            .writeStream.outputMode("append")
            .queryName(f"q-{name}")
            .trigger(processingTime="300 milliseconds")
            .option(
                "checkpointLocation", os.path.join(str(tmp_path), f"ck-{name}")
            )
            .format("parquet")
            .option("path", sink)
            .start()
        )

        def rows():
            try:
                return sorted(
                    spark.read.parquet(sink).collect(),
                    key=lambda r: r.window_id,
                )
            except Exception:
                return []

        try:
            assert await_condition(lambda: len(rows()) >= 1, timeout=30), (
                f"{name}: first window missing"
            )
            _t.sleep(2.0)  # TTL (500 ms) elapses in processing time
            s.append({"i": 3}, created=T0 + timedelta(seconds=10))
            s.flush()
            want = 2 if ttl is None else 1
            assert await_condition(lambda: len(rows()) >= want, timeout=30)
            # settle: quiet (no input consumed for 1.2 s) proves msg 3 was
            # processed and no EXTRA window will appear
            assert drain_until_quiet(q, quiet_seconds=1.2, timeout=30)
            return [
                [json.loads(d)["i"] for d in json.loads(r.data_json)]
                for r in rows()
            ]
        finally:
            q.stop()

    # control: no TTL -> remainder 2 completes with msg 3
    assert run_scenario("ttl-off", None) == [[0, 1], [2, 3]]
    # TTL: remainder 2 dropped; msg 3 starts a new partial window
    assert run_scenario("ttl-on", 500) == [[0, 1]]


def test_drain_until_quiet_waits_for_inflight_input(spark, tmp_path):
    """drain_until_quiet: input consumed after the call resets the quiet
    clock (the helper cannot declare a stream drained while it is still
    eating rows), and a genuinely idle query goes quiet within bounds."""
    from minibatch_spark.streaming.drain import await_condition, drain_until_quiet
    from minibatch_spark.streaming.models import SPARK_DDL

    s = _mk(tmp_path, name="drainq")
    s.append({"i": 0}, created=T0)
    s.flush()
    sink = os.path.join(str(tmp_path), "drain-sink")
    q = (
        spark.readStream.schema(SPARK_DDL)
        .parquet(s.buffer_dir)
        .writeStream.trigger(processingTime="200 milliseconds")
        .option("checkpointLocation", os.path.join(str(tmp_path), "drain-ck"))
        .format("parquet")
        .option("path", sink)
        .start()
    )
    try:
        def sunk():
            try:
                return spark.read.parquet(sink).count()
            except Exception:
                return 0

        assert await_condition(lambda: sunk() >= 1, timeout=30)
        # idle source -> quiet within the timeout
        assert drain_until_quiet(q, quiet_seconds=1.0, timeout=30)
        # new input arrives -> the next drain must see it consumed first.
        # Wait for the 200ms-trigger file source to DISCOVER the new file
        # before draining: on a loaded host discovery can exceed the 1.0s
        # quiet window, and drain_until_quiet would (correctly) report the
        # stream quiet while the row is still upstream of the source.
        s.append({"i": 1}, created=T0 + timedelta(seconds=1))
        s.flush()
        assert await_condition(lambda: sunk() >= 2, timeout=30)
        assert drain_until_quiet(q, quiet_seconds=1.0, timeout=30)
        assert sunk() == 2  # quiet only after the in-flight row landed
    finally:
        q.stop()
