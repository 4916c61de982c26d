"""Streaming-layer invariants, ported from the reference test suite
(/root/reference/minibatch/tests/test_minibatch.py):

- CountWindow: 10 msgs with size=2 => EXACTLY 5 windows of 2, in order
  (test_minibatch.py:48-87) + carry/restart semantics.
- FixedTimeWindow: emits empty windows for gap buckets (window.py:250),
  never re-emits a bucket (late data is dropped and counted), and closes
  buckets by wall clock when the source is quiet.
- keep=True persists windows (window.py:126-136).
- TTL housekeeping drains the buffer (test_minibatch.py:287-298).
- workers=N: a slow emit fn keeps up with 5 workers, falls behind with 1
  (test_minibatch.py:209-273).

All tests use Trigger.AvailableNow over tmpdir file-backed streams — the
deterministic replacement for the reference's sleep-based polling loops.
"""

import json
import os
import time
from datetime import datetime, timedelta

import pytest

from minibatch_spark.streaming.api import make_emitter, streaming
from minibatch_spark.streaming.app import StreamingApp
from minibatch_spark.streaming.models import Stream
from minibatch_spark.streaming.window import (
    CountWindow,
    FixedTimeWindow,
    RelaxedTimeWindow,
)


def _mk(tmp_path, name="s", **kw) -> Stream:
    return Stream(name, base_dir=str(tmp_path), **kw)


def test_count_window_invariant(spark, tmp_path):
    """Reference test_minibatch.py:48-87: N msgs / size s => exactly N/s
    windows of exactly s messages, in arrival order."""
    s = _mk(tmp_path)
    for i in range(10):
        s.append({"i": i})
    seen = []
    em = CountWindow(s, emitfn=lambda w: seen.append([d["i"] for d in w.data]), size=2)
    em.run(spark, available_now=True)
    assert seen == [[0, 1], [2, 3], [4, 5], [6, 7], [8, 9]]
    assert len(em.emitted) == 5


def test_count_window_carry_and_restart(spark, tmp_path):
    """Remainder rows persist in the carry file and complete a window
    after a restart (a new emitter on the same name/checkpoint)."""
    s = _mk(tmp_path)
    for i in range(7):
        s.append({"i": i})
    seen = []
    em = CountWindow(s, emitfn=lambda w: seen.append([d["i"] for d in w.data]),
                     size=2, name="cw")
    em.run(spark, available_now=True)
    assert seen == [[0, 1], [2, 3], [4, 5]]  # 6 is carried, NOT emitted short

    s.append({"i": 7})
    seen2 = []
    em2 = CountWindow(s, emitfn=lambda w: seen2.append([d["i"] for d in w.data]),
                      size=2, name="cw")  # same name -> same checkpoint+carry
    em2.run(spark, available_now=True)
    assert seen2 == [[6, 7]]


def test_fixed_time_window_empty_and_order(spark, tmp_path):
    """FixedTimeWindow emits one window PER bucket including EMPTY gap
    buckets (reference window.py:250 emit_empty forced True)."""
    s = _mk(tmp_path)
    t0 = datetime(2026, 1, 1, 12, 0, 0)
    s.append({"i": 0}, created=t0)
    s.append({"i": 1}, created=t0 + timedelta(seconds=30))
    # bucket t0+60..120 is EMPTY
    s.append({"i": 2}, created=t0 + timedelta(seconds=150))
    wins = []
    em = FixedTimeWindow(s, emitfn=lambda w: wins.append([d["i"] for d in w.data]),
                         interval=60)
    em.run(spark, available_now=True)
    assert wins == [[0, 1], [], [2]]
    assert em.late_dropped == 0


def test_fixed_time_window_drops_late_data(spark, tmp_path):
    """A late row for an already-emitted bucket is DROPPED and counted —
    never emitted as a duplicate window for that bucket (reference
    semantics: query bounded below by advanced last_read,
    window.py:258-267)."""
    s = _mk(tmp_path)
    t0 = datetime(2026, 1, 1, 12, 0, 0)
    s.append({"i": 0}, created=t0)
    s.append({"i": 1}, created=t0 + timedelta(seconds=90))
    wins = []
    em = FixedTimeWindow(s, emitfn=lambda w: wins.append([d["i"] for d in w.data]),
                         interval=60, name="ftw")
    em.run(spark, available_now=True)
    assert wins == [[0], [1]]

    # late arrival into bucket 0 — already emitted
    s.append({"i": 99}, created=t0 + timedelta(seconds=10))
    wins2 = []
    em2 = FixedTimeWindow(s, emitfn=lambda w: wins2.append([d["i"] for d in w.data]),
                          interval=60, name="ftw")
    em2.run(spark, available_now=True)
    assert wins2 == []  # no duplicate bucket emission
    assert em2.late_dropped == 1


def test_fixed_time_window_wall_clock_flush(spark, tmp_path):
    """flush_closed emits every clock-closed bucket (empty included) during
    quiet periods — the reference emits an (empty) window every interval
    by wall clock (window.py:252-256)."""
    s = _mk(tmp_path)
    t0 = datetime(2026, 1, 1, 12, 0, 0)
    s.append({"i": 0}, created=t0)
    s.flush()
    wins = []
    em = FixedTimeWindow(s, emitfn=lambda w: wins.append([d["i"] for d in w.data]),
                         interval=60)
    # simulate one micro-batch arriving (the row lands in carry: its bucket
    # is the newest and stays open), then two quiet wall-clock ticks
    em.carry_meta = {}
    windows, carry = em.split([{"created": t0, "data": '{"i": 0}', "seq": 1,
                                "stream": s.name}], final=False)
    assert windows == [] and len(carry) == 1
    em._save_carry(carry, em.carry_meta)
    n = em.flush_closed(now=t0 + timedelta(seconds=150))  # closes buckets t0, t0+60
    assert n == 2
    assert wins == [[0], []]  # data bucket then clock-closed empty bucket
    # idempotent: a second flush at the same clock emits nothing
    assert em.flush_closed(now=t0 + timedelta(seconds=150)) == 0


def test_relaxed_window_all_messages(spark, tmp_path):
    s = _mk(tmp_path)
    for i in range(5):
        s.append({"i": i})
    seen = []
    em = RelaxedTimeWindow(s, emitfn=lambda w: seen.append(len(w)), interval=1)
    em.run(spark, available_now=True)
    assert sum(seen) == 5


def test_keep_persists_windows(spark, tmp_path):
    """keep=True appends every emitted window to the windows table
    (reference persist()/commit(), window.py:126-136)."""
    s = _mk(tmp_path)
    for i in range(4):
        s.append({"i": i})
    em = CountWindow(s, emitfn=lambda w: None, size=2, keep=True)
    em.run(spark, available_now=True)
    wdf = s.windows(spark)
    assert wdf.count() == 2
    assert set(wdf.columns) == {"stream", "created", "query", "data"}


def test_ttl_expire_drains_buffer(tmp_path):
    """Reference test_minibatch.py:287-298: housekeeping empties the
    buffer once messages age out."""
    s = _mk(tmp_path)
    for i in range(5):
        s.append({"i": i})
    s.flush()
    assert s.buffer_count() == 5
    time.sleep(0.02)
    dropped = s.expire(max_age=0.01)
    assert dropped >= 1
    assert s.buffer_count() == 0


def test_workers_parallel_emit(spark, tmp_path):
    """Reference worker-scaling contract (test_minibatch.py:209-273): a
    slow emit fn (0.4 s) over 5 windows keeps up with workers=5 (emits
    overlap) and falls behind with workers=1 (serial)."""

    def slow(w):
        time.sleep(0.4)

    def run(workers, name):
        s = _mk(tmp_path, name=name)
        for i in range(10):
            s.append({"i": i})
        em = CountWindow(s, emitfn=slow, size=2, workers=workers, name=f"em-{name}")
        t0 = time.monotonic()
        em.run(spark, available_now=True)
        assert len(em.emitted) == 5
        assert not em.emit_errors
        return time.monotonic() - t0

    serial = run(1, "w1")
    parallel = run(5, "w5")
    # 5x0.4s serial vs overlapped: at least 1s of the 2s must come back
    assert parallel < serial - 1.0, (serial, parallel)


def _burn(w):
    """CPU-bound emit fn (no sleeping): ~0.4s of pure Python arithmetic,
    which the GIL serializes on threads but not on processes."""
    acc = 0
    for i in range(6_000_000):
        acc = (acc + i * i) % 1_000_003
    return acc


def test_workers_process_emit_cpu_bound(spark, tmp_path):
    """executor='process' parallelizes a CPU-BOUND emit fn (reference runs
    emit fns in a real ProcessPoolExecutor, minibatch/window.py:84,145-146;
    a thread pool only helps fns that block, not fns that compute). Same
    1-vs-5 contract as above but with real work: 5 workers must claw back
    a large fraction of the serial compute time. Also pins that commit
    bookkeeping (emitted log, forward) happens parent-side: results come
    back from the children."""
    got = []

    def run(workers, name):
        s = _mk(tmp_path, name=name)
        for i in range(10):
            s.append({"i": i})
        em = CountWindow(
            s, emitfn=_burn, size=2, workers=workers,
            executor="process", name=f"em-{name}",
            forwardfn=got.append,
        )
        t0 = time.monotonic()
        em.run(spark, available_now=True)
        assert len(em.emitted) == 5
        assert not em.emit_errors
        return time.monotonic() - t0

    serial = run(1, "p1")
    parallel = run(5, "p5")
    assert len(got) == 10  # forwarded results crossed back, both runs
    assert all(isinstance(x, int) for x in got)
    # 5 windows of CPU work: processes must beat the serial run by a
    # margin threads cannot (GIL); require >=30% back to stay robust on
    # a loaded host
    assert parallel < serial * 0.7, (serial, parallel)


def test_forward_to_sink(spark, tmp_path):
    """Emit results forward to the sink (reference forward/forwardfn,
    window.py:155-157)."""
    s = _mk(tmp_path)
    got = []

    class ListSink:
        def put(self, m):
            got.append(m)

    for i in range(4):
        s.append({"i": i})
    em = make_emitter("s", stream_obj=s, emitfn=lambda w: len(w.data),
                      size=2, sink=ListSink(), base_dir=str(tmp_path))
    em.run(spark, available_now=True)
    assert got == [2, 2]


def test_make_emitter_dispatch(tmp_path):
    """Reference dispatch table (minibatch/__init__.py:105-115) + the
    size/interval forwarding fix for custom emitter classes."""
    base = str(tmp_path)
    assert isinstance(make_emitter("a", size=3, base_dir=base), CountWindow)
    assert isinstance(make_emitter("b", interval=1, base_dir=base), RelaxedTimeWindow)
    assert isinstance(
        make_emitter("c", interval=1, relaxed=False, base_dir=base), FixedTimeWindow
    )

    class MyWindow(CountWindow):
        pass

    em = make_emitter("d", emitter=MyWindow, size=7, base_dir=base)
    assert isinstance(em, MyWindow)
    assert em.size == 7  # size reached the custom emitter constructor


def test_streaming_decorator(spark, tmp_path):
    """@streaming consumes what is buffered (reference __init__.py:15-75)."""
    s = _mk(tmp_path, name="deco")
    for i in range(6):
        s.append({"i": i})
    seen = []

    @streaming("deco", size=3, spark=spark, available_now=True, base_dir=str(tmp_path))
    def handler(window):
        seen.append(len(window.data))

    assert seen == [3, 3]


def test_seq_unique_across_writers(tmp_path):
    """Two producer handles on one stream never emit colliding seq keys
    (writer-namespaced counters), keeping orderBy(created, seq) a strict
    total order."""
    a = _mk(tmp_path, name="multi")
    b = Stream("multi", base_dir=str(tmp_path))
    for i in range(50):
        a.append({"i": i})
        b.append({"i": i})
    a.flush()
    b.flush()
    import pyarrow.parquet as pq
    import os
    seqs = []
    for f in os.listdir(a.buffer_dir):
        seqs.extend(pq.read_table(os.path.join(a.buffer_dir, f)).column("seq").to_pylist())
    assert len(seqs) == 100
    assert len(set(seqs)) == 100


def test_streaming_app_status(tmp_path):
    app = StreamingApp()
    s = _mk(tmp_path, name="app")
    app.add(CountWindow(s, emitfn=lambda w: None, size=2))
    st = app.status()
    assert len(st) == 1
    (info,) = st.values()
    assert info["state"] == "not-started"
    assert info["emitted"] == 0


def test_dataset_source_sink(spark, tmp_path):
    """Named-dataset indirection (reference contrib/omegaml.py:4-99):
    sink.put appends parquet parts under the registered location; the
    source bridge polls them into a Stream; load() opens a readStream."""
    import threading

    from minibatch_spark.sources.dataset import (
        DatasetRegistry,
        DatasetSink,
        DatasetSource,
    )

    reg = DatasetRegistry(base_dir=str(tmp_path))
    sink = DatasetSink("results", registry=reg)
    sink.put([{"a": 1}, {"a": 2}])
    sink.put({"a": 3})
    entry = reg.resolve("results")
    assert entry is not None

    # batch view over the sink output
    assert spark.read.parquet(entry["path"]).count() == 3

    # Stream.attach bridge: poll the dataset into a stream
    s = _mk(tmp_path, name="bridge", batchsize=1)
    src = DatasetSource("results", registry=reg, delay=0.01)
    t = threading.Thread(target=src.stream, args=(s,), daemon=True)
    t.start()
    deadline = time.monotonic() + 5
    while s.buffer_count() < 3 and time.monotonic() < deadline:
        time.sleep(0.02)
    src.cancel()
    t.join(timeout=2)
    assert s.buffer_count() == 3

    # engine path: readStream over the resolved location
    sdf = DatasetSource("results", registry=reg).load(spark)
    assert sdf.isStreaming


def test_processfn_transforms_rows(spark, tmp_path):
    """processfn (reference W6/U2, minibatch/window.py:75-83,110-112): a
    pre-step that owns the mark-processed/transform stage before split."""
    s = _mk(tmp_path, name="proc")
    for i in range(4):
        s.append({"i": i})
    seen = []

    def double(rows):
        import json
        for r in rows:
            d = json.loads(r["data"])
            d["i"] *= 2
            r["data"] = json.dumps(d)
        return rows

    em = CountWindow(s, emitfn=lambda w: seen.append([d["i"] for d in w.data]),
                     processfn=double, size=2)
    em.run(spark, available_now=True)
    assert seen == [[0, 2], [4, 6]]


def test_last_read_advances(spark, tmp_path):
    """W7: the stream cursor advances to the newest consumed timestamp
    (reference timestamp(), minibatch/window.py:99-100)."""
    s = _mk(tmp_path, name="cursor")
    t0 = datetime(2026, 1, 1, 12, 0, 0)
    assert s.meta()["last_read"] is None
    for i in range(3):
        s.append({"i": i}, created=t0 + timedelta(seconds=i))
    em = CountWindow(s, emitfn=lambda w: None, size=1)
    em.run(spark, available_now=True)
    assert s.meta()["last_read"] == (t0 + timedelta(seconds=2)).isoformat()


def test_emit_empty_toggle(tmp_path):
    """W14: emit_empty=True lets the base strategy emit zero-row windows
    (forced True for FixedTimeWindow, reference window.py:81,250)."""
    s = _mk(tmp_path, name="empty")
    em_off = RelaxedTimeWindow(s, emitfn=lambda w: None, interval=1)
    assert em_off.split([], final=False) == ([], [])
    em_on = RelaxedTimeWindow(s, emitfn=lambda w: None, interval=1, emit_empty=True)
    assert em_on.split([], final=False) == ([[]], [])


def test_status_counters(spark, tmp_path):
    s = _mk(tmp_path, name="status")
    for i in range(4):
        s.append({"i": i})
    em = CountWindow(s, emitfn=lambda w: None, size=2)
    assert em.status["state"] == "not-started"
    em.run(spark, available_now=True)
    st = em.status
    assert st["emitted"] == 2 and st["emit_errors"] == 0 and st["late_dropped"] == 0


def test_emit_failure_replays_batch(spark, tmp_path):
    """W9 at-least-once: a sync emit-fn exception fails the micro-batch
    BEFORE the carry/offsets commit; a restarted emitter (same checkpoint)
    re-delivers every window — no message loss (reference undo(),
    minibatch/window.py:119-124,214-218)."""
    import pytest

    s = _mk(tmp_path, name="undo")
    for i in range(6):
        s.append({"i": i})

    calls = []

    def flaky(w):
        calls.append([d["i"] for d in w.data])
        if len(calls) == 2:
            raise RuntimeError("boom")

    em = CountWindow(s, emitfn=flaky, size=2, name="undo-em", clean_source=False)
    with pytest.raises(Exception):
        em.run(spark, available_now=True)
    assert calls == [[0, 1], [2, 3]]  # failed mid-batch

    seen = []
    em2 = CountWindow(s, emitfn=lambda w: seen.append([d["i"] for d in w.data]),
                      size=2, name="undo-em", clean_source=False)
    em2.run(spark, available_now=True)
    # the whole failed micro-batch replays: all three windows re-delivered
    assert seen == [[0, 1], [2, 3], [4, 5]]


def test_typed_frame_schema_on_read(spark, tmp_path):
    """SURVEY §1.2: payloads parse to a declared StructType for typed
    relational access over the buffer."""
    s = _mk(tmp_path, name="typed")
    s.append({"v": 1.5, "user": "a"})
    s.append({"v": 2.5, "user": "b"})
    s.flush()
    df = s.typed_frame(spark, "v double, user string")
    rows = {r.user: r.v for r in df.collect()}
    assert rows == {"a": 1.5, "b": 2.5}
    assert dict(df.dtypes)["v"] == "double"


def test_typed_frame_schema_evolution(spark, tmp_path):
    """Reference parity with strict:False dynamic documents (reference
    models.py:127,146,172): payload keys may appear or disappear over a
    stream's life. Schema-on-read must surface old rows with NULL for
    later-added fields and silently ignore retired/unknown keys — no
    rewrite of buffered data, no read failure."""
    s = _mk(tmp_path, name="evolve")
    s.append({"v": 1.0})                      # epoch 1: no 'user' yet
    s.append({"v": 2.0, "user": "b"})         # epoch 2: field added
    s.append({"v": 3.0, "user": "c", "extra": 9})  # epoch 3: unknown key
    s.flush()
    df = s.typed_frame(spark, "v double, user string")
    got = {r.v: r.user for r in df.collect()}
    assert got == {1.0: None, 2.0: "b", 3.0: "c"}
    # narrowing the declared schema ignores retired fields entirely
    narrow = s.typed_frame(spark, "v double")
    assert sorted(r.v for r in narrow.collect()) == [1.0, 2.0, 3.0]


def test_compact_merges_files_preserves_rows(spark, tmp_path):
    """Small-files maintenance: 12 one-row part files compact to one file;
    row set, order keys, and a subsequent CountWindow run are unchanged."""
    s = _mk(tmp_path, name="compact")
    for i in range(12):
        s.append({"i": i})
    s.flush()
    assert len(s._buffer_files()) == 12
    assert s.buffer_count() == 12
    removed = s.compact()
    assert removed == 12 and len(s._buffer_files()) == 1
    assert s.buffer_count() == 12
    rows = sorted(
        (r.seq, r.data) for r in s.buffer(spark).collect()
    )
    assert len(rows) == 12

    seen = []
    em = CountWindow(s, emitfn=lambda w: seen.append([d["i"] for d in w.data]),
                     size=4, name="compact-em", clean_source=False)
    em.run(spark, available_now=True)
    assert seen == [[0, 1, 2, 3], [4, 5, 6, 7], [8, 9, 10, 11]]


def test_as_dataframe_scale_path_no_driver_collect(spark, tmp_path):
    """as_dataframe=True (the documented scale path, untested in round 1):
    the emit fn receives each micro-batch as a live DataFrame — no
    driver-side row materialization, no strategy split — and can run
    distributed aggregations on it."""
    from pyspark.sql import DataFrame as SparkDataFrame

    s = _mk(tmp_path, name="scale")
    for i in range(8):
        s.append({"i": i})
    got = {}

    def emitfn(batch_df, batch_id):
        assert isinstance(batch_df, SparkDataFrame)
        # distributed agg on the batch — the pattern a 100 TB emit uses
        n = batch_df.count()
        got.setdefault("batches", []).append((batch_id, n))

    em = CountWindow(s, emitfn=emitfn, size=2, as_dataframe=True)
    em.run(spark, available_now=True)
    assert sum(n for _, n in got["batches"]) == 8  # every message exactly once


def test_idempotent_sink_replay_no_duplicates(spark, tmp_path):
    """Exactly-once forward: redelivering every window (fresh checkpoint
    over an uncleaned buffer = the worst-case replay) leaves a keyed sink
    with ONE file per distinct window, while the plain at-least-once sink
    accumulates duplicates."""
    import glob
    import json as _json

    from minibatch_spark.streaming.sinks import IdempotentParquetSink, ParquetSink

    s = _mk(tmp_path, name="ido")
    for i in range(4):
        s.append({"i": i})
    keyed = IdempotentParquetSink(str(tmp_path / "keyed"))
    plain = ParquetSink(str(tmp_path / "plain"))

    def run(name):
        em = CountWindow(s, size=2, sink=keyed, name=name, clean_source=False)
        em.run(spark, available_now=True)
        em2 = CountWindow(
            s, size=2, forwardfn=plain.put, name=name + "-plain", clean_source=False
        )
        em2.run(spark, available_now=True)

    run("a")
    run("b")  # fresh checkpoints -> FULL redelivery of both windows
    keyed_files = glob.glob(str(tmp_path / "keyed" / "*.parquet"))
    plain_files = glob.glob(str(tmp_path / "plain" / "*.parquet"))
    assert len(keyed_files) == 2, keyed_files  # one per distinct window
    assert len(plain_files) == 4  # at-least-once: 2 windows x 2 deliveries
    import pyarrow.parquet as _pq

    datas = sorted(
        (
            _json.loads(r["data"])
            for f in keyed_files
            for r in _pq.read_table(f).to_pylist()
        ),
        key=_json.dumps,
    )
    assert datas == [{"i": 0}, {"i": 1}, {"i": 2}, {"i": 3}]


@pytest.mark.slow
def test_sustained_throughput_latency_contract(spark, tmp_path):
    """The reference's CI-asserted performance bounds (BASELINE.md), on
    the live (non-availableNow) trigger loop:

    - 100 docs consumed as 10 windows of 10 within 15 s wall (reference
      tests/test_mongodb.py:28-33);
    - bounded insert->receive latency (reference tests/test_mongodb.py:
      35-44 asserts <1 s against a local-MongoDB 0.1 s poller; the
      micro-batch analog pays query-startup + trigger latency, so the
      bound here is avg < 10 s — same contract, engine-appropriate
      constant)."""
    import time as _t

    s = _mk(tmp_path, name="tput")
    recv: dict = {}

    def emit(w):
        t = _t.monotonic()
        for d in w.data:
            recv[d["i"]] = t

    em = CountWindow(s, emitfn=emit, size=10, name="em-tput")
    em.run(spark, blocking=False, trigger_seconds=0.2)
    try:
        sent = {}
        for i in range(100):
            sent[i] = _t.monotonic()
            s.append({"i": i})
        s.flush()
        deadline = _t.monotonic() + 15
        while len(recv) < 100 and _t.monotonic() < deadline:
            _t.sleep(0.1)
        assert len(recv) == 100, f"only {len(recv)}/100 messages within 15s"
        lat = [recv[i] - sent[i] for i in range(100)]
        assert sum(lat) / len(lat) < 10.0, f"avg latency {sum(lat)/len(lat):.2f}s"
        assert len(em.emitted) == 10 and not em.emit_errors
    finally:
        em.stop()


def test_max_collect_rows_guard_fails_fast(spark, tmp_path):
    """The driver-materializing default path (as_dataframe=False) caps the
    per-micro-batch collect: an over-cap batch raises a clear error
    instead of silently OOMing the driver. Analog of the reference's
    implicit Mongo 16 MB window cap (minibatch/models.py:123)."""
    from pyspark.errors import StreamingQueryException

    s = _mk(tmp_path, name="cap")
    for i in range(8):
        s.append({"i": i})
    em = CountWindow(s, emitfn=lambda w: None, size=2, max_collect_rows=3)
    with pytest.raises(StreamingQueryException, match="max_collect_rows"):
        em.run(spark, available_now=True)


def test_max_collect_rows_guard_disabled_and_roomy(spark, tmp_path):
    """max_collect_rows=None disables the guard; a cap above the batch
    size is transparent (same windows as the unguarded run)."""
    s = _mk(tmp_path, name="cap2")
    for i in range(6):
        s.append({"i": i})
    seen = []
    em = CountWindow(s, emitfn=lambda w: seen.append([d["i"] for d in w.data]),
                     size=3, max_collect_rows=None, name="nocap")
    em.run(spark, available_now=True)
    assert seen == [[0, 1, 2], [3, 4, 5]]

    s2 = _mk(tmp_path, name="cap3")
    for i in range(6):
        s2.append({"i": i})
    seen2 = []
    em2 = CountWindow(s2, emitfn=lambda w: seen2.append([d["i"] for d in w.data]),
                      size=3, max_collect_rows=100, name="roomy")
    em2.run(spark, available_now=True)
    assert seen2 == [[0, 1, 2], [3, 4, 5]]


def test_randomized_restart_cycles_exactly_once(spark, tmp_path):
    """Chaos-shaped exactly-once check: seeded random interleaving of
    producer appends and emitter restarts (same name => same checkpoint +
    carry), draining into a keyed IdempotentParquetSink. Whatever the
    interleaving, the final sink holds EXACTLY N//size windows covering
    every message once, in arrival order."""
    import glob
    import json as _json
    import random

    import pyarrow.parquet as _pq

    from minibatch_spark.streaming.sinks import IdempotentParquetSink

    rng = random.Random(1234)
    s = _mk(tmp_path, name="chaos")
    sink = IdempotentParquetSink(str(tmp_path / "chaos-sink"))
    sent = 0
    for cycle in range(5):
        for _ in range(rng.randint(1, 9)):
            s.append({"i": sent})
            sent += 1
        # every cycle: a FRESH emitter object on the same name/checkpoint
        # (a restart), which must resume from carry without loss or dup
        em = CountWindow(s, size=3, sink=sink, name="chaos-em")
        em.run(spark, available_now=True)
    files = glob.glob(str(tmp_path / "chaos-sink" / "*.parquet"))
    assert len(files) == sent // 3, (len(files), sent)
    seen = sorted(
        _json.loads(r["data"])["i"]
        for f in files
        for r in _pq.read_table(f).to_pylist()
    )
    assert seen == list(range((sent // 3) * 3))  # every msg once, no gaps


def test_compact_during_inflight_reader_no_loss(spark, tmp_path):
    """Chaos: an in-flight streaming reader + concurrent compact()+append
    loses NO rows (round-4 verdict #8 — the small-file story's last
    unproven edge). Contract: compaction is at-least-once for concurrent
    streaming consumers — the merged file is new to the source so rows
    from already-processed originals may duplicate, but every appended
    row must reach the sink at least once, and the query must survive
    the originals being unlinked mid-stream."""
    import json as _json
    import os as _os

    from minibatch_spark.streaming.drain import await_condition
    from minibatch_spark.streaming.models import SPARK_DDL

    s = _mk(tmp_path, name="chaoscompact")
    for i in range(20):
        s.append({"i": i})
        s.flush()
    sink = _os.path.join(str(tmp_path), "chaos-sink")
    q = (
        spark.readStream.schema(SPARK_DDL)
        .option("maxFilesPerTrigger", 3)
        .parquet(s.buffer_dir)
        .writeStream.trigger(processingTime="100 milliseconds")
        .option(
            "checkpointLocation", _os.path.join(str(tmp_path), "chaos-ck")
        )
        .format("parquet")
        .option("path", sink)
        .start()
    )
    try:
        for i in range(20, 100):
            s.append({"i": i})
            s.flush()
            if i % 10 == 0:
                s.compact(target_rows=50)
        s.compact(target_rows=10_000)

        def seen():
            try:
                rows = spark.read.parquet(sink).select("data").collect()
            except Exception:
                return set()
            return {_json.loads(r.data)["i"] for r in rows}

        assert await_condition(lambda: seen() >= set(range(100)), timeout=60), (
            f"missing rows: {sorted(set(range(100)) - seen())[:10]}"
        )
        assert q.exception() is None
    finally:
        q.stop()


# --- session / sliding emitter dispatch (round 6: SURVEY §2.10 closure) ---


def test_make_emitter_dispatches_session_and_sliding(tmp_path):
    from minibatch_spark.streaming.window import SessionWindow, SlidingTimeWindow

    base = str(tmp_path)
    em = make_emitter("d1", session_gap=10, session_key="u", base_dir=base)
    assert isinstance(em, SessionWindow)
    assert em.gap == 10 and em.key == "u"
    em = make_emitter("d2", interval=60, slide=30, base_dir=base)
    assert isinstance(em, SlidingTimeWindow)
    assert em.interval == 60 and em.slide == 30
    # the reference's original dispatch is unchanged
    assert isinstance(make_emitter("d3", interval=60, base_dir=base), RelaxedTimeWindow)
    assert isinstance(
        make_emitter("d4", interval=60, relaxed=False, base_dir=base), FixedTimeWindow
    )
    with pytest.raises(ValueError):
        make_emitter("d5", interval=30, slide=60, base_dir=base)  # slide > interval


def test_session_window_decorator_end_to_end(spark, tmp_path):
    """@streaming(session_gap=...) delivers per-key gap-separated sessions:
    user a's two bursts 100 s apart are two sessions; user b's lone row is
    its own; emission ordered by session start."""
    t0 = datetime(2024, 1, 1)
    s = _mk(tmp_path, name="sess")
    s.append({"u": "a", "i": 0}, created=t0)
    s.append({"u": "a", "i": 1}, created=t0 + timedelta(seconds=5))
    s.append({"u": "a", "i": 2}, created=t0 + timedelta(seconds=100))
    s.append({"u": "b", "i": 3}, created=t0 + timedelta(seconds=2))
    seen = []

    @streaming(
        "sess", session_gap=30, session_key="u", spark=spark,
        available_now=True, base_dir=str(tmp_path),
    )
    def handler(window):
        seen.append([d["i"] for d in window.data])

    assert seen == [[0, 1], [3], [2]]


def test_session_window_flush_idle_and_restart(spark, tmp_path):
    """Open sessions ride the carry file across a restart, and
    flush_idle closes a session once it has been quiet longer than the
    gap — the continuous-mode path where no later row ever arrives."""
    from minibatch_spark.streaming.window import SessionWindow

    t0 = datetime(2024, 1, 1)
    s = _mk(tmp_path, name="sess2")
    s.append({"u": "a", "i": 0}, created=t0)
    s.append({"u": "a", "i": 1}, created=t0 + timedelta(seconds=5))
    seen = []
    em = SessionWindow(
        s, gap=30, key="u", name="sw",
        emitfn=lambda w: seen.append([d["i"] for d in w.data]),
    )
    # batch path (final=False): the lone session stays OPEN -> carried
    em.run(spark, available_now=False, blocking=False)
    em._query.processAllAvailable()
    em.stop()
    assert seen == []  # nothing closed yet

    seen2 = []
    em2 = SessionWindow(
        s, gap=30, key="u", name="sw",  # same name -> same carry
        emitfn=lambda w: seen2.append([d["i"] for d in w.data]),
    )
    # idle far beyond the gap by wall clock -> flusher closes it
    n = em2.flush_idle(now=t0 + timedelta(seconds=1000))
    assert n == 1 and seen2 == [[0, 1]]
    # idempotent: the session's rows left the carry
    assert em2.flush_idle(now=t0 + timedelta(seconds=2000)) == 0


def test_session_window_non_object_json_payload_not_poison(spark, tmp_path):
    """ADVICE r6: a VALID non-object JSON payload ('[1,2]', '"x"', '3')
    must not raise out of split() — that fails the micro-batch and replays
    the poison message forever. Such rows session under the None key."""
    from minibatch_spark.streaming.window import SessionWindow

    t0 = datetime(2024, 1, 1)
    s = _mk(tmp_path, name="sesspoison")
    em = SessionWindow(s, gap=30, key="u", name="swp")
    rows = [
        {"data": json.dumps({"u": "a", "i": 0}), "created": t0, "seq": 1},
        {"data": "[1, 2]", "created": t0 + timedelta(seconds=1), "seq": 2},
        {"data": '"x"', "created": t0 + timedelta(seconds=2), "seq": 3},
        {"data": "3", "created": t0 + timedelta(seconds=3), "seq": 4},
        {"data": "not json at all", "created": t0 + timedelta(seconds=4), "seq": 5},
    ]
    assert em._key_of(rows[0]) == "a"
    for r in rows[1:]:
        assert em._key_of(r) is None  # no AttributeError escape
    # final drain: one session for key 'a', one for the None key
    windows, carry = em.split(rows, final=True)
    assert carry == []
    assert sorted(len(w) for w in windows) == [1, 4]


def test_sliding_window_decorator_end_to_end(spark, tmp_path):
    """@streaming(interval=60, slide=30): every row appears in
    interval/slide = 2 windows; gaps emit empty windows; windows arrive
    in index order."""
    t0 = datetime(2024, 1, 1)  # epoch multiple of 60 -> aligned buckets
    s = _mk(tmp_path, name="slide")
    s.append({"i": 0}, created=t0)
    s.append({"i": 1}, created=t0 + timedelta(seconds=30))
    s.append({"i": 2}, created=t0 + timedelta(seconds=65))
    s.append({"i": 3}, created=t0 + timedelta(seconds=150))
    seen = []

    @streaming(
        "slide", interval=60, slide=30, spark=spark,
        available_now=True, base_dir=str(tmp_path),
    )
    def handler(window):
        seen.append([d["i"] for d in window.data])

    assert seen == [[0], [0, 1], [1, 2], [2], [], [3], [3]]


def test_sliding_window_late_row_dropped(spark, tmp_path):
    """A row whose LAST containing window was already emitted is late:
    dropped and counted, never re-emitting a window (the FixedTimeWindow
    exactly-once contract on the overlapping shape)."""
    from minibatch_spark.streaming.window import SlidingTimeWindow

    t0 = datetime(2024, 1, 1)
    s = _mk(tmp_path, name="slide-late")
    s.append({"i": 0}, created=t0)
    s.append({"i": 1}, created=t0 + timedelta(seconds=200))
    seen = []
    em = SlidingTimeWindow(
        s, interval=60, slide=30, name="sl",
        emitfn=lambda w: seen.append([d["i"] for d in w.data]),
    )
    em.run(spark, available_now=True)
    n_emitted = len(em.emitted)
    assert n_emitted > 0 and em.late_dropped == 0

    # a straggler far behind the high water
    s.append({"i": 9}, created=t0 + timedelta(seconds=10))
    seen2 = []
    em2 = SlidingTimeWindow(
        s, interval=60, slide=30, name="sl",  # same carry/high-water
        emitfn=lambda w: seen2.append([d["i"] for d in w.data]),
    )
    em2.run(spark, available_now=True)
    assert em2.late_dropped == 1
    assert [w for w in seen2 if 9 in w] == []


def test_sliding_equals_tumbling_when_slide_is_interval(spark, tmp_path):
    """slide == interval degenerates to tumbling: same bucket contents as
    FixedTimeWindow over the same rows (the overlap machinery must not
    invent or lose rows at the degenerate point)."""
    from minibatch_spark.streaming.window import SlidingTimeWindow

    t0 = datetime(2024, 1, 1)
    s = _mk(tmp_path, name="slide-deg")
    for i, off in enumerate((0, 10, 70, 130)):
        s.append({"i": i}, created=t0 + timedelta(seconds=off))
    seen = []
    em = SlidingTimeWindow(
        s, interval=60, slide=60, name="sd",
        emitfn=lambda w: seen.append([d["i"] for d in w.data]),
    )
    em.run(spark, available_now=True)
    assert seen == [[0, 1], [2], [3]]


def test_session_window_keyless_single_stream(spark, tmp_path):
    """key=None sessions the whole stream as one sequence: two bursts
    separated by more than the gap emit as two sessions."""
    from minibatch_spark.streaming.window import SessionWindow

    t0 = datetime(2024, 1, 1)
    s = _mk(tmp_path, name="sess-keyless")
    for i, off in enumerate((0, 5, 8, 120, 124)):
        s.append({"i": i}, created=t0 + timedelta(seconds=off))
    seen = []
    em = SessionWindow(
        s, gap=30, name="sk",
        emitfn=lambda w: seen.append([d["i"] for d in w.data]),
    )
    em.run(spark, available_now=True)
    assert seen == [[0, 1, 2], [3, 4]]


# -- buffer listing on the driver ------------------------------------------

_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _jobs_per_batch(spark, tmp_path, name: str, n_files: int) -> float:
    """Drain ``n_files`` one-row buffer files through a CountWindow and
    return the Spark jobs its query ran per micro-batch, counted by the
    query's job group."""
    s = _mk(tmp_path, name=name)  # batchsize=1: one buffer file per append
    for i in range(n_files):
        s.append({"i": i})
    seen = []
    em = CountWindow(s, emitfn=lambda w: seen.extend(d["i"] for d in w.data), size=2)
    em.run(spark, available_now=True)
    assert sorted(seen) == list(range(n_files))
    q = em._query
    # job events reach the status store asynchronously
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert batches
    return len(jobs) / len(batches)


def test_buffer_listing_runs_no_spark_job(spark, tmp_path):
    """A micro-batch over more buffer files than the caller's parallel
    discovery threshold runs no extra listing job: it runs as many jobs
    as one over fewer files. The caller's threshold is left as it was."""
    before = spark.conf.get(_THRESHOLD)
    spark.conf.set(_THRESHOLD, "4")
    try:
        many = _jobs_per_batch(spark, tmp_path, "many", 8)
        few = _jobs_per_batch(spark, tmp_path, "few", 2)
        assert spark.conf.get(_THRESHOLD) == "4"
    finally:
        spark.conf.set(_THRESHOLD, before)
    assert many == few


def test_window_rows_and_bounds_match_appended_created(spark, tmp_path):
    """Window payloads and ``Window.query`` bounds equal the appended
    ``created`` values exactly: the session time zone holds end to end."""
    t0 = datetime(2024, 3, 10, 1, 59, 58, 123456)
    created = [t0 + timedelta(seconds=i, microseconds=7 * i) for i in range(6)]
    s = _mk(tmp_path, name="tz")
    for i, c in enumerate(created):
        s.append({"i": i}, created=c)
    wins = []
    CountWindow(s, emitfn=wins.append, size=2).run(spark, available_now=True)
    assert [[d["i"] for d in w.data] for w in wins] == [[0, 1], [2, 3], [4, 5]]
    assert [w.query for w in wins] == [
        [created[k].isoformat(), created[k + 1].isoformat()] for k in (0, 2, 4)
    ]


def test_emitter_query_runs_on_the_caller_session(spark, tmp_path):
    """The query stays on the caller's session: a listener attached there
    receives its progress, and an ``as_dataframe`` batch sees the caller's
    temp views registered before ``run()``."""
    from minibatch_spark.streaming import metrics

    spark.range(3).createOrReplaceTempView("caller_view")
    listener = metrics.attach(spark)
    got = []
    try:
        s = _mk(tmp_path)
        for i in range(4):
            s.append({"i": i})
        em = CountWindow(
            s,
            emitfn=lambda df, _: got.append(df.sparkSession.table("caller_view").count()),
            as_dataframe=True,
        )
        em.run(spark, available_now=True)
        m = listener.wait_for_progress(str(em._query.runId))
    finally:
        metrics.detach(spark, listener)
        spark.catalog.dropTempView("caller_view")
    assert m["input_rows"] == 4
    assert got == [3]


# -- driver-side buffer reads ------------------------------------------------


def _spy_read_table(monkeypatch):
    """Record the paths of every ``pyarrow.parquet.read_table`` call."""
    import pyarrow.parquet as pq

    calls = []
    real = pq.read_table

    def spy(source, *args, **kwargs):
        calls.append(list(source))
        return real(source, *args, **kwargs)

    monkeypatch.setattr(pq, "read_table", spy)
    return calls


def test_materializing_batch_reads_its_files_once(spark, tmp_path, monkeypatch):
    """The materializing path streams file names: each micro-batch's
    ``numInputRows`` is its buffer-file count, and the driver reads exactly
    those files, once."""
    calls = _spy_read_table(monkeypatch)
    s = _mk(tmp_path, name="paths", batchsize=2)
    seen = []
    for n_files in (5, 3):  # two runs on one checkpoint
        start = len(seen)
        old = set(s._buffer_files())  # cleanSource deletes a batch's files later
        for i in range(2 * n_files):
            s.append({"i": start + i})
        s.flush()
        files = {os.path.join(s.buffer_dir, f) for f in set(s._buffer_files()) - old}
        assert len(files) == n_files
        n_calls = len(calls)
        em = CountWindow(s, emitfn=lambda w: seen.extend(d["i"] for d in w.data),
                         size=2, name="paths-em")
        em.run(spark, available_now=True)
        batch_calls = calls[n_calls:]
        inputs = [p["numInputRows"] for p in em._query.recentProgress
                  if p["numInputRows"] > 0]
        assert inputs == [len(c) for c in batch_calls if c]
        read = [p for c in batch_calls for p in c]
        assert sorted(read) == sorted(files)
    assert seen == list(range(16))


def test_available_now_drain_leaves_no_buffer_files(spark, tmp_path):
    """With clean_source (default) a drained buffer is empty, including
    the last micro-batch's files, which Spark's cleanSource only deletes
    once a next batch is built; a second run on the same checkpoint emits
    only the rows appended since."""
    s = _mk(tmp_path, name="drained", batchsize=1)
    seen = []
    for lo, hi in ((0, 20), (20, 24)):
        for i in range(lo, hi):
            s.append({"i": i})
        em = CountWindow(s, emitfn=lambda w: seen.append([d["i"] for d in w.data]),
                         size=2, name="drained-em")
        em.run(spark, available_now=True)
        assert s.buffer_count() == 0
        assert [i for w in seen for i in w] == list(range(hi))


def test_base_dir_with_space_percent_and_key_value_segment(spark, tmp_path):
    """Buffer paths are used as the names Spark lists, never URL-decoded,
    and a ``k=v`` directory above the buffer is not read as a partition
    column: every row drains exactly once with its own ``stream`` value."""
    s = Stream("odd", base_dir=str(tmp_path / "a b%20c" / "stream=elsewhere"))
    for i in range(6):
        s.append({"i": i})
    seen, streams = [], []

    def record(rows):
        streams.extend(r["stream"] for r in rows)
        return rows

    em = CountWindow(s, emitfn=lambda w: seen.append([d["i"] for d in w.data]),
                     processfn=record, size=2)
    em.run(spark, available_now=True)
    assert seen == [[0, 1], [2, 3], [4, 5]]
    assert streams == ["odd"] * 6


def test_max_collect_rows_checked_on_footers_before_any_read(spark, tmp_path, monkeypatch):
    """An over-cap batch fails with the unchanged message before a single
    buffer row is read."""
    from pyspark.errors import StreamingQueryException

    calls = _spy_read_table(monkeypatch)
    s = _mk(tmp_path, name="capfoot")
    for i in range(8):
        s.append({"i": i})
    em = CountWindow(s, emitfn=lambda w: None, size=2, max_collect_rows=3)
    with pytest.raises(StreamingQueryException, match="exceeds max_collect_rows=3"):
        em.run(spark, available_now=True)
    assert calls == []


def test_parquet_source_checkpoint_resumes_exactly_once(spark, tmp_path):
    """A checkpoint first advanced by a plain parquet file-stream query
    resumes under ``CountWindow``: only rows appended afterwards are
    emitted, each exactly once."""
    from minibatch_spark.streaming.models import SPARK_DDL

    s = _mk(tmp_path, name="resume")
    for i in range(4):
        s.append({"i": i})
    s.flush()
    em = CountWindow(s, emitfn=None, size=2, name="resume-em", clean_source=False)
    consumed = []
    q = (
        spark.readStream.schema(SPARK_DDL)
        .parquet(s.buffer_dir)
        .writeStream.foreachBatch(
            lambda df, _: consumed.extend(json.loads(r.data)["i"] for r in df.collect())
        )
        .option("checkpointLocation", os.path.join(em.checkpoint_dir, "spark"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(consumed) == [0, 1, 2, 3]
    for i in range(4, 10):
        s.append({"i": i})
    seen = []
    em.emitfn = lambda w: seen.append([d["i"] for d in w.data])
    em.run(spark, available_now=True)
    assert seen == [[4, 5], [6, 7], [8, 9]]


@pytest.mark.parametrize(
    "payloads",
    [
        [{"a": [1, [2, {"b": None}]], "c": {"d": [True, False]}}, [], {}, 3, "s", None],
        [{"t": "héllo ☃ 日本"}, " \u0000", {"e": "\\\"q\\\""}],
        [float("nan"), {"x": float("inf")}, -0.0, 1e308],
        [",", "[", "]", "],[", {"k": "a,b]["}, "\"", "{}"],
    ],
)
def test_one_call_decode_matches_per_row(payloads):
    """Decoding a window's payloads in one call equals per-row
    ``json.loads`` on every payload ``Stream.append`` writes."""
    from minibatch_spark.streaming.window import _decode_payloads

    data = [json.dumps(p) for p in payloads]
    assert json.dumps(_decode_payloads(data)) == json.dumps([json.loads(d) for d in data])


@pytest.mark.parametrize("bad", ['{"a": 1', "1, 2", "", "[1] [2]"])
def test_one_call_decode_malformed_payload_raises(bad):
    """A malformed payload raises ``JSONDecodeError``, as per-row decoding
    does, also when the joined text would parse."""
    from minibatch_spark.streaming.window import _decode_payloads

    with pytest.raises(json.JSONDecodeError):
        _decode_payloads(['{"ok": 1}', bad, "2"])


def test_drain_until_quiet_waits_for_every_window(spark, tmp_path):
    """``drain_until_quiet`` on a live ``CountWindow`` returns only after
    every appended row has been emitted: a batch's file count keeps
    ``numInputRows`` above zero."""
    import threading

    from minibatch_spark.streaming.drain import await_condition, drain_until_quiet

    s = _mk(tmp_path, name="drainwin")
    seen = []
    em = CountWindow(s, emitfn=lambda w: seen.extend(d["i"] for d in w.data),
                     size=1, name="drainwin-em")
    em.run(spark, blocking=False, trigger_seconds=0.2)
    try:
        s.append({"i": 0})
        s.flush()
        assert await_condition(lambda: len(seen) == 1, timeout=60)

        def produce():
            for i in range(1, 21):
                s.append({"i": i})
                time.sleep(0.1)

        producer = threading.Thread(target=produce)
        producer.start()
        assert drain_until_quiet(em._query, quiet_seconds=3.0, timeout=120)
        producer.join()
        assert sorted(seen) == list(range(21))
    finally:
        em.stop()


def test_window_times_ignore_session_time_zone(spark, tmp_path):
    """``created`` is the appended naive-UTC value on a session whose time
    zone is not UTC: ``Window.query`` bounds, ``FixedTimeWindow`` buckets
    and ``last_read`` equal the appended values."""
    t0 = datetime(2026, 1, 1, 12, 0, 0)
    before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        s = _mk(tmp_path, name="tzcount")
        for i in range(4):
            s.append({"i": i}, created=t0 + timedelta(seconds=i))
        wins = []
        CountWindow(s, emitfn=wins.append, size=2).run(spark, available_now=True)
        assert [w.query for w in wins] == [
            [(t0 + timedelta(seconds=k)).isoformat(),
             (t0 + timedelta(seconds=k + 1)).isoformat()] for k in (0, 2)
        ]
        assert s.meta()["last_read"] == (t0 + timedelta(seconds=3)).isoformat()

        f = _mk(tmp_path, name="tzfixed")
        for sec in (0, 1, 10):
            f.append({"sec": sec}, created=t0 + timedelta(seconds=sec))
        buckets = []
        em = FixedTimeWindow(f, emitfn=lambda w: buckets.append([d["sec"] for d in w.data]),
                             interval=5)
        em.run(spark, available_now=True)
        assert buckets == [[0, 1], [], [10]]
        assert em.carry_meta["high_water"] == em._bucket(t0 + timedelta(seconds=10))
        assert f.meta()["last_read"] == (t0 + timedelta(seconds=10)).isoformat()
    finally:
        spark.conf.set("spark.sql.session.timeZone", before)
