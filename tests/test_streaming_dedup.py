"""Streaming incremental near-dup dedup (streaming/dedup_stream.py):
micro-batched ingestion against the persisted signature store must equal
the single-pass batch result, and a replayed micro-batch (the foreachBatch
crash-recovery path) must be exactly-once — rollback + reprocess leaves
store and output bit-identical to a crash-free run."""

import os

from pyspark.sql import functions as F

from tests.test_incremental import BASE, NEAR, OTHER, _docs, _store


def _write_part(spark, rows, path, mtime):
    df = _docs(spark, rows)
    df.coalesce(1).write.mode("overwrite").parquet(path)
    # deterministic file-source ordering: the source processes files by
    # modification time (latestFirst=false)
    for root, _dirs, files in os.walk(path):
        for f in files:
            os.utime(os.path.join(root, f), (mtime, mtime))


def test_streaming_matches_single_pass(spark, tmp_path):
    from minibatch_spark.streaming.dedup_stream import dedup_doc_stream, read_kept

    base = str(tmp_path)
    src = os.path.join(base, "src")
    os.makedirs(src)
    shard1 = [(1, BASE), (2, OTHER), (3, BASE)]  # 3 exact-dups 1
    shard2 = [(10, BASE), (11, NEAR), (12, "tiny new doc here ok")]
    _write_part(spark, shard1, os.path.join(src, "p1"), 1_000_000_000)
    _write_part(spark, shard2, os.path.join(src, "p2"), 1_000_000_100)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    seen = []
    q = dedup_doc_stream(
        spark,
        stream,
        os.path.join(base, "store"),
        os.path.join(base, "sink"),
        os.path.join(base, "ckpt"),
        on_batch=lambda bid, n, k: seen.append((bid, n, k)),
    )
    q.awaitTermination()

    kept = sorted(
        r.doc_id for r in read_kept(spark, os.path.join(base, "sink")).collect()
    )
    # single-pass expectation over the SAME corpus through a fresh store
    single = _store(spark, tmp_path, "single")
    expect = sorted(
        r.doc_id
        for r in single.process_batch(_docs(spark, shard1 + shard2)).collect()
        if r.keep == 1
    )
    assert kept == expect == [1, 2, 12]
    assert len(seen) >= 2  # really ran multi-batch (maxFilesPerTrigger=1)
    assert sum(n for _, n, _ in seen) == 6


def test_replay_is_exactly_once(spark, tmp_path):
    """Simulate the crash-replay path foreachBatch gives us: process a
    batch, then roll back its tag and process the SAME batch again (what
    the handler does on restart). Keep decisions, store contents, and a
    subsequent batch's decisions must be identical to a crash-free run."""
    store = _store(spark, tmp_path)
    b1 = [(1, BASE), (2, OTHER)]

    r_first = {
        r.doc_id: r.keep
        for r in store.process_batch(_docs(spark, b1), batch_tag="batch-0").collect()
    }
    n_sigs_first = store.sigs().count()
    n_exact_first = store.exact().count()

    # replay: rollback the tag, reprocess the same docs with the same tag
    store.rollback("batch-0")
    assert store.sigs().count() == 0 and store.exact().count() == 0
    r_replay = {
        r.doc_id: r.keep
        for r in store.process_batch(_docs(spark, b1), batch_tag="batch-0").collect()
    }
    assert r_replay == r_first == {1: 1, 2: 1}
    assert store.sigs().count() == n_sigs_first
    assert store.exact().count() == n_exact_first

    # WITHOUT rollback, a replay would self-duplicate — pin the hazard the
    # tag design exists for
    r_naive = {
        r.doc_id: r.keep
        for r in store.process_batch(_docs(spark, b1), batch_tag="batch-0x").collect()
    }
    assert r_naive == {1: 0, 2: 0}
    store.rollback("batch-0x")

    # downstream batch still correct against the replayed store
    r2 = {
        r.doc_id: r.keep
        for r in store.process_batch(
            _docs(spark, [(10, BASE), (11, NEAR), (12, "tiny new doc here ok")]),
            batch_tag="batch-1",
        ).collect()
    }
    assert r2 == {10: 0, 11: 0, 12: 1}


def test_tagged_and_flat_appends_coexist(spark, tmp_path):
    """Batch-API (flat) and streaming (tagged) appends read back as one
    store snapshot."""
    store = _store(spark, tmp_path)
    store.process_batch(_docs(spark, [(1, BASE)]))  # flat append
    store.process_batch(_docs(spark, [(2, OTHER)]), batch_tag="t")  # tagged
    assert store.exact().count() == 2
    r = store.process_batch(_docs(spark, [(3, BASE), (4, OTHER)]))
    assert {x.doc_id: x.keep for x in r.collect()} == {3: 0, 4: 0}


def _shards_src(spark, base):
    src = os.path.join(base, "src")
    os.makedirs(src, exist_ok=True)
    shard1 = [(1, BASE), (2, OTHER), (3, BASE)]
    shard2 = [(10, BASE), (11, NEAR), (12, "tiny new doc here ok")]
    _write_part(spark, shard1, os.path.join(src, "p1"), 1_000_000_000)
    _write_part(spark, shard2, os.path.join(src, "p2"), 1_000_000_100)
    return src, shard1, shard2


def _stream(spark, src):
    return (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )


def _assert_recovered_exactly_once(spark, tmp_path, base, shard1, shard2):
    """Post-recovery invariant shared by both crash-point tests: the sink
    corpus AND the store state are bit-identical to a crash-free
    single-pass run."""
    from minibatch_spark.streaming.dedup_stream import read_kept

    kept = {
        (r.doc_id, r.text)
        for r in read_kept(spark, os.path.join(base, "sink")).collect()
    }
    single = _store(spark, tmp_path, "single-pass-ref")
    res = single.process_batch(_docs(spark, shard1 + shard2))
    expect_ids = {r.doc_id for r in res.collect() if r.keep == 1}
    by_id = dict(shard1 + shard2)
    assert kept == {(i, by_id[i]) for i in expect_ids}
    assert {i for i, _ in kept} == {1, 2, 12}

    from minibatch_spark.operators.incremental import MinhashDedupStore

    streamed_store = MinhashDedupStore(spark, os.path.join(base, "store"))
    assert streamed_store.sigs().count() == single.sigs().count()
    assert streamed_store.exact().count() == single.exact().count()
    assert (
        streamed_store.exact()
        .exceptAll(single.exact())
        .unionByName(single.exact().exceptAll(streamed_store.exact()))
        .count()
        == 0
    )


def test_crash_between_store_append_and_sink_write(spark, tmp_path, monkeypatch):
    """Inject the exact failure the tag-rollback design claims to survive:
    the micro-batch CRASHES after process_batch has appended to the store
    but BEFORE the sink write. The replay must roll back the orphaned
    store tag and reprocess — final corpus and store bit-identical to a
    crash-free single pass (a naive replay would find the replayed docs'
    own hashes in the store and drop everything as self-duplicates)."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from minibatch_spark.operators.incremental import MinhashDedupStore
    from minibatch_spark.streaming.dedup_stream import dedup_doc_stream

    base = str(tmp_path)
    src, shard1, shard2 = _shards_src(spark, base)
    real = MinhashDedupStore.process_batch
    calls = {"n": 0}

    def crash_after_append(self, docs, batch_tag=None):
        result = real(self, docs, batch_tag=batch_tag)
        calls["n"] += 1
        if calls["n"] == 1:
            # store tag IS written at this point; the sink tag is not
            raise RuntimeError("injected crash: store appended, sink unwritten")
        return result

    monkeypatch.setattr(MinhashDedupStore, "process_batch", crash_after_append)
    q = dedup_doc_stream(
        spark, _stream(spark, src), os.path.join(base, "store"),
        os.path.join(base, "sink"), os.path.join(base, "ckpt"),
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    # the orphaned store tag from the crashed attempt is on disk
    assert MinhashDedupStore(spark, os.path.join(base, "store")).sigs().count() > 0

    monkeypatch.setattr(MinhashDedupStore, "process_batch", real)
    q2 = dedup_doc_stream(
        spark, _stream(spark, src), os.path.join(base, "store"),
        os.path.join(base, "sink"), os.path.join(base, "ckpt"),
    )
    q2.awaitTermination()
    _assert_recovered_exactly_once(spark, tmp_path, base, shard1, shard2)


def test_crash_after_sink_write_before_commit(spark, tmp_path):
    """The other crash window: sink tag written (with _SUCCESS) but the
    checkpoint never commits — injected via the on_batch observer, which
    runs after the sink write. The replayed batch must roll back its
    store tag and OVERWRITE its sink tag idempotently; final corpus and
    store bit-identical to a crash-free run."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from minibatch_spark.streaming.dedup_stream import dedup_doc_stream

    base = str(tmp_path)
    src, shard1, shard2 = _shards_src(spark, base)
    calls = []

    def crash_once(batch_id, n, k):
        calls.append(batch_id)
        if len(calls) == 1:
            raise RuntimeError("injected crash: sink written, commit pending")

    q = dedup_doc_stream(
        spark, _stream(spark, src), os.path.join(base, "store"),
        os.path.join(base, "sink"), os.path.join(base, "ckpt"),
        on_batch=crash_once,
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    # the crashed attempt's sink tag IS visible (committed parquet dir) —
    # exactly the state the idempotent overwrite-by-tag replay targets
    assert os.path.exists(os.path.join(base, "sink", "tag=batch-0", "_SUCCESS"))

    q2 = dedup_doc_stream(
        spark, _stream(spark, src), os.path.join(base, "store"),
        os.path.join(base, "sink"), os.path.join(base, "ckpt"),
    )
    q2.awaitTermination()
    _assert_recovered_exactly_once(spark, tmp_path, base, shard1, shard2)


# --- round 9: auto-compaction cadence ------------------------------------


def test_compact_every_batch_matches_single_pass(spark, tmp_path):
    """compact_every=1 (compaction at every handler start) must not
    change a single keep decision, and the store really ends compacted
    (bands manifest present, raw roots drained)."""
    from minibatch_spark.operators.incremental import MinhashDedupStore
    from minibatch_spark.streaming.dedup_stream import dedup_doc_stream, read_kept

    base = str(tmp_path)
    src, shard1, shard2 = _shards_src(spark, base)
    q = dedup_doc_stream(
        spark, _stream(spark, src), os.path.join(base, "store"),
        os.path.join(base, "sink"), os.path.join(base, "ckpt"),
        compact_every=1,
        # force the ratio gate open: this test exercises the compaction
        # path itself (maybe_compact's no-op gate is covered separately)
        compact_min_delta_bytes=0, compact_ratio=0.0,
    )
    q.awaitTermination()
    kept = sorted(
        r.doc_id for r in read_kept(spark, os.path.join(base, "sink")).collect()
    )
    assert kept == [1, 2, 12]
    store = MinhashDedupStore(spark, os.path.join(base, "store"))
    assert store._manifest() is not None  # the cadence really compacted


def test_crash_at_cadence_callsite_recovers_exactly_once(spark, tmp_path):
    """The new call site's crash window: batch 1's store appends land,
    then the query dies BEFORE batch 1's checkpoint commits. On restart
    with compact_every=1 the handler COMPACTS FIRST (absorbing batch 0)
    while batch 1's partial appends are on disk — they must be excluded
    from the compaction (stay raw and rollbackable), then rolled back
    and reprocessed. Final corpus and store bit-identical to a
    crash-free single pass."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from minibatch_spark.streaming.dedup_stream import dedup_doc_stream

    base = str(tmp_path)
    src, shard1, shard2 = _shards_src(spark, base)
    calls = []

    def crash_on_batch1(batch_id, n, k):
        calls.append(batch_id)
        if batch_id == 1 and calls.count(1) == 1:
            raise RuntimeError("injected crash: batch 1 appended, uncommitted")

    q = dedup_doc_stream(
        spark, _stream(spark, src), os.path.join(base, "store"),
        os.path.join(base, "sink"), os.path.join(base, "ckpt"),
        on_batch=crash_on_batch1, compact_every=1,
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()

    q2 = dedup_doc_stream(
        spark, _stream(spark, src), os.path.join(base, "store"),
        os.path.join(base, "sink"), os.path.join(base, "ckpt"),
        compact_every=1,
    )
    q2.awaitTermination()
    _assert_recovered_exactly_once(spark, tmp_path, base, shard1, shard2)


# --- the micro-batch's action budget ---------------------------------------


def test_on_batch_counts_come_from_the_sink_write(spark, tmp_path):
    """on_batch receives exact (batch_id, n_docs, n_kept) per batch, read
    from an Observation on the sink write (that no count() job runs for
    it is pinned by test_handler_runs_only_its_required_actions)."""
    from minibatch_spark.streaming.dedup_stream import dedup_doc_stream

    base = str(tmp_path)
    src, _, _ = _shards_src(spark, base)
    # a third batch that keeps nothing: its metrics must still arrive
    _write_part(
        spark, [(20, BASE), (21, NEAR)], os.path.join(src, "p3"), 1_000_000_200
    )
    seen = []
    q = dedup_doc_stream(
        spark, _stream(spark, src), os.path.join(base, "store"),
        os.path.join(base, "sink"), os.path.join(base, "ckpt"),
        on_batch=lambda bid, n, k: seen.append((bid, n, k)),
    )
    q.awaitTermination()
    # shard1: 3 exact-dups 1; shard2: 10 exact and 11 near dup of 1;
    # shard3: exact dups of 1 and 11
    assert seen == [(0, 3, 2), (1, 3, 1), (2, 2, 0)]


def test_handler_runs_only_its_required_actions(spark, tmp_path, monkeypatch):
    """Each handler call runs at most 2 materializations (count), exactly
    3 store appends and 1 sink write, plus one rewrite per root when the
    cadence compacts. Counted as Python-level actions, so the budget
    holds at any input size and core count."""
    import threading

    import pyspark.sql.classic.dataframe as cdf
    from pyspark.sql.readwriter import DataFrameWriter

    from minibatch_spark.streaming.dedup_stream import dedup_doc_stream

    base = str(tmp_path)
    src, _, _ = _shards_src(spark, base)
    sink = os.path.join(base, "sink")
    events = []
    lock = threading.Lock()

    def spy(cls, name, kind):
        real = getattr(cls, name)

        def wrapped(self, *a, **k):
            path = a[0] if a else k.get("path", "")
            with lock:
                events.append((kind, str(path)))
            return real(self, *a, **k)

        monkeypatch.setattr(cls, name, wrapped)

    spy(cdf.DataFrame, "count", "count")
    spy(DataFrameWriter, "parquet", "write")
    spy(DataFrameWriter, "saveAsTable", "table")
    q = dedup_doc_stream(
        spark, _stream(spark, src), os.path.join(base, "store"), sink,
        os.path.join(base, "ckpt"), compact_every=1,
        compact_min_delta_bytes=0, compact_ratio=0.0,
    )
    q.awaitTermination()

    # every handler ends with its sink write: split the log there
    calls, cur = [], []
    for kind, path in events:
        cur.append((kind, path))
        if kind == "write" and path.startswith(sink):
            calls.append(cur)
            cur = []
    assert cur == [] and len(calls) == 2
    for i, call in enumerate(calls):
        appends = sorted(
            os.path.basename(os.path.dirname(p))
            for k, p in call
            if k == "write" and f"tag=batch-{i}" in p and not p.startswith(sink)
        )
        rewrites = [
            p for k, p in call if k == "table" or (k == "write" and "_base-" in p)
        ]
        assert sum(k == "count" for k, _ in call) <= 2, call
        assert appends == ["bands", "exact", "sigs"], call
        assert sum(p.startswith(sink) for _, p in call) == 1, call
        # batch 0 has nothing to compact; batch 1 rewrites each root once
        assert len(rewrites) == (0 if i == 0 else 3), call
        assert len(call) == sum(k == "count" for k, _ in call) + 4 + len(rewrites)


def test_crash_after_store_appends_before_result(spark, tmp_path, monkeypatch):
    """The failure window the append-as-stage-boundary design opens: the
    sigs append (and the exact and bands appends beside the chain) have
    landed, then the batch dies BEFORE process_batch's result
    materializes. The replay must roll the partial tag back and
    reprocess — corpus and store bit-identical to a crash-free run."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    import minibatch_spark.operators.incremental as inc
    from minibatch_spark.streaming.dedup_stream import dedup_doc_stream

    base = str(tmp_path)
    src, shard1, shard2 = _shards_src(spark, base)
    store_dir = os.path.join(base, "store")
    real = inc.stage
    crashed = []

    def crash_before_result(df, name, *a, **k):
        if name.startswith("incdedup-result") and not crashed:
            crashed.append(name)
            raise RuntimeError("injected crash: store appended, result unmaterialized")
        return real(df, name, *a, **k)

    monkeypatch.setattr(inc, "stage", crash_before_result)
    q = dedup_doc_stream(
        spark, _stream(spark, src), store_dir,
        os.path.join(base, "sink"), os.path.join(base, "ckpt"),
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    assert crashed
    # all three appends of the crashed attempt are on disk (the appends
    # beside the chain were joined before the error left process_batch)
    store = inc.MinhashDedupStore(spark, store_dir)
    for root in (store.exact_dir, store.sigs_dir, store.bands_dir):
        assert store._files(os.path.join(root, "tag=batch-0")), root
    assert not os.path.exists(os.path.join(base, "sink", "tag=batch-0"))

    monkeypatch.setattr(inc, "stage", real)
    q2 = dedup_doc_stream(
        spark, _stream(spark, src), store_dir,
        os.path.join(base, "sink"), os.path.join(base, "ckpt"),
    )
    q2.awaitTermination()
    _assert_recovered_exactly_once(spark, tmp_path, base, shard1, shard2)
