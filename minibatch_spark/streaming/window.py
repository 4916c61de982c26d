"""Window emitters on Structured Streaming.

Reference protocol (minibatch/window.py:17-73, run loop :175-226):
``window_ready -> query -> process -> timestamp -> emit -> commit/undo ->
forward -> sleep``. Spark mapping (SURVEY.md §2.10):

- the polling loop        -> a StreamingQuery over the buffer file source
- window_ready/query      -> micro-batch delivery via foreachBatch
- process (mark-processed)-> checkpoint offsets (automatic, exactly-once
                             bookkeeping vs the reference's bool flag)
- timestamp               -> Stream.meta last_read advance
- commit                  -> checkpoint commits/ log (automatic); keep=True
                             appends the window to the windows table
- undo                    -> exception propagates -> micro-batch replays
                             from checkpoint on restart (at-least-once for
                             the user fn, reference window.py:119-124)

Strategies:
- CountWindow      (reference :305-327): exact-size batches with carry-over
  remainder persisted next to the checkpoint; invariant "N msgs / size s =>
  exactly N/s windows of s" (tests/test_minibatch.py:48-87).
- RelaxedTimeWindow (reference :281-302): every trigger emits everything
  that arrived — precisely Spark's default micro-batch semantics.
- FixedTimeWindow  (reference :229-278): event-time tumbling buckets,
  emits EMPTY windows for gaps (emit_empty=True forced, :250); late rows
  for an already-emitted bucket are DROPPED and counted (reference
  parity: the query is bounded below by the advanced last_read,
  minibatch/window.py:258-262 — late data silently falls into no window),
  and a wall-clock flusher closes buckets each interval even when the
  source is quiet (reference emits per interval by clock, :252-256).

Parallel emission (reference ``workers=N`` ProcessPoolExecutor,
minibatch/window.py:84,145-146; contract tests/test_minibatch.py:209-273):
``workers=N`` runs emit fns on a thread pool so a slow fn does not stall
micro-batch delivery; windows for one stream may then complete
out-of-order, exactly like the reference. Emit errors are collected on
``emit_errors`` (async windows are already committed — at-least-once is
the caller's contract, same as the reference's fire-and-forget callback).

The user emit fn receives a ``Window`` with ``.data`` = list of payload
dicts — reference parity (models.py:116-133). That materialization is the
reference's 16 MB-capped design; for scale work pass ``as_dataframe=True``
and the fn gets the micro-batch DataFrame instead (the idiomatic
foreachBatch path with no driver materialization).

Buffer reads (reference parity: the reference builds a window's data
straight from its buffer documents in the consumer loop,
minibatch/window.py:141,175-226): on the materializing path the query
streams only the NAMES of each micro-batch's buffer files (a ``binaryFile``
source with only ``path`` selected, so its scan only stats the files), and
the driver reads those files itself with pyarrow. No message crosses the
JVM; the Spark job per batch is a stat-only listing. Two consequences:
progress ``numInputRows`` counts buffer FILES, not messages, and
``created`` keeps the stored naive-UTC value whatever the session time
zone. ``as_dataframe=True`` keeps the parquet reader, because its emit fn
needs the rows as a DataFrame.

Buffer listing: the file source re-lists each micro-batch's files in
``getBatch``, and above
``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32 paths) that
listing is a Spark job with one task per file (~2 s before a 160-file
catch-up batch on a 4-core host). The source reads the threshold from the
session the reader was built on, at every ``getBatch``, not from the
query's session clone. So ``run()`` builds the reader on an isolated
session that lists on the driver (``_driver_listing_session``). A
``Stream`` buffer is always a local directory, so the remote-listing cost
the listing job exists for never occurs here; the caller's session and
every other read keep Spark's default. The plan is then handed back to
the caller's session (``_on_session``) and the query starts there: its
``StreamingQueryListener``s and ``spark.streams`` see it, and an
``as_dataframe`` emit fn's ``batch_df.sparkSession`` is the query's clone
of the caller's session (temp views registered before ``run()`` are
visible, later ones are not).
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import threading
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime
from typing import Callable, Optional

import pyarrow as pa
import pyarrow.parquet as pq

from minibatch_spark.streaming.models import ARROW_SCHEMA, SPARK_DDL, Stream, utcnow

# the binaryFile source's fixed schema; a streaming reader must be given it
_BINARY_FILE_DDL = "path string, modificationTime timestamp, length long, content binary"


def _driver_listing_session(spark):
    """An isolated session carrying the caller's modifiable runtime confs
    (session time zone, Arrow, file-source settings) whose file listing
    never becomes a Spark job. The caller's session is not modified."""
    session = spark.newSession()
    conf = spark.conf
    for key, value in conf.getAll.items():
        if conf.isModifiable(key):
            session.conf.set(key, value)
    session.conf.set(
        "spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1)
    )
    return session


def _on_session(spark, df):
    """``df``'s plan as a DataFrame of ``spark``: through a global temp
    view (the one catalog sessions share), dropped as soon as the plan is
    resolved. Sources in the plan keep the session they were built on."""
    name = f"window_reader_{uuid.uuid4().hex}"
    df.createGlobalTempView(name)
    try:
        return spark.table(f"{spark.conf.get('spark.sql.globalTempDatabase')}.{name}")
    finally:
        spark.catalog.dropGlobalTempView(name)


@dataclass
class Window:
    """One emitted mini-batch (reference minibatch/models.py:116-133)."""

    stream: str
    created: datetime
    data: list = field(default_factory=list)
    query: list = field(default_factory=list)

    def __iter__(self):
        return iter(self.data)

    def __len__(self):
        return len(self.data)


def _decode_payloads(data: list[str]) -> list:
    """``[json.loads(d) for d in data]`` in one decoder call. Exact for
    every payload ``Stream.append`` writes, since each is one
    ``json.dumps`` value; when the joined parse fails or yields a different
    count, decode row by row so a malformed payload raises the same
    ``JSONDecodeError``."""
    try:
        out = json.loads("[" + ",".join(data) + "]")
    except ValueError:
        out = None
    if out is None or len(out) != len(data):
        return [json.loads(d) for d in data]
    return out


def _run_pickled_emit(payload: bytes):
    """Child-process entry for executor='process': unpickle (fn, Window),
    run the user fn, return its result (which must be stdlib-picklable to
    travel back). Module-level so ProcessPoolExecutor can address it."""
    from pyspark import cloudpickle

    fn, win = cloudpickle.loads(payload)
    return fn(win) if fn else win.data


class WindowEmitter:
    """Base emitter: consumes the stream's buffer as a file-source
    StreamingQuery and applies the strategy per micro-batch.

    Subclass hook: ``split(rows, final)`` -> (list_of_windows, carry_rows).
    Strategies needing cross-batch state beyond carried rows read/write
    ``self.carry_meta`` (persisted with the carry file, e.g.
    FixedTimeWindow's high-water bucket).

    ``clean_source=True`` (default) deletes consumed buffer files, as the
    reference's commit() deletes consumed buffer docs (window.py:129-136,
    single-emitter constraint :63-69). Spark's ``cleanSource=delete``
    removes a batch's files only when the next batch is built, so an
    ``available_now`` run removes its last batch's files itself once the
    query ends cleanly. With ``as_dataframe=True`` the emitter never sees
    file names: the last batch's files stay until the next run's first
    batch. Multi-consumer setups pass ``clean_source=False`` — each query
    has its own offsets.
    """

    def __init__(
        self,
        stream: Stream,
        emitfn: Optional[Callable] = None,
        forwardfn: Optional[Callable] = None,
        processfn: Optional[Callable] = None,
        emit_empty: bool = False,
        keep: bool = False,
        as_dataframe: bool = False,
        clean_source: bool = True,
        name: Optional[str] = None,
        workers: Optional[int] = None,
        executor: str = "thread",
        sink=None,
        max_collect_rows: Optional[int] = 1_000_000,
    ):
        self.stream = stream
        self.emitfn = emitfn
        self.forwardfn = forwardfn
        # keyed-sink upgrade path: sinks exposing put_keyed(key, msg) get a
        # deterministic per-window key so micro-batch REPLAYS overwrite
        # instead of duplicate (exactly-once forward; plain put() sinks
        # keep the reference's at-least-once semantics, window.py:214-218)
        self.sink = sink
        self.processfn = processfn
        self.emit_empty = emit_empty
        self.keep = keep
        self.as_dataframe = as_dataframe
        self.clean_source = clean_source
        # the latest materialized batch's buffer files (see clean_source)
        self._batch_paths: list[str] = []
        self.name = name or f"{type(self).__name__}-{stream.name}"
        self.emitted: list[Window] = []  # window metadata log (small)
        self.late_dropped = 0  # rows discarded for already-emitted buckets
        self.emit_errors: list[BaseException] = []  # async emit failures
        self.carry_meta: dict = {}
        self.workers = workers
        # executor='thread' (default): cheap dispatch, right for I/O-bound
        # emit fns (sinks, HTTP). executor='process': the reference's
        # ProcessPoolExecutor (minibatch/window.py:84) — real parallelism
        # for CPU-bound Python emit fns the GIL would serialize on
        # threads; the fn + Window cross via cloudpickle, the result
        # returns to the parent, and ALL commit bookkeeping (persist,
        # emitted log, sink forward) stays parent-side.
        if executor not in ("thread", "process"):
            raise ValueError(f"executor must be 'thread' or 'process', got {executor!r}")
        self.executor = executor
        # guard on the driver-materializing default path: the reference's
        # window lists are implicitly capped by Mongo's 16 MB document
        # limit (minibatch/models.py:123); Spark has no such cap, so an
        # unbounded .collect() of a fat micro-batch would OOM the driver
        # silently. None disables (caller takes responsibility).
        self.max_collect_rows = max_collect_rows
        self._pool = None  # created lazily; shut down by stop()/availableNow
        self._pending: list = []
        self._query = None
        self._stop_requested = threading.Event()
        # one lock serializes strategy state between the micro-batch
        # handler (Spark's stream-execution thread) and the wall-clock
        # flusher thread (FixedTimeWindow)
        # RLock: _dispatch_window runs under it and (process mode) also
        # drains finished emits, which re-acquires from done-callbacks
        self._emit_lock = threading.RLock()
        self._flusher: Optional[threading.Thread] = None

    # -- carry state (CountWindow remainder, FixedTimeWindow high-water),
    #    persisted beside the checkpoint so a restarted emitter resumes
    #    with the same remainder/high-water.
    @property
    def checkpoint_dir(self) -> str:
        return os.path.join(self.stream.checkpoint_root, self.name)

    @property
    def _carry_path(self) -> str:
        return os.path.join(self.checkpoint_dir, "carry.json")

    def _load_carry(self) -> tuple[list[dict], dict]:
        try:
            with open(self._carry_path) as f:
                obj = json.load(f)
        except FileNotFoundError:
            return [], {}
        rows, meta = (obj, {}) if isinstance(obj, list) else (
            obj.get("rows", []),
            obj.get("meta", {}),
        )
        for r in rows:
            r["created"] = datetime.fromisoformat(r["created"])
        return rows, meta

    def _save_carry(self, rows: list[dict], meta: Optional[dict] = None) -> None:
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        out = [dict(r, created=r["created"].isoformat()) for r in rows]
        tmp = self._carry_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"rows": out, "meta": meta or {}}, f)
        os.replace(tmp, self._carry_path)

    # -- strategy hook ----------------------------------------------------
    def split(self, rows: list[dict], final: bool) -> tuple[list[list[dict]], list[dict]]:
        """Default (reference Emitter, emitter/base.py:13-194): every batch
        is one window, nothing carried."""
        if rows or self.emit_empty:
            return [rows], []
        return [], []

    def window_query(self, rows: list[dict]) -> list:
        """The ``query`` metadata recorded on the Window (reference
        window.py:139-141): [lo, hi] bounds of the batch."""
        if not rows:
            return []
        times = [r["created"] for r in rows]
        return [min(times).isoformat(), max(times).isoformat()]

    # -- emission ---------------------------------------------------------
    def _dispatch_window(self, rows: list[dict]) -> None:
        """Run the emit fn inline (workers=None) or submit to the pool —
        the reference's executor.submit (minibatch/window.py:145-146)."""
        if not self.workers:
            self._emit_window(rows)
            return
        if self._pool is None:
            if self.executor == "process":
                import multiprocessing
                from concurrent.futures import ProcessPoolExecutor

                # spawn, never fork: the driver is a multithreaded,
                # JVM-attached process (py4j, Arrow, logging threads) —
                # forking it mid-micro-batch can deadlock children on
                # inherited locks
                self._pool = ProcessPoolExecutor(
                    max_workers=self.workers,
                    mp_context=multiprocessing.get_context("spawn"),
                )
            else:
                self._pool = ThreadPoolExecutor(max_workers=self.workers)
        if self.executor == "process":
            # the child runs ONLY the user fn; Window + fn travel via
            # cloudpickle (closures/lambdas work), commit stays here
            from pyspark import cloudpickle

            # no inline drain here: the caller typically holds _emit_lock
            # (dispatch runs under it) and commits must not run on its
            # watch — every future's done-callback spawns a hand-off
            # thread that drains, including futures already finished
            win = self._build_window(rows)
            payload = cloudpickle.dumps((self.emitfn, win))
            fut = self._pool.submit(_run_pickled_emit, payload)
            self._pending.append((fut, win, rows))
            # prompt commit even if the stream then goes quiet: when the
            # child finishes, drain from a SHORT-LIVED daemon thread. Not
            # the callback thread itself: that is the pool's single
            # result-delivery thread, and parent-side commit work (user
            # forwardfn, sink delivery, parquet persist) blocking there —
            # or merely waiting on _emit_lock while a blocking drain
            # holds it — would stall delivery of every other future
            # (deadlock in the worst case). The hand-off thread may
            # block freely; its drain(block=False) commits exactly the
            # finished futures.
            fut.add_done_callback(
                lambda _f: threading.Thread(
                    target=self._drain_process_results,
                    kwargs={"block": False},
                    daemon=True,
                ).start()
            )
            return
        self._pending = [f for f in self._pending if not f.done()]
        fut = self._pool.submit(self._emit_window, rows)
        fut.add_done_callback(self._emit_done)
        self._pending.append(fut)

    def _emit_done(self, fut) -> None:
        exc = fut.exception()
        if exc is not None:
            # async window already committed — record, don't replay
            # (reference emit_done logs and undoes only the window doc,
            # minibatch/window.py:214-218)
            self.emit_errors.append(exc)

    def _drain_process_results(self, block: bool) -> None:
        """Complete finished process-pool emits: collect each child's
        result, then run the parent-side commit path. Only the _pending
        bookkeeping is serialized by _emit_lock — each tuple is popped
        under the lock (so concurrent drains from the stream-execution
        thread, the wall-clock flusher, completion hand-off threads, and
        stop() each commit a window at most once), but the commit itself
        (_finish_emit: user forwardfn, sink delivery, parquet persist)
        runs OUTSIDE the lock so a slow commit cannot stall the
        micro-batch handler or the flusher, and block=True never holds
        the lock across a child-process wait. Commit order across
        concurrent drains is unspecified — async windows are
        at-least-once, same contract as the thread path. A commit-side
        failure lands in emit_errors, never a re-commit."""
        with self._emit_lock:
            claimed = []
            for entry in list(self._pending):
                fut, _win, _rows = entry
                if not (block or fut.done()):
                    continue
                self._pending.remove(entry)
                claimed.append(entry)
        for fut, win, rows in claimed:
            exc = fut.exception()  # waits when block=True
            if exc is not None:
                self.emit_errors.append(exc)
                continue
            try:
                self._finish_emit(win, rows, fut.result())
            except BaseException as e:  # commit-side failure
                self.emit_errors.append(e)

    def _await_emits(self) -> None:
        if self.executor == "process":
            self._drain_process_results(block=True)
            return
        for f in list(self._pending):
            f.exception()  # wait; error already captured by callback
        self._pending = []

    def _build_window(self, rows: list[dict]) -> Window:
        return Window(
            stream=self.stream.name,
            created=utcnow(),
            data=_decode_payloads([r["data"] for r in rows]),
            query=self.window_query(rows),
        )

    def _emit_window(self, rows: list[dict]) -> None:
        win = self._build_window(rows)
        result = self.emitfn(win) if self.emitfn else win.data
        self._finish_emit(win, rows, result)

    def _finish_emit(self, win: Window, rows: list[dict], result) -> None:
        # commit: keep=True persists the window (reference window.py:126-136)
        if self.keep:
            self._persist(win)
        self.emitted.append(
            Window(win.stream, win.created, data=[], query=win.query)
        )
        # forward (reference window.py:155-157, emit_done :208-226)
        out = result if result is not None else win.data
        if self.sink is not None and hasattr(self.sink, "put_keyed"):
            self.sink.put_keyed(self.window_key(rows), out)
        elif self.forwardfn:
            self.forwardfn(out)

    def window_key(self, rows: list[dict]) -> str:
        """Deterministic identity of a window: md5 over the stream name and
        the (created, seq) bounds of its rows. A replayed micro-batch
        re-splits into the SAME windows (split() is a pure function of row
        order), so the key is stable across replays — the anchor for
        idempotent (exactly-once) sink delivery."""
        if not rows:
            return hashlib.md5(f"{self.stream.name}|empty".encode()).hexdigest()
        ks = [(r["created"], r.get("seq")) for r in rows]
        lo, hi = min(ks), max(ks)
        raw = f"{self.stream.name}|{lo[0].isoformat()}|{lo[1]}|{hi[0].isoformat()}|{hi[1]}|{len(rows)}"
        return hashlib.md5(raw.encode()).hexdigest()

    def _persist(self, win: Window) -> None:
        schema = pa.schema(
            [
                pa.field("stream", pa.string()),
                pa.field("created", pa.timestamp("us")),
                pa.field("query", pa.string()),
                pa.field("data", pa.string()),
            ]
        )
        table = pa.Table.from_pylist(
            [
                {
                    "stream": win.stream,
                    "created": win.created,
                    "query": json.dumps(win.query),
                    "data": json.dumps(win.data, default=str),
                }
            ],
            schema=schema,
        )
        fname = f"window-{uuid.uuid4().hex}.parquet"
        pq.write_table(table, os.path.join(self.stream.windows_dir, fname))

    def _advance_last_read(self, rows: list[dict]) -> None:
        if not rows:
            return
        meta = self.stream.meta()
        meta["last_read"] = max(r["created"] for r in rows).isoformat()
        self.stream._write_meta(meta)

    # -- micro-batch handler ----------------------------------------------
    def _on_batch(self, batch_df, batch_id: int) -> None:
        if self.as_dataframe:
            # scale path: no driver materialization; strategy split is
            # bypassed — the user fn owns the batch (idiomatic foreachBatch)
            if self.emitfn and (self.emit_empty or not batch_df.isEmpty()):
                self.emitfn(batch_df, batch_id)
            return
        # The query streamed only this batch's buffer file names; read the
        # files here with pyarrow (no message crosses the JVM, and
        # ``created`` stays the stored naive-UTC value on any session time
        # zone). The buffer is flat and holds only the Stream's own part
        # files, so each file is its basename under buffer_dir; the path
        # strings are Hadoop's, which are not URL-encoded, so they are not
        # decoded. The cap is checked on parquet footers before any row is
        # read. No partitioning: a ``k=v`` segment in the base dir must not
        # become a column. (created, seq) order only matters on the
        # materialized list, so the sort runs here, not in Spark.
        paths = [
            os.path.join(self.stream.buffer_dir, os.path.basename(r.path))
            for r in batch_df.collect()
        ]
        self._batch_paths = paths
        if self.max_collect_rows is not None:
            n = sum(pq.read_metadata(p).num_rows for p in paths)
            if n > self.max_collect_rows:
                raise RuntimeError(
                    f"{self.name}: micro-batch exceeds max_collect_rows="
                    f"{self.max_collect_rows} on the driver-materializing "
                    "default path. Pass as_dataframe=True (the emit fn "
                    "receives the micro-batch DataFrame; no driver "
                    "materialization), use stateful_count_window "
                    "(streaming/stateful.py) for "
                    "state-store windowing at scale, or raise "
                    "max_collect_rows explicitly (max_collect_rows=None "
                    "disables the guard)."
                )
        pdf = pq.read_table(paths, schema=ARROW_SCHEMA, partitioning=None).to_pandas()
        pdf = pdf.sort_values(["created", "seq"])
        # plain datetimes, NOT pd.Timestamp: Timestamp.timestamp() reads a
        # naive value as UTC while datetime.timestamp() reads it as local
        # time — mixing the two would shift FixedTimeWindow buckets
        # against carry-reloaded rows on non-UTC hosts. (to_pydatetime's
        # ndarray-return deprecation is silenced; both return shapes zip.)
        import warnings

        with warnings.catch_warnings():
            warnings.simplefilter("ignore", FutureWarning)
            created = list(pdf["created"].dt.to_pydatetime())
        rows = [
            {"stream": s, "created": c, "seq": q, "data": d}
            for s, c, q, d in zip(
                pdf["stream"].tolist(), created, pdf["seq"].tolist(),
                pdf["data"].tolist(),
            )
        ]
        if self.processfn:
            rows = self.processfn(rows)
        with self._emit_lock:
            carry, self.carry_meta = self._load_carry()
            windows, new_carry = self.split(carry + rows, final=False)
            for w in windows:
                self._dispatch_window(w)  # sync error -> batch replay (undo)
            self._save_carry(new_carry, self.carry_meta)
            self._advance_last_read(rows)

    # -- run --------------------------------------------------------------
    def run(
        self,
        spark,
        blocking: bool = True,
        available_now: bool = False,
        trigger_seconds: Optional[float] = None,
        timeout: Optional[float] = None,
    ):
        """Start the StreamingQuery over the buffer directory.

        available_now=True drains everything currently buffered and stops
        (test mode — replaces the reference's sleep-based polling tests),
        then flushes remaining carry as final windows.
        """
        self.stream.flush()
        self._batch_paths = []
        reader = _driver_listing_session(spark).readStream.option(
            "maxFilesPerTrigger", 1000
        )
        if self.clean_source:
            reader = reader.option("cleanSource", "delete")
        if self.as_dataframe:
            df = reader.schema(SPARK_DDL).parquet(self.stream.buffer_dir)
        else:
            # file names only: _on_batch reads the files on the driver
            df = (
                reader.schema(_BINARY_FILE_DDL)
                .format("binaryFile")
                .load(self.stream.buffer_dir)
                .select("path")
            )
        source = _on_session(spark, df)
        writer = (
            source.writeStream.foreachBatch(self._on_batch)
            .option("checkpointLocation", os.path.join(self.checkpoint_dir, "spark"))
            .queryName(self.name)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif trigger_seconds:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        self._query = writer.start()
        if available_now:
            self._query.awaitTermination()
            if self.clean_source:
                # cleanSource deletes a batch's files only once a next
                # batch is built, so the last batch's files are still here
                for p in self._batch_paths:
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(p)
            self._drain_final()
            self._await_emits()
            self._shutdown_pool()
            return self
        self._start_flusher()
        if blocking:
            self._query.awaitTermination(timeout)
            self._await_emits()
        return self

    def _start_flusher(self) -> None:
        """Hook: strategies that must emit by wall clock even when the
        source is quiet (FixedTimeWindow) start a timer thread here."""

    def _drain_final(self) -> None:
        with self._emit_lock:
            carry, self.carry_meta = self._load_carry()
            if not carry:
                return
            windows, rest = self.split(carry, final=True)
            for w in windows:
                self._dispatch_window(w)
            self._save_carry(rest, self.carry_meta)

    def _shutdown_pool(self) -> None:
        """Release worker threads/processes (a leaked ProcessPoolExecutor
        leaves live children); the pool is rebuilt lazily if the emitter
        runs again."""
        if self._pool is not None:
            self._pool.shutdown(wait=True)
            self._pool = None

    def stop(self) -> None:
        self._stop_requested.set()
        if self._query is not None:
            self._query.stop()
        self._await_emits()
        self._shutdown_pool()

    @property
    def status(self) -> dict:
        """StreamingApp-style status (reference contrib/apps/omegaml.py:94-97
        parity -> StreamingQuery.status)."""
        base = {
            "emitted": len(self.emitted),
            "late_dropped": self.late_dropped,
            "emit_errors": len(self.emit_errors),
        }
        if self._query is None:
            return {"state": "not-started", **base}
        return {
            "state": "active" if self._query.isActive else "stopped",
            **base,
            **(self._query.status or {}),
        }


class CountWindow(WindowEmitter):
    """Exactly-``size`` batches in arrival order (reference window.py:305-327).

    Remainder rows carry across micro-batches (and restarts, via the
    persisted carry file); ``final`` drain does NOT flush a partial window —
    the reference never emits short windows either (count >= size check,
    window.py:314)."""

    def __init__(self, *args, size: int = 1, **kwargs):
        super().__init__(*args, **kwargs)
        self.size = max(1, int(size))

    def split(self, rows, final):
        windows = [
            rows[i : i + self.size]
            for i in range(0, len(rows) - self.size + 1, self.size)
        ]
        consumed = len(windows) * self.size
        return windows, rows[consumed:]


class RelaxedTimeWindow(WindowEmitter):
    """Every ``interval`` seconds emit ALL unprocessed messages (reference
    window.py:281-302) — exactly a processingTime-triggered micro-batch:
    no window-membership guarantee, no data loss."""

    def __init__(self, *args, interval: float = 1.0, **kwargs):
        super().__init__(*args, **kwargs)
        self.interval = interval

    def run(self, spark, **kwargs):
        kwargs.setdefault("trigger_seconds", self.interval)
        return super().run(spark, **kwargs)

    def split(self, rows, final):
        if rows or self.emit_empty:
            return [rows], []
        return [], []


class FixedTimeWindow(WindowEmitter):
    """Event-time tumbling windows of ``interval`` seconds (reference
    window.py:229-278). Emits EMPTY windows for buckets with no data
    (emit_empty forced True, reference :250) — the shim Spark's windowed
    aggregation lacks (SURVEY §7.3 W2).

    Cross-batch state: ``high_water`` (the newest emitted bucket id) lives
    in the persisted carry meta. Consequences:
    - a bucket is emitted EXACTLY ONCE: late rows for an already-emitted
      bucket are dropped and counted in ``late_dropped`` (reference
      parity — its query is bounded below by the advanced last_read,
      window.py:258-267, so late data lands in no window);
    - every bucket in (high_water, newest-closed] is emitted each cycle,
      so gaps yield empty windows, including across quiet micro-batches;
    - in continuous mode a wall-clock flusher thread closes buckets every
      ``interval`` even when the file source delivers no batch (Spark
      skips triggers with no new files; the reference emits by clock,
      window.py:252-256)."""

    def __init__(self, *args, interval: float = 1.0, **kwargs):
        kwargs["emit_empty"] = True
        super().__init__(*args, **kwargs)
        self.interval = float(interval)

    def run(self, spark, **kwargs):
        kwargs.setdefault("trigger_seconds", self.interval)
        return super().run(spark, **kwargs)

    def _bucket(self, dt: datetime) -> int:
        return int(dt.timestamp() // self.interval)

    def _drop_late(self, rows: list[dict], hw: Optional[int]) -> list[dict]:
        if hw is None:
            return rows
        live = [r for r in rows if self._bucket(r["created"]) > hw]
        self.late_dropped += len(rows) - len(live)
        return live

    def split(self, rows, final):
        hw = self.carry_meta.get("high_water")
        rows = self._drop_late(rows, hw)
        if not rows:
            return [], []
        by_bucket: dict[int, list[dict]] = {}
        for r in rows:
            by_bucket.setdefault(self._bucket(r["created"]), []).append(r)
        hi = max(by_bucket)
        lo = hw + 1 if hw is not None else min(by_bucket)
        emit_hi = hi if final else hi - 1  # hold the newest bucket open
        windows = [by_bucket.get(b, []) for b in range(lo, emit_hi + 1)]
        if emit_hi >= lo:
            self.carry_meta["high_water"] = emit_hi
        carry = [] if final else by_bucket.get(hi, [])
        return windows, carry

    # -- wall-clock flush --------------------------------------------------
    def _start_flusher(self) -> None:
        def loop():
            while not self._stop_requested.wait(self.interval):
                try:
                    self.flush_closed()
                except Exception as ex:  # keep the flusher alive
                    self.emit_errors.append(ex)

        t = threading.Thread(target=loop, daemon=True, name=f"flush-{self.name}")
        self._flusher = t
        t.start()

    def flush_closed(self, now: Optional[datetime] = None) -> int:
        """Emit every bucket closed by processing time — empty or not —
        up to (now - interval). Returns the number of windows emitted.
        Idempotent per bucket (high_water guard), safe to race with
        _on_batch (shared lock)."""
        with self._emit_lock:
            carry, self.carry_meta = self._load_carry()
            hw = self.carry_meta.get("high_water")
            closed_hi = self._bucket(now or utcnow()) - 1
            by_bucket: dict[int, list[dict]] = {}
            for r in carry:
                by_bucket.setdefault(self._bucket(r["created"]), []).append(r)
            if hw is not None:
                lo = hw + 1
            elif by_bucket:
                lo = min(by_bucket)  # anchor at the oldest carried bucket
            else:
                lo = closed_hi
            if closed_hi < lo:
                return 0
            emitted = 0
            for b in range(lo, closed_hi + 1):
                self._dispatch_window(by_bucket.get(b, []))
                emitted += 1
            self.carry_meta["high_water"] = closed_hi
            rest = [r for r in carry if self._bucket(r["created"]) > closed_hi]
            self._save_carry(rest, self.carry_meta)
            return emitted


class SessionWindow(WindowEmitter):
    """Gap-based event-time SESSION windows — a window is a run of rows
    (optionally per payload key) whose successive event times are within
    ``gap`` seconds; the session closes when the gap passes. ABSENT in the
    reference (its only strategies are count/relaxed/fixed,
    minibatch/window.py:229-327 — SURVEY §2.10 notes session windows as a
    Spark-side addition); this emitter brings the shape to the reference's
    record-shaped emit-fn protocol, complementing the aggregation-shaped
    ``streaming/aggregate.py::session_frame`` (watermarked
    ``F.session_window`` — the 100 TB path; this materializing emitter is
    the reference-parity convenience, subject to ``max_collect_rows``).

    ``key`` (optional): a payload field name; sessions then form per
    distinct value of that field (the reference's payloads are JSON
    dicts, so the key is extracted with json.loads — driver-side, like
    every materializing emitter). Rows missing the field session under
    key None.

    Semantics:
    - a session EMITS when a later row (same key) arrives more than
      ``gap`` after the session's last row, when the final drain runs, or
      when the wall-clock flusher sees the session idle > gap (continuous
      mode — a quiet source must still close sessions, same rationale as
      FixedTimeWindow's flusher);
    - open sessions ride the carry file, so they survive restarts;
    - emission order within a batch is deterministic: by (session start,
      first seq) — split() stays a pure function of row order, keeping
      window_key stable across micro-batch replays.
    """

    def __init__(self, *args, gap: float = 30.0, key: Optional[str] = None, **kwargs):
        super().__init__(*args, **kwargs)
        self.gap = float(gap)
        self.key = key

    def _key_of(self, r: dict):
        if self.key is None:
            return None
        try:
            obj = json.loads(r["data"])
        except (ValueError, TypeError):
            return None
        # valid non-object JSON ('[1,2]', '"x"', '3') must not raise out of
        # split() — that fails the micro-batch and replays the poison
        # message forever; such rows session under the None key instead
        return obj.get(self.key) if isinstance(obj, dict) else None

    def _sessions(self, rows: list[dict]) -> list[list[dict]]:
        """Partition key-ordered rows into gap-separated runs."""
        by_key: dict = {}
        for r in rows:
            by_key.setdefault(self._key_of(r), []).append(r)
        out = []
        for _k, krows in by_key.items():
            krows.sort(key=lambda r: (r["created"], r.get("seq") or 0))
            run = [krows[0]]
            for r in krows[1:]:
                if (r["created"] - run[-1]["created"]).total_seconds() > self.gap:
                    out.append(run)
                    run = [r]
                else:
                    run.append(r)
            out.append(run)
        out.sort(key=lambda w: (w[0]["created"], w[0].get("seq") or 0))
        return out

    def split(self, rows, final):
        if not rows:
            return [], []
        sessions = self._sessions(rows)
        if final:
            return sessions, []
        closed, carry = [], []
        # a session is closed iff a LATER same-key row proves the gap
        # passed — i.e. it is not its key's newest session
        newest_start = {}
        for s_ in sessions:
            k = self._key_of(s_[0])
            newest_start[k] = s_[0]["created"]
        for s_ in sessions:
            k = self._key_of(s_[0])
            if s_[0]["created"] < newest_start[k]:
                closed.append(s_)
            else:
                carry.extend(s_)
        return closed, carry

    # -- wall-clock close of idle sessions (continuous mode) ---------------
    def _start_flusher(self) -> None:
        def loop():
            while not self._stop_requested.wait(self.gap):
                try:
                    self.flush_idle()
                except Exception as ex:  # keep the flusher alive
                    self.emit_errors.append(ex)

        t = threading.Thread(target=loop, daemon=True, name=f"flush-{self.name}")
        self._flusher = t
        t.start()

    def flush_idle(self, now: Optional[datetime] = None) -> int:
        """Emit every carried session idle for more than ``gap`` (by wall
        clock). Returns the number of sessions emitted."""
        now = now or utcnow()
        with self._emit_lock:
            carry, self.carry_meta = self._load_carry()
            if not carry:
                return 0
            emitted = 0
            rest: list[dict] = []
            for s_ in self._sessions(carry):
                last = s_[-1]["created"]
                if last.tzinfo is not None:
                    last = last.replace(tzinfo=None)
                ref = now.replace(tzinfo=None) if now.tzinfo is not None else now
                if (ref - last).total_seconds() > self.gap:
                    self._dispatch_window(s_)
                    emitted += 1
                else:
                    rest.extend(s_)
            if emitted:
                self._save_carry(rest, self.carry_meta)
            return emitted


class SlidingTimeWindow(WindowEmitter):
    """Overlapping event-time windows: window ``i`` covers
    ``[i*slide, i*slide + interval)`` seconds — each row belongs to
    ``interval/slide`` windows. ABSENT in the reference (SURVEY §2.10);
    the aggregation-shaped scale path is ``streaming/aggregate.py::
    windowed_frame(interval, slide)`` (Spark's native sliding
    ``F.window``); this emitter is the record-shaped reference-protocol
    counterpart.

    Exactly-once per window via the FixedTimeWindow recipe: the carry
    meta's ``high_water`` is the newest emitted window index; a window
    emits when event time passes its end (or final drain / wall-clock
    flush), gaps emit EMPTY windows (emit_empty forced), and a row whose
    LAST containing window was already emitted is late -> dropped and
    counted."""

    def __init__(
        self, *args, interval: float = 1.0, slide: Optional[float] = None, **kwargs
    ):
        kwargs["emit_empty"] = True
        super().__init__(*args, **kwargs)
        self.interval = float(interval)
        self.slide = float(slide) if slide else self.interval
        if self.slide > self.interval:
            raise ValueError(
                f"slide ({self.slide}) must not exceed interval ({self.interval})"
            )

    def run(self, spark, **kwargs):
        kwargs.setdefault("trigger_seconds", self.slide)
        return super().run(spark, **kwargs)

    def _last_win(self, dt: datetime) -> int:
        """Index of the newest window containing ``dt`` (the row is late
        once this window has been emitted)."""
        import math

        return math.floor(dt.timestamp() / self.slide)

    def _first_win(self, dt: datetime) -> int:
        import math

        return math.floor((dt.timestamp() - self.interval) / self.slide) + 1

    def _drop_late(self, rows: list[dict], hw: Optional[int]) -> list[dict]:
        if hw is None:
            return rows
        live = [r for r in rows if self._last_win(r["created"]) > hw]
        self.late_dropped += len(rows) - len(live)
        return live

    def _emit_range(self, rows: list[dict], lo: int, hi: int) -> list[list[dict]]:
        wins = []
        for i in range(lo, hi + 1):
            start = i * self.slide
            end = start + self.interval
            wins.append(
                [r for r in rows if start <= r["created"].timestamp() < end]
            )
        return wins

    def split(self, rows, final):
        hw = self.carry_meta.get("high_water")
        rows = self._drop_late(rows, hw)
        if not rows:
            return [], []
        import math

        hi_t = max(r["created"] for r in rows).timestamp()
        if final:
            emit_hi = self._last_win(max(r["created"] for r in rows))
        else:
            # a window closes when OBSERVED event time passes its end
            emit_hi = math.floor((hi_t - self.interval) / self.slide)
        lo = hw + 1 if hw is not None else min(self._first_win(r["created"]) for r in rows)
        if emit_hi < lo:
            return [], rows
        windows = self._emit_range(rows, lo, emit_hi)
        self.carry_meta["high_water"] = emit_hi
        carry = [] if final else [
            r for r in rows if self._last_win(r["created"]) > emit_hi
        ]
        return windows, carry

    # -- wall-clock flush (same contract as FixedTimeWindow) ---------------
    def _start_flusher(self) -> None:
        def loop():
            while not self._stop_requested.wait(self.slide):
                try:
                    self.flush_closed()
                except Exception as ex:  # keep the flusher alive
                    self.emit_errors.append(ex)

        t = threading.Thread(target=loop, daemon=True, name=f"flush-{self.name}")
        self._flusher = t
        t.start()

    def flush_closed(self, now: Optional[datetime] = None) -> int:
        import math

        with self._emit_lock:
            carry, self.carry_meta = self._load_carry()
            hw = self.carry_meta.get("high_water")
            now_ts = (now or utcnow()).timestamp()
            closed_hi = math.floor((now_ts - self.interval) / self.slide)
            if hw is not None:
                lo = hw + 1
            elif carry:
                lo = min(self._first_win(r["created"]) for r in carry)
            else:
                lo = closed_hi
            if closed_hi < lo:
                return 0
            emitted = 0
            for w in self._emit_range(carry, lo, closed_hi):
                self._dispatch_window(w)
                emitted += 1
            self.carry_meta["high_water"] = closed_hi
            rest = [r for r in carry if self._last_win(r["created"]) > closed_hi]
            self._save_carry(rest, self.carry_meta)
            return emitted
