"""``dedup_ingest``: a seeded document corpus with planted exact and near
duplicates, streamed one shard per micro-batch through
``streaming.dedup_stream.dedup_doc_stream(available_now=True)`` into a
fresh ``MinhashDedupStore``.

The corpus is written as shards in ascending doc_id ranges with ordered
mtimes, so the file source delivers them in id order. The compaction
cadence and size gate (``compact_every``, ``compact_min_delta_bytes`` in
``config.json``) are set so that the store compacts at least twice per
ingest. The ingest is repeated, each time into a fresh store, sink and
checkpoint, until ``--seconds`` have been spent.

``throughput_per_s`` is corpus docs over the wall time from query start to
termination (median over ingests); the latency figures are the
``triggerExecution`` of every micro-batch, from the query's own progress
events. The kept ids of every ingest must equal the
``dedup_incremental_minhash`` oracle run in DuckDB over the same corpus;
each doc on which they differ is a failed operation.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import common

SCHEMA = "doc_id long, text string"


def make_corpus(out: str, seed: int, shards: int, per_shard: int, vocab: int) -> int:
    """Write the corpus; returns the number of docs. A doc is fresh zipf
    text, an exact copy of an earlier doc, or a near copy (one word
    replaced). Most copies point at a doc of an earlier shard, the rest at
    an earlier doc of the same shard."""
    rng = np.random.default_rng(seed)
    words = np.array([f"w{i}" for i in range(vocab)])
    z = 1.0 / np.arange(1, vocab + 1) ** 1.1
    cdf = np.cumsum(z / z.sum())
    texts: list[str] = []
    os.makedirs(out, exist_ok=True)
    for s in range(shards):
        lo = s * per_shard
        for i in range(lo, lo + per_shard):
            r = rng.random()
            if i > 0 and r < 0.12:
                if lo == 0 or (i > lo and rng.random() < 0.25):
                    a, b = lo, i  # an earlier doc of this shard
                else:
                    a, b = 0, lo  # a doc of an earlier shard
                src = texts[int(rng.integers(a, b))]
                if r < 0.05:
                    texts.append(src)
                else:
                    toks = src.split()
                    toks[int(rng.integers(0, len(toks)))] = words[int(rng.integers(0, vocab))]
                    texts.append(" ".join(toks))
            else:
                n = int(rng.integers(20, 80))
                texts.append(" ".join(words[np.searchsorted(cdf, rng.random(n))]))
        path = os.path.join(out, f"shard-{s:05d}.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(np.arange(lo, lo + per_shard), pa.int64()),
                    "text": pa.array(texts[lo:]),
                }
            ),
            path,
        )
        os.utime(path, (1e9 + s, 1e9 + s))
    return len(texts)


def _ingest(spark, shards_dir: str, root: str, cfg: dict):
    """One ingest into a fresh store; returns (wall_s, query)."""
    from minibatch_spark.streaming.dedup_stream import dedup_doc_stream

    docs = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(shards_dir)
    )
    t = time.perf_counter()
    q = dedup_doc_stream(
        spark,
        docs,
        os.path.join(root, "store"),
        os.path.join(root, "sink"),
        os.path.join(root, "ckpt"),
        available_now=True,
        compact_every=cfg["compact_every"],
        compact_min_delta_bytes=cfg["compact_min_delta_bytes"],
    )
    q.awaitTermination()
    return time.perf_counter() - t, q


def _oracle_kept(shards_dir: str) -> set[int]:
    import duckdb

    from minibatch_spark.registry import all_oracles

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{shards_dir}/*.parquet')"
    )
    r = con.execute(all_oracles()["dedup_incremental_minhash"]).df()
    con.close()
    return set(int(x) for x in r[r.keep == 1].doc_id)


def _dir_size(path: str) -> tuple[int, int]:
    n = b = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                b += os.path.getsize(os.path.join(d, f))
    return b, n


class _StoreTimers:
    """Timing wrappers on MinhashDedupStore's public per-batch methods,
    keyed by (store directory, micro-batch tag the stream handler
    passes)."""

    def __init__(self):
        from minibatch_spark.operators.incremental import MinhashDedupStore

        self.cls = MinhashDedupStore
        self.saved = {}
        self.ms = {"process_batch": {}, "rollback": {}, "maybe_compact": {}}

        def wrap(name, tag_of):
            orig = getattr(self.cls, name)
            self.saved[name] = orig
            rec = self.ms[name]

            def timed(store, *args, **kwargs):
                t = time.perf_counter()
                try:
                    return orig(store, *args, **kwargs)
                finally:
                    key = (store.store_dir, tag_of(args, kwargs))
                    rec[key] = rec.get(key, 0.0) + (time.perf_counter() - t) * 1e3

            setattr(self.cls, name, timed)

        wrap("process_batch", lambda a, k: k.get("batch_tag"))
        wrap("rollback", lambda a, k: a[0] if a else k.get("batch_tag"))
        wrap("maybe_compact", lambda a, k: next(iter(k.get("exclude_tags") or {None})))

    def restore(self):
        for name, fn in self.saved.items():
            setattr(self.cls, name, fn)


def run(work: str, seed: int, seconds: int, trace: bool) -> dict:
    cfg = common.config()["dedup_ingest"]
    shards, per = cfg["shards"], cfg["docs_per_shard"]

    t = time.perf_counter()
    spark = common.start_spark(work, "perfbench-dedup_ingest", trace)
    session_s = time.perf_counter() - t
    gen_s = []
    for r in range(cfg["gen_reps"]):
        t = time.perf_counter()
        corpus = os.path.join(work, f"corpus{r}")
        n_docs = make_corpus(corpus, seed, shards, per, cfg["vocab"])
        gen_s.append(time.perf_counter() - t)
    # warm-up: one uncounted ingest of a separate small corpus
    t = time.perf_counter()
    warm = os.path.join(work, "warm")
    make_corpus(warm, seed + 1, cfg["warm_shards"], cfg["warm_docs"], cfg["vocab"])
    _ingest(spark, warm, os.path.join(work, "warm-run"), cfg)
    warm_s = time.perf_counter() - t
    setup_s = session_s + common.median(gen_s) + warm_s

    listener = timers = None
    if trace:
        listener = common.progress_listener()
        spark.streams.addListener(listener)
        timers = _StoreTimers()
    walls, batches, roots, qids = [], [], [], []
    t_end = time.perf_counter() + seconds
    try:
        while not walls or time.perf_counter() < t_end:
            root = os.path.join(work, f"ingest{len(walls)}")
            wall, q = _ingest(spark, corpus, root, cfg)
            walls.append(wall)
            roots.append(root)
            qids.append(str(q.id))
            batches.extend(
                p["durationMs"]["triggerExecution"]
                for p in q.recentProgress
                if p["numInputRows"] > 0
            )
    finally:
        if timers is not None:
            timers.restore()
    rss = common.peak_rss_mb()

    from minibatch_spark.streaming.dedup_stream import read_kept

    want = _oracle_kept(corpus)
    failed, errors = 0, []
    for root in roots:
        got = {
            int(r[0])
            for r in read_kept(spark, os.path.join(root, "sink"))
            .select("doc_id")
            .collect()
        }
        diff = got ^ want
        if diff:
            failed += len(diff)
            errors.append(
                f"{root}: kept {len(got)} vs oracle {len(want)}, {len(diff)} docs differ"
            )
    tail_ms, tail_pct = common.tail(batches)
    e2e = {
        "setup_s": setup_s,
        "peak_rss_mb": rss,
        "throughput_per_s": common.median([n_docs / w for w in walls]),
        "latency_p50_ms": common.median(batches),
        "latency_tail_ms": tail_ms,
    }
    out = {
        "attempted": n_docs * len(walls),
        "failed": failed,
        "errors": errors,
        "e2e": e2e,
        "named": {
            "dedup_docs_per_s": e2e["throughput_per_s"],
            "dedup_batch_p50_ms": e2e["latency_p50_ms"],
            "dedup_batch_tail_ms": tail_ms,
            "dedup_batch_tail_pct": tail_pct,
            "ingests": len(walls),
            "docs": n_docs,
            "kept": len(want),
            "session_s": session_s,
            "gen_s": common.median(gen_s),
            "warm_s": warm_s,
        },
        "spark": spark,
    }
    if not trace:
        return out

    # per-batch layers over every ingest of the timed region
    rows = []
    for qid, root in zip(qids, roots):
        store = os.path.abspath(os.path.join(root, "store"))
        for p in listener.events[qid]:
            if p["numInputRows"] == 0:
                continue
            key = (store, f"batch-{p['batchId']}")
            d = p["durationMs"]
            proc = timers.ms["process_batch"].get(key, 0.0)
            roll = timers.ms["rollback"].get(key, 0.0)
            comp = timers.ms["maybe_compact"].get(key, 0.0)
            rows.append(
                {
                    "qid": qid,
                    "batch": p["batchId"],
                    "trigger": d.get("triggerExecution", 0),
                    "add": d.get("addBatch", 0),
                    "latest": d.get("latestOffset", 0),
                    "proc": proc,
                    "roll": roll,
                    "comp": comp,
                    "sink": d.get("addBatch", 0) - proc - roll - comp,
                }
            )
    first = [r for r in rows if r["qid"] == qids[0]]
    store_bytes, store_files = _dir_size(os.path.join(roots[0], "store"))
    out["layers"] = {
        "dedup.batches": len(first),
        "dedup.add_batch_ms_p50": common.median([r["add"] for r in rows]),
        "dedup.process_batch_ms_p50": common.median([r["proc"] for r in rows]),
        "dedup.rollback_ms_p50": common.median([r["roll"] for r in rows]),
        "dedup.sink_write_ms_p50": common.median([r["sink"] for r in rows]),
        "dedup.latest_offset_ms_p50": common.median([r["latest"] for r in rows]),
        "dedup.kept_ratio": len(want) / n_docs,
        "dedup.compact_ms_total": sum(r["comp"] for r in first),
        "dedup.store_bytes_end": store_bytes,
        "dedup.store_files_end": store_files,
        "dedup.batch_ms_slope": common.slope([r["trigger"] for r in first]),
        "dedup.batch_tail_pct": tail_pct,
        "latency_p50_ms": e2e["latency_p50_ms"],
        "latency_tail_ms": e2e["latency_tail_ms"],
    }
    out["after_stop"] = lambda folded: {
        "dedup.jobs_per_batch": common.median(
            [common.jobs_per_batch(folded, qid) for qid in qids]
        )
    }
    return out
