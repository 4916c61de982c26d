"""Streaming near-dup deduplication: a document stream deduplicated
micro-batch by micro-batch against the persisted MinHash signature store.

This closes the loop between the streaming surface and the LLM-pipeline
surface: `operators/incremental.py` gives per-shard batch dedup against
standing state (the reference's consume-once contract,
/root/reference/minibatch/models.py:139-151, re-expressed as a parquet
signature store); this module drives it from Structured Streaming so a
continuously-ingesting corpus is deduplicated exactly once, survivors
flowing to a parquet sink.

Exactly-once story (the part plain foreachBatch gets wrong): after a
crash, Spark REPLAYS the in-flight micro-batch with the same batch_id —
but `process_batch` appends to the store, so a naive replay would find
the replayed docs' own hashes in the store and drop every one of them as
a "duplicate" of itself. The fix is transactional store appends: each
micro-batch's appends are TAGGED (``tag=batch-<id>/`` subdirs) and the
handler ROLLS BACK its own tag before processing — a replay restores the
exact pre-batch store, then reprocesses, and emits to the sink
idempotently (overwrite-by-tag parquet subdir, same recipe as
streaming/sinks.py IdempotentParquetSink). First run and replay are
bit-identical.
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING, Callable, Optional

from pyspark.sql import Observation
from pyspark.sql import functions as F

from minibatch_spark.operators.incremental import MinhashDedupStore

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql.streaming import StreamingQuery


def dedup_doc_stream(
    spark: "SparkSession",
    docs: "DataFrame",
    store_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    on_batch: Optional[Callable[[int, int, int], None]] = None,
    compact_every: int = 16,
    compact_min_delta_bytes: int = 256 * 1024,
    compact_ratio: float = 0.25,
) -> "StreamingQuery":
    """Start the streaming dedup: ``docs`` is a STREAMING DataFrame with
    (doc_id long, text string) columns; kept documents land in
    ``sink_dir`` as parquet (doc_id, text), partitioned by micro-batch
    tag for idempotent replay.

    ``on_batch(batch_id, n_docs, n_kept)`` is an optional observer hook
    (metrics/backpressure), called after each batch's sink write. Its
    counts come from an ``Observation`` on that write, not from extra
    Spark jobs.

    ``compact_every=N`` (0 disables): every N batches the handler calls
    ``store.maybe_compact()`` at the ONE safe point the rollback
    contract allows — the start of a batch's handler, when every earlier
    batch's checkpoint has committed and can never be replayed. The call
    is RATIO-GATED (it compacts only once accumulated deltas exceed a
    fraction of the base — the LSM geometric-amortization contract), so
    most cadence hits are cheap no-ops. The current batch's own tag is
    EXCLUDED from any compaction (a replayed attempt may have left
    partial appends that must stay rollbackable), then rolled back and
    reprocessed as usual. Without a cadence a thousand-batch ingest
    accretes a delta file per root per batch forever.

    Scale shape per micro-batch: the batch's band table is broadcast
    against the standing store (store never shuffled, corpus text never
    rescanned — signature-width reads only); the store's compacted bases
    are EPOCH-CACHED executor-resident frames, so the per-batch standing
    read costs cached-block scans plus the bounded delta files; appends
    are parquet file adds. A micro-batch runs only the actions its output
    needs: the three tagged store appends (the sigs append doubles as a
    stage boundary, the exact and bands appends run beside the chain),
    two materializations in ``process_batch`` and the sink write; a
    compaction adds one rewrite per root, the three side by side. The
    store appends land before ``process_batch``'s result materializes, so
    a failure there leaves a tagged partial batch that the replay rolls
    back. A thousand-shard ingest costs the same total
    work as the one-shot batch dedup, which is the batch-invariance the
    `dedup_incremental_minhash` oracle pins."""
    store = MinhashDedupStore(spark, store_dir)

    def _handle(batch_df: "DataFrame", batch_id: int) -> None:
        tag = f"batch-{batch_id}"
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            # safe point: batches < batch_id are checkpoint-committed and
            # will never replay; THIS tag is excluded so a partial prior
            # attempt of this very batch stays raw for the rollback below
            store.maybe_compact(
                exclude_tags={tag},
                min_delta_bytes=compact_min_delta_bytes,
                ratio=compact_ratio,
            )
        # replay-safe: undo any prior (possibly partial) attempt of THIS
        # batch before reprocessing — restores the pre-batch store
        store.rollback(tag)
        docs_b = batch_df.select("doc_id", "text")
        result = store.process_batch(docs_b, batch_tag=tag)
        # the batch's counts ride on the sink write, so on_batch costs no
        # extra Spark job. Observed on the write's main path (every doc,
        # before the keep filter): on a join's build side AQE could prune
        # the node, metric and all, when the other side is empty
        counts = Observation()
        kept = (
            docs_b.join(result, "doc_id")
            .observe(
                counts,
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("keep").alias("n_kept"),
            )
            .filter(F.col("keep") == 1)
            .drop("keep")
        )
        out = os.path.join(sink_dir, f"tag={tag}")
        kept.write.mode("overwrite").parquet(out)  # idempotent by tag
        if on_batch is not None:
            m = counts.get
            on_batch(batch_id, m.get("n_docs", 0), m.get("n_kept") or 0)

    writer = docs.writeStream.foreachBatch(_handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_kept(spark: "SparkSession", sink_dir: str) -> "DataFrame":
    """The deduplicated corpus accumulated so far — COMMITTED tags only.

    A tag directory is committed iff its ``_SUCCESS`` marker exists:
    parquet directory reads ignore the marker, so a crashed mid-write
    batch would otherwise be visible here until its replay overwrites it.
    Reading the explicit committed-tag list also makes an existing-but-
    empty sink an empty frame instead of an AnalysisException (no files
    to infer a schema from)."""
    schema = "doc_id long, text string"
    if not os.path.isdir(sink_dir):
        return spark.createDataFrame([], schema)
    tags = sorted(
        os.path.join(sink_dir, d)
        for d in os.listdir(sink_dir)
        if d.startswith("tag=")
        and os.path.exists(os.path.join(sink_dir, d, "_SUCCESS"))
    )
    if not tags:
        return spark.createDataFrame([], schema)
    return (
        spark.read.option("basePath", sink_dir)
        .schema(schema + ", tag string")
        .parquet(*tags)
        .select("doc_id", "text")
    )
