"""Incremental dedup store invariants beyond the DuckDB oracle (the oracle
already proves two-shard == single-pass on the real corpus; these pin the
semantics on adversarial synthetic shards and the store's append-immunity).

Reference analog: the consume-once buffer contract
(/root/reference/minibatch/models.py:139-151) and the 10/2=>5 batch
invariant style of its tests/test_minibatch.py:48-87 — here as a two-shard
invariant: shard2's duplicates against shard1 are caught from the signature
store alone, without re-reading shard1's documents.
"""

import os

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _store(spark, tmp_path, name="store"):
    from minibatch_spark.operators.incremental import MinhashDedupStore

    return MinhashDedupStore(spark, os.path.join(str(tmp_path), name))


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BASE = "the quick brown fox jumps over the lazy dog again and again today"
NEAR = "the quick brown fox jumps over the lazy dog again and again tonight"
OTHER = "completely different content about spark partitions and shuffles here"


def test_second_shard_dups_caught_from_store(spark, tmp_path):
    """Shard2 exact copy and near copy of shard1 docs are dropped; novel
    content keeps. Shard1's documents are NOT re-read — the store holds
    only hashes and signatures."""
    store = _store(spark, tmp_path)
    r1 = store.process_batch(_docs(spark, [(1, BASE), (2, OTHER)]))
    assert {r.doc_id: r.keep for r in r1.collect()} == {1: 1, 2: 1}
    r2 = store.process_batch(
        _docs(spark, [(10, BASE), (11, NEAR), (12, "tiny new doc here ok")])
    )
    got = {r.doc_id: r.keep for r in r2.collect()}
    assert got[10] == 0  # exact dup of shard1's doc 1 (store hash hit)
    assert got[11] == 0  # near dup of shard1's doc 1 (signature store hit)
    assert got[12] == 1  # novel content survives


def test_within_shard_lowest_id_wins(spark, tmp_path):
    store = _store(spark, tmp_path)
    r = store.process_batch(
        _docs(spark, [(5, BASE), (3, BASE), (7, NEAR), (9, OTHER)])
    )
    got = {r_.doc_id: r_.keep for r_ in r.collect()}
    # 3 is the exact-dup rep (lowest id); 5 exact-dropped; 7 near-dropped
    assert got == {3: 1, 5: 0, 7: 0, 9: 1}


def test_two_shard_equals_single_pass_on_corpus(spark, tmp_path):
    """Batch invariance on the real sf0.001 corpus: one shard through a
    fresh store == the registered two-shard query == three shards."""
    from minibatch_spark.catalog import load_table
    from minibatch_spark.registry import all_queries

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    single = _store(spark, tmp_path, "single")
    one = {r.doc_id: r.keep for r in single.process_batch(docs).collect()}

    two = {
        r.doc_id: r.keep
        for r in all_queries()["dedup_incremental_minhash"](spark, SF_SMOKE).collect()
    }
    assert one == two

    tri = _store(spark, tmp_path, "tri")
    parts = [
        docs.filter(F.col("doc_id") % 500 < 167),
        docs.filter((F.col("doc_id") % 500 >= 167) & (F.col("doc_id") % 500 < 334)),
        docs.filter(F.col("doc_id") % 500 >= 334),
    ]
    # NOTE: id-ordered shards are the exactness contract; these modulo
    # splits are ascending ranges for the dense 0..499 ids of sf0.001
    three = {}
    for p in parts:
        three.update(
            {r.doc_id: r.keep for r in tri.process_batch(p).collect()}
        )
    assert one == three


def test_earlier_shard_result_survives_later_appends(spark, tmp_path):
    """Append-immunity regression (the round-5 bug): shard1's returned
    frame must keep its values after shard2 grows the store — the store
    reads pin a file-list snapshot, so even a cache-evicted recompute of
    shard1's lineage cannot observe shard2's appends."""
    store = _store(spark, tmp_path)
    r1 = store.process_batch(_docs(spark, [(1, BASE), (2, OTHER)]))
    before = sorted((r.doc_id, r.keep) for r in r1.collect())
    store.process_batch(_docs(spark, [(10, BASE), (11, NEAR)]))
    # force lineage recompute of shard1's result (cache dropped)
    r1.unpersist(blocking=True)
    after = sorted((r.doc_id, r.keep) for r in r1.collect())
    assert before == after == [(1, 1), (2, 1)]


def test_short_docs_only_exact_deduped(spark, tmp_path):
    """Docs under 3 tokens have no shingles/signature: exact duplicates are
    still caught (hash store), near-dup logic never fires (no signature to
    pair on) — the dedup_minhash_pairs contract carried over."""
    store = _store(spark, tmp_path)
    r1 = store.process_batch(_docs(spark, [(1, "hi there"), (2, "yo")]))
    assert {r.doc_id: r.keep for r in r1.collect()} == {1: 1, 2: 1}
    r2 = store.process_batch(_docs(spark, [(3, "hi there"), (4, "hi  there")]))
    got = {r.doc_id: r.keep for r in r2.collect()}
    assert got[3] == 0  # byte-exact dup across shards
    assert got[4] == 1  # whitespace variant: different bytes, no signature


def test_compaction_interleaved_keeps_results_identical(spark, tmp_path):
    """compact_bands between shards must not change any keep decision:
    three shards with a compaction after shard 1 and another after shard
    2 (exercising base+delta AND recompaction of an existing base) yield
    the same keep set as one uncompacted single pass."""
    from minibatch_spark.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    single = _store(spark, tmp_path, "plain")
    one = {r.doc_id: r.keep for r in single.process_batch(docs).collect()}

    comp = _store(spark, tmp_path, "compacted")
    parts = [
        docs.filter(F.col("doc_id") % 500 < 167),
        docs.filter((F.col("doc_id") % 500 >= 167) & (F.col("doc_id") % 500 < 334)),
        docs.filter(F.col("doc_id") % 500 >= 334),
    ]
    got = {}
    got.update({r.doc_id: r.keep for r in comp.process_batch(parts[0]).collect()})
    comp.compact_bands(n_buckets=4)
    got.update({r.doc_id: r.keep for r in comp.process_batch(parts[1]).collect()})
    comp.compact_bands(n_buckets=4)  # recompaction: old base + new delta
    got.update({r.doc_id: r.keep for r in comp.process_batch(parts[2]).collect()})
    assert one == got


def test_store_survives_process_restart_after_compaction(spark, tmp_path):
    """Cross-restart durability (ADVICE r6, high): write_bucketed registers
    the compacted base only in the creating session's in-memory catalog, so
    a fresh process must re-register it from the manifest. Simulated here
    by DROPping the table (external — data files untouched) and opening a
    NEW store object on the same dir: bands() must resolve, keep decisions
    must still see the standing store, and the re-registered table must
    still read Bucketed."""
    store = _store(spark, tmp_path, "restart")
    store.process_batch(_docs(spark, [(1, BASE), (2, OTHER)]))
    store.compact_bands(n_buckets=4)
    name = store._bands_table_name()
    spark.sql(f"DROP TABLE IF EXISTS {name}")  # simulate process restart

    reopened = _store(spark, tmp_path, "restart")
    # the re-registration keeps the bucketed layout (checked where it
    # matters — a join on the bucket key, before any delta unions in): the
    # store side reads Bucketed with no Exchange above it
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = spark.range(3).select(
            F.md5(F.col("id").cast("string")).alias("band_key")
        ).repartition(4, "band_key")
        joined = reopened.bands().join(probe, "band_key")
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Bucketed: true" in plan, plan
    assert plan.count("Exchange") == 1, plan

    r2 = reopened.process_batch(
        _docs(spark, [(10, BASE), (11, NEAR), (12, "tiny new doc here ok")])
    )
    got = {r.doc_id: r.keep for r in r2.collect()}
    assert got == {10: 0, 11: 0, 12: 1}


def test_legacy_store_without_bands_backfills(spark, tmp_path):
    """Backward compat (ADVICE r6, medium): a store written before band
    persistence existed has sigs/ but no bands/. bands() must backfill
    from the signatures (once, persisted) instead of silently returning an
    empty band table — else every near-dup against standing content gets
    keep=1."""
    import shutil

    store = _store(spark, tmp_path, "legacy")
    store.process_batch(_docs(spark, [(1, BASE), (2, OTHER)]))
    shutil.rmtree(store.bands_dir, ignore_errors=True)
    if os.path.exists(store._manifest_path):
        os.remove(store._manifest_path)

    reopened = _store(spark, tmp_path, "legacy")
    r2 = reopened.process_batch(_docs(spark, [(11, NEAR)]))
    assert {r.doc_id: r.keep for r in r2.collect()} == {11: 0}
    # the migration persisted: bands dir materialized, not re-derived
    assert reopened._files(reopened.bands_dir)


def test_manifest_coverage_is_path_normalized(spark, tmp_path):
    """ADVICE r6, low: covered-file membership must survive path-form
    differences (relative store_dir / redundant segments) — mangled
    manifest paths must NOT resurface compacted raw files as delta."""
    import json as _json

    store = _store(spark, tmp_path, "paths")
    store.process_batch(_docs(spark, [(1, BASE), (2, OTHER)]))
    store.compact_bands(n_buckets=4)
    clean = store.bands().count()

    with open(store._manifest_path) as f:
        man = _json.load(f)
    man["covered_files"] = [
        os.path.join(os.path.dirname(p), "x", "..", os.path.basename(p))
        for p in man["covered_files"]
    ]
    with open(store._manifest_path, "w") as f:
        _json.dump(man, f)
    assert store.bands().count() == clean


def test_compacted_store_join_no_store_exchange(spark, tmp_path):
    """The at-scale claim as a PLAN, not prose: after compact_bands the
    store's band table is bucketed by band_key, so a candidate join
    against a non-broadcastable shard shuffles ONLY the shard — the plan
    shows exactly one Exchange (the shard's repartition to the bucket
    layout) and none above the store scan, whose bucketed layout
    satisfies the join's hash distribution."""
    from minibatch_spark.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    store = _store(spark, tmp_path, "bucketed")
    store.process_batch(docs)
    n_buckets = 4
    store.compact_bands(n_buckets=n_buckets)

    shard = _docs(
        spark, [(9001, BASE), (9002, NEAR), (9003, OTHER)]
    )
    from minibatch_spark.operators.dedup import (
        fast_minhash_sig,
        shingle_hashes,
        shingles_of,
        tokens,
    )
    from minibatch_spark.operators.incremental import band_keys

    sh = (
        shard.select("doc_id", tokens("text").alias("tk"))
        .select("doc_id", shingles_of(F.col("tk")).alias("sh"))
        .filter(F.size("sh") > 0)
    )
    shard_bands = band_keys(
        sh.select("doc_id", shingle_hashes(F.col("sh")).alias("hs")).select(
            "doc_id", fast_minhash_sig(F.col("hs")).alias("sig")
        )
    ).repartition(n_buckets, "band_key")

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = store.bands().alias("a").join(
            shard_bands.alias("b"),
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Bucketed: true" in plan, plan
    assert plan.count("Exchange") == 1, plan


# --- round 9: LSM pruning of the standing-side reads ---------------------


def test_full_compact_interleaved_keeps_results_identical(spark, tmp_path):
    """compact() (bands + exact + sigs bases) between shards must not
    change any keep decision — the pruned base+delta reads see exactly
    the rows the flat layout did."""
    from minibatch_spark.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    single = _store(spark, tmp_path, "plainfull")
    one = {r.doc_id: r.keep for r in single.process_batch(docs).collect()}

    comp = _store(spark, tmp_path, "fullcompact")
    parts = [
        docs.filter(F.col("doc_id") % 500 < 167),
        docs.filter((F.col("doc_id") % 500 >= 167) & (F.col("doc_id") % 500 < 334)),
        docs.filter(F.col("doc_id") % 500 >= 334),
    ]
    got = {}
    got.update({r.doc_id: r.keep for r in comp.process_batch(parts[0]).collect()})
    comp.compact(n_buckets=4)
    got.update({r.doc_id: r.keep for r in comp.process_batch(parts[1]).collect()})
    comp.compact(n_buckets=4)  # recompaction: bases + new deltas
    got.update({r.doc_id: r.keep for r in comp.process_batch(parts[2]).collect()})
    assert one == got


def test_band_base_prune_shows_partition_filters(spark, tmp_path):
    """The verdict's done-criterion verbatim: after compaction the band
    base is partitioned by the 2-hex band_key prefix, and a pruned read
    plans a Catalyst PartitionFilter — non-matching directories are never
    listed into the scan (checked through inputFiles too)."""
    from minibatch_spark.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    store = _store(spark, tmp_path, "pfilter")
    store.process_batch(docs)
    # target_partition_bytes=1 forces the finest (gsz=1, 256-dir) split:
    # the default scales partition count to base size, and a test-sized
    # store would get ONE unpartitioned base (nothing to prune)
    store.compact(n_buckets=4, target_partition_bytes=1)

    some = [
        r.p
        for r in store.bands()
        .select(F.substring("band_key", 1, 2).alias("p"))
        .distinct()
        .limit(3)
        .collect()
    ]
    pruned = store.bands(prefixes=some)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bp" in plan, plan
    from minibatch_spark.operators.incremental import _groups_of

    allowed = {f"bp={g}" for g in _groups_of(some, 1)}
    for f in pruned.inputFiles():
        seg = next((s for s in f.split("/") if s.startswith("bp=")), None)
        assert seg is None or seg in allowed, f
    # and the pruned view is exactly the matching slice of the full view
    full = {
        (r.doc_id, r.band_key)
        for r in store.bands().collect()
        if r.band_key[:2] in set(some)
    }
    assert {(r.doc_id, r.band_key) for r in pruned.collect()} == full


def test_exact_and_sig_base_prune_input_files(spark, tmp_path):
    """exact()/sigs() pruned reads touch only matching base partition
    dirs (driver-side file pruning over the pinned snapshot list), and
    return exactly the matching slice."""
    from minibatch_spark.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    store = _store(spark, tmp_path, "xprune")
    store.process_batch(docs)
    store.compact(n_buckets=4, target_partition_bytes=1)
    # one delta batch on top of the bases
    store.process_batch(_docs(spark, [(9001, "novel text about pruning ok yes")]))

    fullx = {(r.text_hash, r.doc_id) for r in store.exact().collect()}
    px = sorted({h[:2] for h, _ in fullx})[:3]
    from minibatch_spark.operators.incremental import _groups_of

    pruned = store.exact(prefixes=px)
    for f in pruned.inputFiles():
        seg = next((s for s in f.split("/") if s.startswith("xp=")), None)
        assert seg is None or seg in {
            f"xp={g}" for g in _groups_of(px, 1)
        }, f
    got = {(r.text_hash, r.doc_id) for r in pruned.collect()}
    want = {(h, d) for h, d in fullx if h[:2] in set(px) or d == 9001}
    assert got == want

    fulls = {r.doc_id for r in store.sigs().collect()}
    ds = sorted({d % 256 for d in fulls})[:3]
    sp = store.sigs(dpfxs=ds)
    for f in sp.inputFiles():
        seg = next((s for s in f.split("/") if s.startswith("sp=")), None)
        assert seg is None or seg in {
            f"sp={g}" for g in _groups_of(ds, 1)
        }, f
    assert {r.doc_id for r in sp.collect()} == {
        d for d in fulls if d % 256 in set(ds) or d == 9001
    }


def test_compact_gcs_raw_and_absorbed_tag_raises(spark, tmp_path):
    """After compact(): covered raw files are RECLAIMED (their rows live
    in the bases), the store still answers correctly, and re-appending an
    absorbed tag raises loudly instead of writing rows rollback could
    never remove."""
    import pytest

    store = _store(spark, tmp_path, "gcstore")
    store.process_batch(_docs(spark, [(1, BASE), (2, OTHER)]), batch_tag="t0")
    store.compact(n_buckets=4)
    # raw roots hold no data files any more — everything absorbed
    assert store._files(store.bands_dir) == []
    assert store._files(store.exact_dir) == []
    assert store._files(store.sigs_dir) == []
    # data intact through the bases
    r2 = store.process_batch(_docs(spark, [(10, BASE), (11, NEAR)]))
    assert {r.doc_id: r.keep for r in r2.collect()} == {10: 0, 11: 0}
    # absorbed tag is permanently masked
    with pytest.raises(ValueError, match="absorbed"):
        store.process_batch(_docs(spark, [(20, "whatever new text")]), batch_tag="t0")


def test_store_survives_restart_after_full_compact(spark, tmp_path):
    """Partitioned-base restart path: a fresh process re-registers the
    partitioned bucketed band table (CREATE TABLE + MSCK REPAIR — without
    the repair the table silently reads zero rows) and the roots manifest
    resolves exact/sigs bases by path."""
    store = _store(spark, tmp_path, "restartfull")
    store.process_batch(_docs(spark, [(1, BASE), (2, OTHER)]))
    store.compact(n_buckets=4)
    nbands = store.bands().count()
    assert nbands > 0
    spark.sql(f"DROP TABLE IF EXISTS {store._bands_table_name()}")

    reopened = _store(spark, tmp_path, "restartfull")
    assert reopened.bands().count() == nbands
    r2 = reopened.process_batch(
        _docs(spark, [(10, BASE), (11, NEAR), (12, "tiny new doc here ok")])
    )
    assert {r.doc_id: r.keep for r in r2.collect()} == {10: 0, 11: 0, 12: 1}


def test_maybe_compact_gates_on_delta_ratio(spark, tmp_path):
    """maybe_compact is the LSM merge policy: a no-op while accumulated
    deltas sit under max(min_delta_bytes, ratio x base bytes), a real
    compaction once they exceed it — and never wrong either way."""
    from minibatch_spark.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    store = _store(spark, tmp_path, "gate")
    store.process_batch(docs.filter(F.col("doc_id") < 100))
    # tiny store, huge min_delta_bytes -> gate closed, nothing compacts
    assert store.maybe_compact(min_delta_bytes=1 << 30) is False
    assert store._manifest() is None
    # gate forced open -> compacts for real
    assert store.maybe_compact(min_delta_bytes=0, ratio=0.0) is True
    assert store._manifest() is not None
    # freshly compacted, no deltas -> closed again even at ratio 0.25
    assert store.maybe_compact(min_delta_bytes=0) is False
    # keep decisions unaffected by the gate dance
    r = store.process_batch(docs.filter(F.col("doc_id") < 100))
    assert r.filter(F.col("keep") == 1).count() + r.filter(
        F.col("keep") == 0
    ).count() == r.count()
    assert r.filter(F.col("keep") == 1).count() == 0  # all dups of batch 1


def test_epoch_cache_survives_clear_cache_and_flips(spark, tmp_path):
    """The epoch-cached bases must never change RESULTS: keep decisions
    are identical whether the cache is warm, externally cleared
    (clearCache drops the blocks; stage_is_live forces a re-persist from
    the immutable base location), or invalidated by a compaction flip."""
    from minibatch_spark.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    s1, s2, s3 = (
        docs.filter(F.col("doc_id") % 3 == i) for i in range(3)
    )

    def run(store, clear_between):
        ks = []
        for i, sh in enumerate((s1, s2, s3)):
            if i == 1:
                store.maybe_compact(min_delta_bytes=0, ratio=0.0)
            if clear_between and i > 0:
                store.spark.catalog.clearCache()
            r = store.process_batch(sh)
            ks.extend(
                sorted((x.doc_id, x.keep) for x in r.collect())
            )
        return ks

    a = run(_store(spark, tmp_path, "cacheA"), clear_between=False)
    b = run(_store(spark, tmp_path, "cacheB"), clear_between=True)
    assert a == b and len(a) > 0


# --- null texts and candidate accounting ---------------------------------


def _oracle_keep(rows):
    """The ``dedup_incremental_minhash`` DuckDB oracle over ``rows``."""
    import duckdb

    from minibatch_spark.operators.incremental import _incremental_oracle

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    try:
        return sorted(tuple(r) for r in con.execute(_incremental_oracle()).fetchall())
    finally:
        con.close()


def test_null_text_docs_match_oracle(spark, tmp_path):
    """NULL texts hash to NULL: the oracle treats them as one text (the
    lowest id keeps, the rest are exact dups), so no doc may vanish from
    the result — in one batch, or split across two batches, where the
    second batch's NULL must match the stored NULL hash."""
    rows = [(1, "a b c d e"), (2, None), (3, None), (4, "a b c d e")]
    want = _oracle_keep(rows)
    assert want == [(1, 1), (2, 1), (3, 0), (4, 0)]

    one = _store(spark, tmp_path, "one").process_batch(_docs(spark, rows))
    assert sorted((r.doc_id, r.keep) for r in one.collect()) == want

    store = _store(spark, tmp_path, "two")
    got = []
    for part in (rows[:2], rows[2:]):
        got += [(r.doc_id, r.keep) for r in store.process_batch(_docs(spark, part)).collect()]
    assert sorted(got) == want


def test_candidate_count_observed_without_extra_count(spark, tmp_path, monkeypatch):
    """count_candidates records the batch's distinct candidate pairs
    through an Observation on the result action: the figure is exact and
    the batch runs no more count() actions than with the flag off."""
    import pyspark.sql.classic.dataframe as cdf

    counts = []
    real = cdf.DataFrame.count
    monkeypatch.setattr(
        cdf.DataFrame, "count", lambda self: counts.append(1) or real(self)
    )

    def run(flag):
        store = _store(spark, tmp_path, f"cand-{flag}")
        store.count_candidates = flag
        store.process_batch(_docs(spark, [(1, BASE), (2, OTHER)]))
        del counts[:]
        store.process_batch(_docs(spark, [(10, BASE), (11, NEAR), (12, NEAR)]))
        return store.last_cand_count, len(counts)

    off, n_off = run(False)
    on, n_on = run(True)
    assert off is None
    assert n_on == n_off
    # new reps 11 (12 is its exact dup): 11 pairs with stored doc 1
    assert on == 1
