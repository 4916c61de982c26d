"""``batch_queries``: the 16 ``bench.py`` HEADLINE registry queries over a
seeded ``tools/gen_sf`` data set, repeated in passes into a noop sink
with ``clearCache()`` between queries, as ``bench.py`` does.

The seed generates the data set and fixes the query order of each pass.
A query's time is plan construction (the registry call) plus noop
execution; each query's figure is its median over the passes.

``throughput_per_s`` is queries per second over one pass (16 over the sum
of the per-query medians); ``latency_p50_ms`` and ``latency_tail_ms`` are
the median and the tail of every timed execution. The uncounted warm-up
pass collects each result; after the timed passes those results are
compared with the registry's DuckDB oracles, exactly and
order-insensitively. Every timed execution of a
query whose result differs is a failed operation.
"""

from __future__ import annotations

import contextlib
import io
import os
import random
import time

import common

RELATIONAL = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "filter_project_lineitem",
    "window_rank_orders",
    "sessionize_events",
    "agg_distinct_users",
    "tumbling_window_events",
    "topk_orders",
)
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def make_data(out: str, seed: int, sf: float) -> str:
    from tools import gen_sf

    gen_sf.SEED = seed
    with contextlib.redirect_stdout(io.StringIO()):
        return gen_sf.gen(sf, out)


def _oracle_errors(sf_dir: str, results: dict) -> dict[str, str]:
    import duckdb

    from minibatch_spark.registry import all_oracles

    oracles = all_oracles()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    errors = {}
    for name, got in results.items():
        msg = common.frames_mismatch(got, con.execute(oracles[name]).df(), name)
        if msg:
            errors[name] = msg
    con.close()
    return errors


def run(work: str, seed: int, seconds: int, trace: bool) -> dict:
    from bench import HEADLINE
    from minibatch_spark.registry import all_queries

    cfg = common.config()["batch_queries"]
    queries = all_queries()

    gen_s = []
    for r in range(cfg["gen_reps"]):
        t = time.perf_counter()
        sf_dir = make_data(os.path.join(work, f"data{r}"), seed, cfg["sf"])
        gen_s.append(time.perf_counter() - t)
    t = time.perf_counter()
    spark = common.start_spark(work, "perfbench-batch_queries", trace)
    session_s = time.perf_counter() - t

    # warm-up: every plan shape once, results kept for the oracle check
    t = time.perf_counter()
    results = {}
    for name in HEADLINE:
        results[name] = queries[name](spark, sf_dir).toPandas()
        spark.catalog.clearCache()
    warm_s = time.perf_counter() - t
    setup_s = session_s + common.median(gen_s) + warm_s

    sc = spark.sparkContext
    plan_ms = {n: [] for n in HEADLINE}
    total_ms = {n: [] for n in HEADLINE}
    passes = 0
    t_end = time.perf_counter() + seconds
    while passes < cfg["min_passes"] or time.perf_counter() < t_end:
        order = list(HEADLINE)
        random.Random(seed * 1000 + passes).shuffle(order)
        for name in order:
            if trace:
                sc.setJobDescription(name)
            t = time.perf_counter()
            df = queries[name](spark, sf_dir)
            t_plan = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t_done = time.perf_counter()
            spark.catalog.clearCache()
            plan_ms[name].append((t_plan - t) * 1e3)
            total_ms[name].append((t_done - t) * 1e3)
        passes += 1
    if trace:
        sc.setJobDescription(None)
    rss = common.peak_rss_mb()

    errors = _oracle_errors(sf_dir, results)
    med = {n: common.median(v) for n, v in total_ms.items()}
    every = [x for v in total_ms.values() for x in v]
    tail_ms, tail_pct = common.tail(every)
    relational_s = sum(med[n] for n in RELATIONAL) / 1e3
    llm_s = sum(med[n] for n in HEADLINE if n not in RELATIONAL) / 1e3
    e2e = {
        "setup_s": setup_s,
        "peak_rss_mb": rss,
        "throughput_per_s": len(HEADLINE) / (relational_s + llm_s),
        "latency_p50_ms": common.median(every),
        "latency_tail_ms": tail_ms,
    }
    out = {
        "attempted": len(every),
        "failed": sum(len(total_ms[n]) for n in errors),
        "errors": list(errors.values()),
        "e2e": e2e,
        "named": {
            "batch_relational_s": relational_s,
            "batch_llm_s": llm_s,
            "query_tail_pct": tail_pct,
            "passes": passes,
            "sf": cfg["sf"],
            "session_s": session_s,
            "gen_s": common.median(gen_s),
            "warm_s": warm_s,
        },
        "spark": spark,
    }
    if not trace:
        return out

    layers = {
        "batch.relational_s": relational_s,
        "batch.llm_s": llm_s,
        "batch.query_tail_pct": tail_pct,
        "latency_p50_ms": e2e["latency_p50_ms"],
        "latency_tail_ms": e2e["latency_tail_ms"],
    }
    for n in HEADLINE:
        layers[f"batch.plan_ms.{n}"] = common.median(plan_ms[n])
        layers[f"batch.exec_ms.{n}"] = common.median(
            [t - p for t, p in zip(total_ms[n], plan_ms[n])]
        )
    out["layers"] = layers

    def after_stop(folded):
        per = {}
        sums = {"stages": 0, "gc_ms": 0, "spill_bytes": 0, "input_bytes": 0}
        for j in folded["jobs"].values():
            if j["desc"] not in total_ms:
                continue
            q = per.setdefault(j["desc"], {"tasks": 0, "shuffle_bytes": 0, "run_ms": 0})
            for k in q:
                q[k] += j[k]
            for k in sums:
                sums[k] += j[k]
        # per execution: the timed region ran every query ``passes`` times
        got = {}
        for n in HEADLINE:
            q = per.get(n, {"tasks": 0, "shuffle_bytes": 0, "run_ms": 0})
            got[f"batch.tasks.{n}"] = q["tasks"] / passes
            got[f"batch.shuffle_bytes.{n}"] = q["shuffle_bytes"] / passes
            got[f"batch.executor_run_ms.{n}"] = q["run_ms"] / passes
        for k, v in sums.items():
            got[f"batch.{k}"] = v / passes
        return got

    out["after_stop"] = after_stop
    return out
