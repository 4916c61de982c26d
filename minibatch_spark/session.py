"""SparkSession factory with scale-aware defaults.

The reference has no session concept beyond ``connectdb`` (MongoDB alias
setup, minibatch/__init__.py:157-194); here the session is the engine.

Defaults are chosen for the 100 TB design target but parameterized so
local[] testing uses the same code path:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  dynamic join-strategy switch (sort-merge -> broadcast when a side turns
  out small). At 1000 executors this is what keeps a 100 TB shuffle sane.
- shuffle.partitions: for local tests = cores; on a real cluster the AQE
  coalescing makes the initial number a ceiling, not a target.
- Arrow on: every pandas_udf / toPandas crosses JVM<->Python via Arrow
  batches instead of pickled rows.
- UTC session timezone: the reference stores naive-UTC datetimes everywhere
  (minibatch/models.py:122,141,165,169); pinning UTC makes parquet
  timestamp semantics deterministic across engines.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> str:
    """Cores for local[] and the default shuffle partitions: the
    SPARK_GRAFT_CPUS override, else the CPUs this process may run on."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Testdata parquet stores TIMESTAMP(MICROS, isAdjustedToUTC=false); with
    # NTZ inference Spark 4 surfaces TIMESTAMP_NTZ, which epoch functions
    # (unix_millis et al) reject. Reading as TIMESTAMP_LTZ under the pinned
    # UTC session tz gives bit-identical arithmetic to DuckDB's naive µs.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # TIMESTAMP(NANOS) parquet columns surface as int64 ns (load_table casts
    # them to µs). Both timestamp confs ALSO self-set inside load_table:
    # the grading driver calls the engine from a VANILLA SparkSession that
    # never saw DEFAULT_CONF, so the reader must work either way.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # 128 MiB input splits: big enough to amortize task overhead, small
    # enough that a 100 TB scan parallelizes across ~800k tasks.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
}


def _default_driver_memory() -> str:
    """Half the machine's RAM (MemTotal), capped at 16g: a fixed 16g heap
    on a 15 GB host let the JVM grow until the kernel OOM-killed it."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(
                int(line.split()[1]) for line in f if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError):
        kb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 1024
    return f"{max(1024, min(16 * 1024, kb // 2048))}m"


def get_spark(
    app_name: str = "minibatch-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) the engine SparkSession.

    If a session already exists its immutable confs are left alone —
    matching SparkSession.builder semantics — so tests and the driver can
    share one JVM.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{_cpus()}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or _cpus())
    conf.setdefault("spark.driver.memory", _default_driver_memory())
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
