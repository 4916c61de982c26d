"""Session defaults sized to the machine they run on."""

import os

from minibatch_spark.session import _cpus, _default_driver_memory


def test_default_driver_memory_is_half_of_memtotal_capped():
    with open("/proc/meminfo") as f:
        kb = next(int(x.split()[1]) for x in f if x.startswith("MemTotal:"))
    mb = int(_default_driver_memory().rstrip("m"))
    assert 1024 <= mb <= 16 * 1024
    assert mb == max(1024, min(16 * 1024, kb // 2048))


def test_default_cpus_are_the_cores_this_process_may_use(monkeypatch):
    """Without SPARK_GRAFT_CPUS, local[] and the shuffle partitions follow
    the CPUs the process may run on; the variable still wins."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _cpus() == str(len(os.sched_getaffinity(0)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _cpus() == "3"
