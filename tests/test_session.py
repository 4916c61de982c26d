"""Session defaults sized to the machine they run on."""

from minibatch_spark.session import _default_driver_memory


def test_default_driver_memory_is_half_of_memtotal_capped():
    with open("/proc/meminfo") as f:
        kb = next(int(x.split()[1]) for x in f if x.startswith("MemTotal:"))
    mb = int(_default_driver_memory().rstrip("m"))
    assert 1024 <= mb <= 16 * 1024
    assert mb == max(1024, min(16 * 1024, kb // 2048))
