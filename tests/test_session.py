"""Session factory settings that decide whether a run fits its host."""

from __future__ import annotations

from opay_datalake_script_spark.session import driver_heap, host_memory_bytes


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        return next(int(line.split()[1]) * 1024 for line in f if line.startswith("MemTotal:"))


def test_driver_heap_fits_host_memory(spark):
    """A heap above physical memory lets the JVM grow until the kernel
    OOM-kills it mid-suite; the test session's heap must be the
    host-derived default and sit below MemTotal."""
    mem_total = _mem_total_bytes()
    assert host_memory_bytes() <= mem_total
    conf = spark.sparkContext.getConf().get("spark.driver.memory")
    assert conf == driver_heap()
    assert int(conf.removesuffix("m")) << 20 < mem_total
    max_heap = spark._jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert 0 < max_heap < mem_total
