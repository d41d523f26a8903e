"""Session defaults must fit the host they run on."""

import re

from searchengine_spark.session import driver_memory


def _bytes(size: str) -> int:
    """Spark's size syntax (``6g``, ``6144m``; a bare number is MiB)."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", size.strip().lower())
    assert m, f"unparseable size {size!r}"
    unit = {"k": 1 << 10, "": 1 << 20, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    return int(m.group(1)) * unit[m.group(2)]


def _mem_total() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise AssertionError("no MemTotal in /proc/meminfo")


def test_driver_heap_fits_host(spark, monkeypatch):
    """Local mode runs every executor inside the driver JVM: a heap
    larger than physical RAM lets the kernel OOM-kill it mid-suite."""
    total = _mem_total()
    assert _bytes(spark.sparkContext.getConf().get("spark.driver.memory")) <= total
    # the default without an override leaves most of RAM to Python
    # workers and the page cache
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert 0 < _bytes(driver_memory()) <= total // 2
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"
