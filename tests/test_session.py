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


def test_jit_pool_is_one_c1_and_one_c2_thread(spark):
    """``get_spark`` launches the local-mode JVM (driver and every
    executor) with two JIT compiler threads; it passes the flag through
    ``spark.driver.defaultJavaOptions``, so ``extraJavaOptions`` stays
    the caller's and a caller's own ``-XX:CICompilerCount`` still wins."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert bean.getVMOption("CICompilerCount").getValue() == "2"
    # Spark itself fills extraJavaOptions with its --add-opens list;
    # the JIT flag must not be in it
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.driver.defaultJavaOptions") == "-XX:CICompilerCount=2"
    assert "CICompilerCount" not in conf.get("spark.driver.extraJavaOptions", "")


def test_column_call_site_capture_is_off(spark):
    """``get_spark`` turns off PySpark's per-Column call-site capture,
    which costs several py4j round trips per Column operator."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


def test_codegen_cache_holds_a_warm_query_session(spark):
    """``get_spark`` sizes the (static) generated-class cache above
    Spark's default of 100 entries, which one warm round of the
    perfbench query shapes overflows."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000"


def test_pyfiles_zip_imports_standalone(tmp_path):
    """The ``scripts/make_pyfiles.py`` zip (what ``spark-submit
    --py-files`` ships) is self-contained: a fresh interpreter with only
    the zip on its path imports the package from it and parses and
    tokenizes like the checkout (a data file the zip missed would fail
    here)."""
    import os
    import subprocess
    import sys

    from searchengine_spark.analyzer import analyzer_version, get_analyzer
    from searchengine_spark.plans.parser import parse_query

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = str(tmp_path / "searchengine_spark.zip")
    subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "make_pyfiles.py"), zip_path],
        check=True, capture_output=True,
    )
    query, text = "#and(running.title #near/2(cats dogs))", "The Running Cats"
    child = (
        "import searchengine_spark\n"
        "from searchengine_spark.analyzer import analyzer_version, get_analyzer\n"
        "from searchengine_spark.plans.parser import parse_query\n"
        "print(searchengine_spark.__file__)\n"
        f"print(repr(parse_query({query!r}, analyzer='english')))\n"
        f"print(get_analyzer('english').tokens({text!r}))\n"
        "print(analyzer_version('english'))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = zip_path
    out = subprocess.run(
        [sys.executable, "-c", child], cwd=tmp_path, env=env,
        check=True, capture_output=True, text=True,
    ).stdout.splitlines()
    assert out[0].startswith(zip_path + os.sep), out[0]
    assert out[1:] == [
        repr(parse_query(query, analyzer="english")),
        str(get_analyzer("english").tokens(text)),
        analyzer_version("english"),
    ]
