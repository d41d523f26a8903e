"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]`` but every config below is chosen for the
multi-executor case (AQE, skew-join handling, Arrow transfers); nothing here
assumes a single JVM.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def driver_memory() -> str:
    """``$SPARK_DRIVER_MEM``, else 40% of physical RAM. Local mode runs
    every executor inside the driver JVM, so a heap sized past the host
    lets the JVM grow until the kernel OOM-kills it mid-job; the rest of
    RAM is left to Python workers and the page cache."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{int(line.split()[1]) * 2 // 5 // 1024}m"
    except OSError:
        pass
    return "4g"


def get_spark(
    app_name: str = "searchengine-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or ``*``.
    ``shuffle_partitions`` defaults to 2x cores locally; on a real cluster
    leave it to AQE coalescing.
    """
    # Make the package importable inside executor Python workers no matter
    # where the driver was launched from (local-mode equivalent of
    # ``spark-submit --py-files searchengine_spark.zip``).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pythonpath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pythonpath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pythonpath if pythonpath else "")
        )

    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        ncores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        ncores = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * ncores)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce plans over persisted frames too: a streamed
        # batch's deduplicated pages (``streaming.ingest.write_batch``)
        # and the MinHash dedup caches keep as few partitions as their
        # rows need. Without it, perfbench `write` on a 4-vCPU host cost
        # 16% more work_cpu_s (6 interleaved pairs), and its live-index
        # probes after a streamed batch scanned 12 files each, not 5
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # orderBy().limit(n) plans as TakeOrderedAndProject, whose
        # per-task heap is sized 2n up front; from 1M rows on (a huge k,
        # or a run_batch of k * queries) a global sort is the safer plan
        .config("spark.sql.execution.topKSortFallbackThreshold", str(1_000_000))
        .config("spark.driver.memory", driver_memory())
        # one C1 + one C2 JIT thread (HotSpot picks 3 on 4 vCPUs). The
        # cold local[4] JVM of a perfbench `write` run on a 4-vCPU host
        # spent 73 of its 120 CPU-s in JIT threads, mostly C2 compiling
        # Spark's own code (Catalyst, Janino, Scala, JDK collections).
        # With one C2 thread, queued methods that cool off are dropped,
        # not compiled: median work_cpu_s fell 17% on `write` and 23% on
        # `query`. defaultJavaOptions goes ahead of a caller's
        # extraJavaOptions, so a caller's -XX:CICompilerCount still wins.
        .config("spark.driver.defaultJavaOptions", "-XX:CICompilerCount=2")
        # Janino's generated-class cache (default 100 entries) holds less
        # than one warm query session: 4 rounds of perfbench's 8 stream
        # and 8 batch queries (`query`, seed 1) in one local[4] session
        # on a 4-vCPU host still compiled 57 stream and 81 batch classes
        # in round 3 at 100 entries (6.73 and 5.60 CPU-s), and none at
        # 2000 (5.92 and 4.60 CPU-s)
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # PySpark 4 wraps every Column operator in a call-site capture
        # (a getActiveSession, a conf read, a PySparkCurrentOrigin set and
        # clear over py4j, and a stack walk). Off, building one warm
        # `search` plan makes 291 py4j calls instead of 731 (BM25, 3
        # terms) and 572 instead of 1,342 (Indri #and); analysis errors
        # then lose the Python file:line of the failing Column.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return builder.getOrCreate()


def arrow_frame(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """A driver-side table (``rows``: tuples, or a ``pyarrow.Table``) as
    a DataFrame of ``schema`` (DDL string or StructType), handed to the
    JVM as Arrow: it plans as a LocalTableScan (an RDD of Arrow batches
    past ``spark.sql.execution.arrow.localRelationThreshold``), runs no
    Python worker, and passes values (doubles, ``array<double>``)
    through exactly. ``createDataFrame(list)`` instead pickles the rows
    through a PythonRDD: ``defaultParallelism`` Python-worker tasks per
    table."""
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    if not isinstance(rows, pa.Table):
        arrow = to_arrow_schema(struct)
        cols = list(zip(*rows)) or [()] * len(arrow)
        rows = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
        )
    return spark.createDataFrame(rows, struct)


def map_literal(pairs, key: str, value: str) -> Column:
    """``pairs`` ``[(key, value)]`` as one ``map<key, value>`` Column
    (``key``, ``value``: DDL types; a struct given as a dict, an array
    as a list).

    It is ONE JSON string literal read by ``from_json``: three JVM
    calls and three plan nodes whatever its size, which the optimizer
    folds into one map Literal. (A ``lit`` per value, or the SQL text of
    a ``map(...)``, leaves a node per value in the analyzed plan for
    every later transformation to walk.) Generated code holds the
    Literal as a referenced object, so its values never enter a class's
    source and new values reuse compiled classes. JSON carries strings
    and doubles exactly; ``FAILFAST`` makes a value of the wrong type
    raise instead of reading as null. Read the map with ``element_at``
    on a key column, projected once (``withColumn``) where several
    expressions use the value."""
    text = json.dumps([{"key": k, "value": v} for k, v in pairs])
    schema = f"array<struct<key: {key}, value: {value}>>"
    return F.map_from_entries(F.from_json(F.lit(text), schema, {"mode": "FAILFAST"}))


def local_frame(df: DataFrame) -> tuple[pa.Table, DataFrame]:
    """``df`` collected once to the driver: its rows as a ``pyarrow``
    table and the same rows as a DataFrame read back from that table
    (``arrow_frame``: a LocalTableScan). Nothing is cached, so nothing
    has to be released; the caller reads counts and sums off the table.

    Only for results known to be small. The query path collects the
    derived list of a scored #NEAR/#WINDOW/#SYN with it: per query a
    #NEAR/#WINDOW list holds at most its smallest arg's df (a #SYN arg
    counts as the sum of its terms' dfs), a #SYN list at most that
    sum. It is the list the reference keeps in memory to score a
    derived operator (QryIop.java:174-190)."""
    table = df.toArrow()
    return table, arrow_frame(df.sparkSession, table, df.schema)
