"""Per-layer tracing from outside the program.

Spans come from wrappers this module installs around the package's
public functions (parser, compiler, engine, top-k) and from explicit
``span`` blocks the workloads put around the calls they make (build,
write, ingest, compaction, MinHash, IVF). Per-operator counts come from
the executed Spark plan of each action the benchmark runs; Spark job
counts from one job group per operation; GC time from the JVM MXBeans.

Nothing here runs in an untraced run: ``Tracer(enabled=False)`` hands
out no-op spans and installs no wrappers.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import time
from collections import defaultdict

# plan nodes that wrap a single child without changing its rows
_PASS_THROUGH = ("ColumnarToRow", "InputAdapter", "WholeStageCodegen", "Project")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.measuring = False
        self.totals: dict[str, float] = defaultdict(float)
        self.spans: list[dict] = []
        self._phase_from = 0
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self._seen_cached: set[int] = set()
        self._groups = itertools.count(1)
        self._sc = None

    # -- spans ----------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Time a block as a child of the enclosing span; add its
        duration to ``totals[name]`` while measuring."""
        if not (self.enabled and self.measuring):
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.totals[name] += t1 - t0
            self.spans.append(
                {"id": sid, "parent": parent, "name": name, "start": t0, "end": t1, **attrs}
            )

    @contextlib.contextmanager
    def operation(self, name: str):
        """One workload operation: a span plus a Spark job group, whose
        job count lands in ``totals["jobs.<name>"]``."""
        if not (self.enabled and self.measuring):
            yield
            return
        group = f"perfbench-{next(self._groups)}"
        self._sc.setJobGroup(group, name)
        try:
            with self.span(name):
                yield
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = self._sc.statusTracker().getJobIdsForGroup(group)
            self.totals["jobs." + name] += len(jobs)

    # -- wrappers around the package's public functions -----------------

    def install(self, spark) -> None:
        if not self.enabled:
            return
        self._sc = spark.sparkContext
        from searchengine_spark import engine
        from searchengine_spark.plans import compiler, parser
        from searchengine_spark.plans.ast import TermNode

        def wrap(owner, attr, name, before=None):
            fn = getattr(owner, attr)

            def wrapped(*a, **kw):
                if before is not None and self.measuring:
                    before(*a, **kw)
                with self.span(name):
                    return fn(*a, **kw)

            setattr(owner, attr, wrapped)

        def terms(node, out):
            if isinstance(node, TermNode):
                out.add((node.term, node.field))
            elif node is not None:
                for a in node.args:
                    terms(a, out)

        def count_cache_hits(comp, node):
            wanted: set = set()
            terms(node, wanted)
            self.totals["stats_wanted"] += len(wanted)
            self.totals["stats_hits"] += sum(1 for tf in wanted if tf in comp.term_stats)

        wrap(parser.QueryParser, "parse", "parser.parse")
        wrap(compiler.Compiler, "prefetch_term_stats", "compiler.stats", before=count_cache_hits)
        wrap(compiler.Compiler, "compile", "compiler.compile")
        wrap(engine.SearchEngine, "search", "engine.search")
        wrap(engine.SearchEngine, "run_batch", "engine.run_batch")
        wrap(engine, "topk", "topk.topk")

    def new_phase(self) -> None:
        """Start counting afresh (spans are kept for the trace file)."""
        self.totals.clear()
        self._phase_from = len(self.spans)

    def self_time(self, name: str, child: str) -> float:
        """Total of ``name`` spans minus the ``child`` spans nested in
        them, in the current phase."""
        spans = self.spans[self._phase_from:]
        by_id = {s["id"]: s for s in spans}
        inner = sum(
            s["end"] - s["start"]
            for s in spans
            if s["name"] == child and s["parent"] in by_id and by_id[s["parent"]]["name"] == name
        )
        return self.totals.get(name, 0.0) - inner

    # -- executed-plan SQL metrics --------------------------------------

    def plan_metrics(self, df) -> None:
        """Fold the SQL metrics of ``df``'s last executed plan into totals."""
        if not (self.enabled and self.measuring):
            return
        self._walk(df._jdf.queryExecution().executedPlan())

    def _walk(self, node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return self._walk(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return self._walk(node.plan())
        if cls == "ReusedExchangeExec":
            return  # counted where the exchange first ran
        name = node.nodeName()
        m = _metrics(node)
        if cls == "InMemoryTableScanExec":
            # a frame the engine persisted inside compile(): its plan ran
            # in an earlier job of this operation; count it once
            plan = node.relation().cachedPlan()
            key = plan.hashCode()
            if key not in self._seen_cached:
                self._seen_cached.add(key)
                self._walk(plan)
        elif cls == "FileSourceScanExec":
            self.totals["scan.rows"] += m.get("numOutputRows", 0)
            self.totals["scan.bytes"] += m.get("filesSize", 0)
            self.totals["scan.files"] += m.get("numFiles", 0)
        elif name == "Filter" and _reaches_scan(node):
            self.totals["scan.useful_rows"] += m.get("numOutputRows", 0)
        if "shuffleBytesWritten" in m:
            self.totals["shuffle.bytes"] += m["shuffleBytesWritten"]
            self.totals["shuffle.write_ns"] += m.get("shuffleWriteTime", 0)
        if "pythonDataSent" in m:
            self.totals["udf.rows"] += m.get("pythonNumRowsReceived", 0)
            self.totals["udf.bytes_sent"] += m["pythonDataSent"]
            self.totals["udf.bytes_received"] += m.get("pythonDataReceived", 0)
            # summed over tasks, so it is worker time, not wall time
            self.totals["udf.python_ms"] += m.get("pythonTotalTime", 0)
        if name in ("TakeOrderedAndProject", "WindowGroupLimit"):
            self.totals["topk.rows_in"] += _input_rows(node)
        kids = node.children()
        for i in range(kids.size()):
            self._walk(kids.apply(i))

    def gc_seconds(self, spark) -> float:
        beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _metrics(node) -> dict:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def _single_child(node):
    kids = node.children()
    return kids.apply(0) if kids.size() == 1 else None


def _reaches_scan(node) -> bool:
    """A Filter applied straight to a file scan (the term filter)."""
    child = _single_child(node)
    while child is not None:
        cls = child.getClass().getSimpleName()
        if cls == "FileSourceScanExec":
            return True
        if not child.nodeName().startswith(_PASS_THROUGH):
            return False
        child = _single_child(child)
    return False


def _input_rows(node) -> float:
    """Rows the child of ``node`` produced (first counted descendant)."""
    child = _single_child(node)
    while child is not None:
        cls = child.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            child = child.executedPlan()
            continue
        if cls.endswith("QueryStageExec"):
            child = child.plan()
            continue
        m = _metrics(child)
        if "numOutputRows" in m:
            return m["numOutputRows"]
        child = _single_child(child)
    return 0


class HostSample:
    """/proc/stat steal and total jiffies plus load average at one instant."""

    def __init__(self):
        with open("/proc/stat") as f:
            cpu = [int(x) for x in f.readline().split()[1:]]
        self.total = sum(cpu[:8])  # guest time is already inside user
        self.steal = cpu[7] if len(cpu) > 7 else 0
        with open("/proc/loadavg") as f:
            self.load1 = float(f.read().split()[0])

    def steal_ratio(self, later: "HostSample") -> float:
        dt = later.total - self.total
        return (later.steal - self.steal) / dt if dt > 0 else 0.0


def session_cpu_s() -> float:
    """CPU seconds used so far by this session: the driver, its JVM and
    the Python workers, with their reaped children. (PySpark's worker
    daemon leaves the driver's process group but not its session.) Time
    the hypervisor steals from the host is not in it."""
    sid = os.getsid(0)
    ticks = 0
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # ended while listing
        fields = stat[stat.rfind(")") + 2:].split()
        if int(fields[3]) == sid:
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")
