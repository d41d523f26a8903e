"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload query --seed 1 --trace 0

Run from the root of a checkout. The workload runs in a child process
on ``local[<cpus>]`` with a driver heap sized from /proc/meminfo and
private Spark scratch dirs; this process samples the resident memory of
the child, its JVM and the Python workers, removes the scratch dirs and
makes sure every process it started has ended: it kills the child's
whole session and waits for each of its processes.

The last line of standard output is one JSON object: with ``--trace 0``
the end-to-end metrics (END_TO_END) of an untraced run, with
``--trace 1`` the per-layer ones (LAYERS) of a traced run, whose spans
go to ``.perfbench/traces/``. An untraced run first prints its
workload's own figures (NAMED), one ``name value unit`` line each.
Every run is appended to ``.perfbench/results.jsonl``.

A run does a fixed amount of work (see ``perfbench/workloads.py``).
``--seconds`` is accepted, since benchmark runners pass it, and ignored.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("query", "write")
TIMEOUT_S = 165
HEAP_CAP_MB = 3072
STEAL_WARN = 0.05
PR_SET_PDEATHSIG = 1
PR_SET_CHILD_SUBREAPER = 36

# Both workloads report these. CPU seconds of the run's session
# (driver, JVM, Python workers), not wall time: on a shared virtual host
# the hypervisor steals 1-25% of CPU time from run to run, and wall times
# move with it by up to a third; stolen time is not charged to processes.
# ``setup_s`` too is CPU seconds (its wall time is ``setup_wall_s``).
# On ``write`` the single queries are the live-index probes.
END_TO_END = {"setup_s": "s", "query_cpu_s": "s", "work_cpu_s": "s"}
# each workload's own end-to-end figures, printed by name
NAMED = {
    "query": {
        "query_p50_s": "s",
        "query_p90_s": "s",
        "query_samples": "count",
        "query_qps": "1/s",
        "batch_qps": "1/s",
    },
    "write": {
        "build_docs_per_s": "1/s",
        "index_bytes_per_posting": "B",
        "ingest_docs_per_s": "1/s",
        "live_query_p50_s": "s",
        "live_query_samples": "count",
        "dedup_docs_per_s": "1/s",
        "ann_qps": "1/s",
        "ann_recall_at10": "ratio",
    },
}
# query-path layers: the stream phase of ``query``, its batch phase
# (``batch.`` prefix) and the live probes of ``write`` report them
_QUERY_LAYERS = {
    "parser.parse_s": "s",
    "compiler.stats_s": "s",
    "compiler.stats_cache_hit_ratio": "ratio",
    "compiler.compile_s": "s",
    "engine.jobs_per_query": "count",
    "engine.exec_s": "s",
    "scan.rows": "count",
    "scan.bytes": "B",
    "scan.files": "count",
    "scan.useful_ratio": "ratio",
    "shuffle.bytes": "B",
    "shuffle.write_s": "s",
    "udf.rows": "count",
    "udf.bytes_sent": "B",
    "udf.bytes_received": "B",
    "udf.python_s": "s",
    "topk.rows_in": "count",
}
LAYERS = {
    **_QUERY_LAYERS,
    **{"batch." + k: unit for k, unit in _QUERY_LAYERS.items()},
    "build.tokenize_s": "s",
    "build.stats_agg_s": "s",
    "build.write_s": "s",
    "build.postings": "count",
    "ingest.stream_s": "s",
    "ingest.compact_s": "s",
    "ingest.segments": "count",
    "ingest.bytes_written_per_delta_byte": "ratio",
    "dedup.minhash_s": "s",
    "dedup.pairs": "count",
    "dedup.planted_recall": "ratio",
    "ann.ivf_build_s": "s",
    "ann.ivf_query_s": "s",
    "jvm.gc_s": "s",
    "host.steal_ratio": "ratio",
    "host.load1": "count",
    "trace.overhead_ratio": "ratio",
}


def _driver_heap_mb() -> int:
    """A quarter of physical memory, at most HEAP_CAP_MB: local mode runs
    every executor inside the driver JVM, and the package's own default
    (32g) gets the JVM OOM-killed on small hosts."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return min(HEAP_CAP_MB, int(line.split()[1]) // 1024 // 4)
    return 1024


def _session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid``. The session, not the process
    group: PySpark's worker daemon moves itself into a process group of
    its own, but it stays in the session it was started in."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        if int(fields[3]) == sid and fields[0] != "Z":  # zombies have ended
            pids.append(int(name))
    return pids


def _session_rss_mb(sid: int) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _session_pids(sid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total / 2**20


def _become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process rather than
    to init, so that ``_reap_session`` can wait for every one of them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _die_with_parent() -> None:
    """In the child, before exec: be SIGKILLed if this process dies, so
    that even a SIGKILL to it leaves no workload behind (the JVM and the
    PySpark daemon exit when the worker's pipes close)."""
    ctypes.CDLL(None).prctl(PR_SET_PDEATHSIG, signal.SIGKILL, 0, 0, 0)


def _reap_session(child: subprocess.Popen) -> None:
    """SIGKILL every process of the child's session until none is left,
    then wait for the child and for every orphan re-parented to us."""
    while pids := _session_pids(child.pid):
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
    child.wait()
    while True:
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


def _remove_dead_runs(work_root: str) -> None:
    """Remove the scratch dirs of runs whose runner is gone: a SIGKILL
    leaves no chance to clean up."""
    if not os.path.isdir(work_root):
        return
    for name in os.listdir(work_root):
        pid = int(name.removeprefix("run-"))
        if not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(work_root, name), ignore_errors=True)


def _trace_overhead(results_path: str, workload: str, traced_cpu_s: float) -> float:
    """Traced ``work_cpu_s`` over the median untraced ``work_cpu_s`` of
    the same workload in earlier runs, minus 1; 0 when there is none."""
    untraced = []
    if os.path.exists(results_path):
        with open(results_path) as f:
            for line in f:
                r = json.loads(line)
                cpu = r["end_to_end"].get("work_cpu_s")  # absent in older records
                if r["workload"] == workload and not r["trace"] and cpu is not None:
                    untraced.append(cpu)
    if not untraced:
        print("perfbench: no untraced run of this workload yet; trace.overhead_ratio is 0",
              file=sys.stderr)
        return 0.0
    return traced_cpu_s / statistics.median(untraced) - 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seconds", help="ignored: a run's work is fixed")
    a = ap.parse_args()

    for need in ("searchengine_spark/engine.py", "tests/oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2

    base = os.path.join(ROOT, ".perfbench")
    _remove_dead_runs(os.path.join(base, "work"))
    work = os.path.join(base, "work", f"run-{os.getpid()}")
    os.makedirs(work)
    out_path = os.path.join(work, "result.json")
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        PYTHONHASHSEED="0",
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEM=f"{_driver_heap_mb()}m",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false pyspark-shell",
    )
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace), "--root", ROOT, "--work", work, "--out", out_path,
    ]
    # on SIGTERM, unwind through the ``finally`` below, which reaps the child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _become_subreaper()
    peak = 0.0
    t0 = time.monotonic()
    child = subprocess.Popen(
        cmd, cwd=work, env=env, stdout=sys.stderr.fileno(), start_new_session=True,
        preexec_fn=_die_with_parent,
    )
    try:
        while child.poll() is None:
            peak = max(peak, _session_rss_mb(child.pid))
            if time.monotonic() - t0 > TIMEOUT_S:
                print("perfbench: run timed out", file=sys.stderr)
                break
            time.sleep(0.2)
    finally:
        _reap_session(child)
        result = None
        if child.returncode == 0 and os.path.exists(out_path):
            with open(out_path) as f:
                result = json.load(f)
            spans = out_path + ".spans.jsonl"
            if os.path.exists(spans):
                os.makedirs(os.path.join(base, "traces"), exist_ok=True)
                shutil.move(
                    spans, os.path.join(base, "traces", f"{a.workload}-seed{a.seed}.jsonl")
                )
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        print(f"perfbench: workload exited with {child.returncode}", file=sys.stderr)
        return 1

    results_path = os.path.join(base, "results.jsonl")
    if a.trace:
        layers = dict(result["layers"])
        layers["trace.overhead_ratio"] = _trace_overhead(
            results_path, a.workload, result["end_to_end"]["work_cpu_s"]
        )
        values = {k: layers.get(k, 0.0) for k in LAYERS}
        units = LAYERS
    else:
        values = result["end_to_end"]
        units = END_TO_END
        named = {
            "spark_start_s": (result["named"]["spark_start_s"], "s"),
            **{k: (v, "s") for k, v in values.items()},
            **{k: (result["named"][k], u) for k, u in NAMED[a.workload].items()},
            "peak_rss_mb": (peak, "MB"),
            "failed_ratio": (result["failed"] / result["attempted"], "ratio"),
        }
        for k, (v, u) in named.items():
            print(f"{k} {v:.6g} {u}")
    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "wall_s": time.monotonic() - t0, "peak_rss_mb": peak, **result,
    }
    with open(results_path, "a") as f:
        f.write(json.dumps(record) + "\n")
    steal = result["host"]["steal_ratio"]
    if steal > STEAL_WARN:
        print(f"perfbench: warning: {steal:.1%} of CPU time stolen while measuring",
              file=sys.stderr)
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
