"""Scaling-efficiency evidence for the north rule (N vs 4N parallelism).

No real cluster exists in this sandbox, so the same job runs at two
``local[N]`` levels (fresh JVM each) on the same input:

  python scripts/scaling.py            # parent: runs child at 8 and 32
  python scripts/scaling.py --child 8  # one measured run

Each measured child is launched exactly the way the north rule says the
job runs on a real cluster: ``spark-submit --master local[N]
--py-files searchengine_spark.zip scripts/scaling.py --child N`` — the
library is imported from the zip (asserted; ``pkg_file`` in the child
result is the evidence), not from the repo checkout. Set
``SCALING_SUBMIT=0`` to fall back to plain ``python`` children (e.g. if
no Spark distribution is on PATH).

Measured job: full inverted-index build (tokenize -> postings ->
varbyte encode -> stats) over a deterministic synthetic page corpus,
plus a BM25 query batch. Reports docs/sec at each level and
efficiency = (thr_4N / thr_N) / 4; the north rule wants >= 0.8.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if os.environ.get("SCALING_VIA_SUBMIT") != "1":
    sys.path.insert(0, REPO)
# under spark-submit the package must resolve via --py-files (the zip is
# prepended to sys.path by spark-submit itself); importing the checkout
# would make the --py-files claim hollow, so the insert above is skipped.

N_PAGES = int(os.environ.get("SCALING_PAGES", "60000"))


def child(cores: int) -> None:
    import searchengine_spark

    pkg_file = os.path.abspath(searchengine_spark.__file__)
    if os.environ.get("SCALING_VIA_SUBMIT") == "1":
        assert ".zip" in pkg_file, (
            f"child was launched via spark-submit --py-files but imported "
            f"the package from {pkg_file}, not the zip"
        )
    from searchengine_spark.corpus import extract_fields, make_pages
    from searchengine_spark.engine import SearchEngine
    from searchengine_spark.index.build import assign_doc_ids, build_index
    from searchengine_spark.session import get_spark

    # Same input at both levels; partitioning scales with cores exactly
    # as executor count would on a real cluster.
    parts = int(os.environ.get("SCALING_PARTITIONS", str(4 * cores)))
    spark = get_spark(f"scaling-{cores}", cores=cores, shuffle_partitions=parts)
    spark.sparkContext.setLogLevel("ERROR")

    pages = make_pages(spark, N_PAGES, seed=42, partitions=parts).persist()
    pages.count()  # generation excluded from the measured window

    t0 = time.time()
    docs = assign_doc_ids(extract_fields(pages), ext_id_col="url")
    idx = build_index(
        docs, fields={"body": "body", "title": "title"}, ext_id_col="url",
        analyzer="english",
    )
    n_post = idx.materialize()
    build_sec = time.time() - t0

    eng = SearchEngine(idx)
    q0 = time.time()
    for q in ["cerim dirim", "#near/2(barim batok)", "#syn(cerim bavex)"]:
        eng.search(q, model="bm25", k=10, with_ext_id=False).collect()
    query_sec = time.time() - q0

    # the batch API is how multi-query workloads should run: fused
    # flat + fused positional paths collapse per-query driver jobs,
    # so THIS number is the one that scales with executor count
    qb = [("a", "cerim dirim"), ("b", "#near/2(barim batok)"),
          ("c", "#syn(cerim bavex)"), ("d", "dirim bavex"),
          ("e", "#window/4(cerim batok)"), ("f", "#near/3(dirim balan)")]
    q0 = time.time()
    eng.run_batch(qb, model="bm25", k=10).collect()
    batch_sec = time.time() - q0

    print(
        "CHILD_RESULT "
        + json.dumps(
            {
                "cores": cores,
                "n_pages": N_PAGES,
                "build_sec": round(build_sec, 3),
                "docs_per_sec": round(N_PAGES / build_sec, 1),
                "n_postings": int(n_post),
                "query_batch_sec": round(query_sec, 3),
                "run_batch_fused_sec": round(batch_sec, 3),
                "pkg_file": pkg_file,
                "launched_via": (
                    "spark-submit --py-files"
                    if os.environ.get("SCALING_VIA_SUBMIT") == "1"
                    else "python"
                ),
            }
        )
    )


def _child_cmd(cores: int) -> tuple[list[str], dict[str, str]]:
    """spark-submit --py-files when a Spark distribution is available
    (the north rule's literal launch mode); plain python otherwise."""
    env = dict(os.environ)
    submit = shutil.which("spark-submit") if env.get("SCALING_SUBMIT", "1") == "1" else None
    if not submit:
        env.pop("SCALING_VIA_SUBMIT", None)
        return [sys.executable, os.path.abspath(__file__), "--child", str(cores)], env
    from searchengine_spark.session import driver_memory

    zip_path = os.path.join(REPO, "searchengine_spark.zip")
    # always rebuild: a stale zip would silently measure old code
    subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "make_pyfiles.py"), zip_path],
        check=True, cwd=REPO,
    )
    env["SCALING_VIA_SUBMIT"] = "1"
    # children import the library from the zip, never the checkout
    env.pop("PYTHONPATH", None)
    return [
        submit,
        "--master", f"local[{cores}]",
        "--driver-memory", driver_memory(),
        "--conf", "spark.ui.enabled=false",
        "--py-files", zip_path,
        os.path.abspath(__file__), "--child", str(cores),
    ], env


def parent() -> None:
    """Interleaved best-of-k trials per level: the sandbox host is shared
    and noisy (load from outside the container), so single runs swing
    2-3x; the max throughput per level is the least noise-biased
    capacity estimate."""
    levels = [int(x) for x in os.environ.get("SCALING_LEVELS", "2,8").split(",")]
    trials = int(os.environ.get("SCALING_TRIALS", "3"))
    runs: dict[int, list] = {c: [] for c in levels}
    for _ in range(trials):
        for cores in levels:
            cmd, env = _child_cmd(cores)
            out = subprocess.run(
                cmd, capture_output=True, text=True, cwd="/tmp", env=env,
                timeout=3600,
            )
            line = [l for l in out.stdout.splitlines() if l.startswith("CHILD_RESULT ")]
            if not line:
                print(out.stdout[-2000:], out.stderr[-2000:], file=sys.stderr)
                raise RuntimeError(f"child {cores} failed")
            runs[cores].append(json.loads(line[-1][len("CHILD_RESULT "):]))

    lo, hi = levels[0], levels[-1]
    best = {c: max(rs, key=lambda r: r["docs_per_sec"]) for c, rs in runs.items()}
    thr_lo, thr_hi = best[lo]["docs_per_sec"], best[hi]["docs_per_sec"]
    factor = hi / lo
    eff = (thr_hi / thr_lo) / factor
    report = {
        "n_pages": N_PAGES,
        "levels": levels,
        "trials_per_level": trials,
        "launched_via": best[hi].get("launched_via", "python"),
        "pkg_file": best[hi].get("pkg_file", ""),
        "all_runs": runs,
        f"best_local{lo}": best[lo],
        f"best_local{hi}": best[hi],
        "speedup": round(thr_hi / thr_lo, 3),
        "core_factor": factor,
        "scaling_efficiency": round(eff, 3),
        "meets_north_rule_0.8": eff >= 0.8,
        # batch-API query scaling (fused paths): min wall per level
        "run_batch_fused_sec": {
            c: min(r.get("run_batch_fused_sec", 0.0) for r in rs)
            for c, rs in runs.items()
        },
    }
    print(json.dumps(report, indent=2))
    with open(os.path.join(REPO, "SCALING.json"), "w") as fh:
        json.dump(report, fh, indent=2)


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--child":
        child(int(sys.argv[2]))
    else:
        parent()
