"""Substage profile of #window/#near on a persisted index.

    PROFILE_INDEX=/tmp/scale_idx/index PROFILE_CPUS=32 python scripts/profile_window.py

Times: (a) the raw 2-term postings scan, (b) scan + groupBy co-location,
(c) the full positional op through the merge UDF, (d) the end-to-end
ranked query. Each best-of-3 after warm-up, so stage deltas attribute
the cost.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

IDX_DIR = os.environ.get("PROFILE_INDEX", "/tmp/scale_idx/index")
CPUS = int(os.environ.get("PROFILE_CPUS", "32"))
QUERY = os.environ.get("PROFILE_QUERY", "#window/4(barim batok)")


def best_of(fn, k: int = 3) -> float:
    times = []
    for _ in range(k):
        t0 = time.time()
        fn()
        times.append(time.time() - t0)
    return min(times)


def main() -> None:
    from pyspark.sql import functions as F

    from searchengine_spark.engine import SearchEngine
    from searchengine_spark.index.build import read_index
    from searchengine_spark.session import get_spark

    spark = get_spark("profile-window", cores=CPUS, shuffle_partitions=2 * CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    idx = read_index(spark, IDX_DIR)
    eng = SearchEngine(idx)

    m = eng._model("rankedboolean")
    comp = eng.compiler(m)
    node = eng.parse(QUERY, m)
    # the #window node is the score root's only child
    iop_node = node.args[0]

    rows = comp.term_scan(
        iop_node.field, [("", i, t.term) for i, t in enumerate(iop_node.args)]
    )

    n_rows = rows.count()
    t_scan = best_of(lambda: rows.count())

    grouped = (
        rows.groupBy("qid", "doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("__ti", "positions"))).alias("__ps"),
            F.max("doc_len").alias("doc_len"),
        )
        .where(F.size("__ps") == len(iop_node.args))
    )
    n_docs = grouped.count()
    t_group = best_of(lambda: grouped.count())

    iop = comp.compile_iop(iop_node)
    n_hits = iop.frame.count()
    t_merge = best_of(lambda: iop.frame.count())

    eng.search(QUERY, model="rankedboolean", k=10, with_ext_id=False).collect()
    t_e2e = best_of(
        lambda: eng.search(QUERY, model="rankedboolean", k=10, with_ext_id=False).collect()
    )

    print(f"query={QUERY!r} scan_rows={n_rows} colocated_docs={n_docs} hit_docs={n_hits}")
    print(
        f"scan={t_scan:.2f}s +group={t_group:.2f}s +merge={t_merge:.2f}s e2e={t_e2e:.2f}s"
        f" (deltas: group={t_group - t_scan:.2f}s merge={t_merge - t_group:.2f}s"
        f" score+topk={t_e2e - t_merge:.2f}s)"
    )


if __name__ == "__main__":
    main()
