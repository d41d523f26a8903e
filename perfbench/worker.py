"""One benchmark run inside a fresh process: start Spark, run a
workload, write the result as JSON, exit.

Started by ``perfbench/run.py``; not meant to be run by hand. There is
no graceful Spark shutdown: the JVM exits when its stdin, held by this
process, closes, and ``run.py`` kills and reaps whatever is left of
this process's session.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    sys.path.insert(0, a.root)
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Ctx
    from searchengine_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=int(os.environ["SPARK_GRAFT_CPUS"]))
    spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(bool(a.trace))
    tracer.install(spark)
    out = WORKLOADS[a.workload](Ctx(spark, a.work, a.seed, tracer))
    out.named["spark_start_s"] = spark_s
    if tracer.enabled:
        tracer.write_spans(a.out + ".spans.jsonl")
    with open(a.out + ".tmp", "w") as f:
        json.dump(
            {
                "attempted": out.attempted,
                "failed": out.failed,
                "end_to_end": out.end_to_end(),
                "named": out.named,
                "layers": out.layers,
                "host": out.host,
            },
            f,
        )
    os.replace(a.out + ".tmp", a.out)
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(code)
