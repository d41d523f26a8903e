"""The benchmark's workloads.

Each workload prepares its inputs with ``gen``, runs a fixed set of
operations (the same count on every run and every commit; only the
seed changes what they are), checks every operation's output against an
oracle, and returns an ``Outcome``. The untraced end-to-end numbers come
from ``Outcome``; the traced per-layer numbers from the ``Tracer``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import check, gen
from perfbench.trace import HostSample, Tracer, session_cpu_s

# Corpus and operation counts. Small enough that a run, its set-up and
# its checks take about a minute on a 4-vCPU host with little CPU steal,
# so the runner's 48 runs fit its time limit; the index fits in page
# cache.
QUERY_DOCS = 400
DOC_WORDS = (40, 150)  # body length range
INDEX_BUCKETS = 4  # term-hash buckets of the persisted index
STREAM_ROUNDS = 1  # stream queries: rounds x one query of each shape
STREAM_POOL_PER_SHAPE = 6  # a stream draws zipf-skewed from these
BATCH_QUERIES = 8  # one query file, 1 query per shape
TOP_K = 10
INGEST_BASE_DOCS = 600
INGEST_DELTA_DOCS = 150
INGEST_ROUNDS = 1
PROBES_PER_ROUND = 2
CURATE_DUPS = 40  # planted near-duplicate pages
DEDUP_THRESHOLD = 0.8
EMB_VECTORS = 8_000
EMB_DIM = 32
EMB_CLUSTERS = 48
IVF_CELLS = 32
IVF_PROBE = 4
ANN_QUERIES_PER_CALL = 16
ANN_CALLS = 1
SETUP_REPEATS = 3  # input generation runs this often; setup_s takes the median


@dataclass
class Outcome:
    # set-up: input generation (repeated), then the rest (index build,
    # warm-up); wall and CPU seconds
    gen_s: list[float] = field(default_factory=list)
    gen_cpu_s: list[float] = field(default_factory=list)
    prep_s: float = 0.0
    prep_cpu_s: float = 0.0
    latencies: list[float] = field(default_factory=list)  # the single queries
    query_cpu: list[float] = field(default_factory=list)  # their CPU seconds
    work_s: float = 0.0  # wall time of the measured operations
    work_cpu_s: float = 0.0  # CPU seconds of the measured operations
    attempted: int = 0
    failed: int = 0
    named: dict[str, float] = field(default_factory=dict)  # this workload's own figures
    layers: dict[str, float] = field(default_factory=dict)
    host: dict[str, float] = field(default_factory=dict)

    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": statistics.median(self.gen_cpu_s) + self.prep_cpu_s,
            "setup_wall_s": statistics.median(self.gen_s) + self.prep_s,
            "query_cpu_s": statistics.median(self.query_cpu) if self.query_cpu else 0.0,
            "work_s": self.work_s,
            "work_cpu_s": self.work_cpu_s,
        }


def _quantile(values: list[float], q: float) -> float:
    return float(np.quantile(values, q)) if values else 0.0


class Ctx:
    def __init__(self, spark, work: str, seed: int, tracer: Tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.t0 = time.perf_counter()

    def log(self, what: str) -> None:
        print(f"perfbench: {time.perf_counter() - self.t0:7.2f}s {what}", file=sys.stderr)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def measure(self, out: Outcome):
        """Context for the measured operations: tracer on, host and GC
        sampled, wall and CPU time into ``out.work_s``/``work_cpu_s``."""
        return _Measured(self, out)


class _Measured:
    def __init__(self, ctx: Ctx, out: Outcome):
        self.ctx = ctx
        self.out = out

    def __enter__(self):
        tr = self.ctx.tracer
        self.host0 = HostSample()
        self.gc0 = tr.gc_seconds(self.ctx.spark) if tr.enabled else 0.0
        self.cpu0 = session_cpu_s()
        self.t0 = time.perf_counter()
        tr.measuring = True
        return self

    def __exit__(self, *exc):
        tr = self.ctx.tracer
        tr.measuring = False
        self.out.work_s = time.perf_counter() - self.t0
        self.out.work_cpu_s = session_cpu_s() - self.cpu0
        host1 = HostSample()
        self.out.host = {"steal_ratio": self.host0.steal_ratio(host1), "load1": host1.load1}
        self.out.layers.update(
            {
                "jvm.gc_s": tr.gc_seconds(self.ctx.spark) - self.gc0 if tr.enabled else 0.0,
                "host.steal_ratio": self.out.host["steal_ratio"],
                "host.load1": host1.load1,
            }
        )
        return False


# ---------------------------------------------------------------------------
# shared set-up: a persisted index over generated docs
# ---------------------------------------------------------------------------


def _generate(out: Outcome, make):
    """Run the input generator SETUP_REPEATS times, timing each."""
    for _ in range(SETUP_REPEATS):
        # generation is plain Python in this process: its own CPU time
        # leaves out the idle JVM's background threads
        t0, c0 = time.perf_counter(), time.process_time()
        made = make()
        out.gen_s.append(time.perf_counter() - t0)
        out.gen_cpu_s.append(time.process_time() - c0)
    return made


def _build_and_write(docs, index_dir: str, tr: Tracer | None = None):
    """build_index + write_index over ``docs``; returns (postings, bytes).

    With a tracer, the tokenize/encode pass, the df/ctf aggregation and
    the write are timed apart: ``materialize`` forces the postings, the
    ``term_stats`` count the aggregation (cached, so the write reuses it).
    """
    from searchengine_spark.index.build import build_index, write_index

    tr = tr or Tracer(False)
    with tr.span("build.tokenize"):
        idx = build_index(
            docs, fields={"body": "body", "title": "title"}, ext_id_col="url",
            analyzer="english",
        )
        postings = idx.materialize()
    with tr.span("build.stats_agg"):
        idx.term_stats.count()
    with tr.span("build.write"):
        shutil.rmtree(index_dir, ignore_errors=True)
        write_index(idx, index_dir, buckets=INDEX_BUCKETS)
    idx.release()
    return postings, _tree_bytes(index_dir)


def _query_setup(ctx: Ctx, out: Outcome):
    """Generate the corpus, build and persist its index, open the
    persisted index the measured engines query, and warm up.

    The warm-up is one ``#near`` search on a throwaway engine. It pays
    the query path's cold costs (code generation, JIT, the positional
    UDF's Python workers) in set-up rather than in the first measured
    queries, at the price of about one warm query. Each measured
    engine's term-stats cache still starts empty.
    """
    from searchengine_spark.engine import SearchEngine
    from searchengine_spark.index.build import read_index

    docs_path = ctx.path("in", "docs.parquet")

    def generate():
        c = gen.Corpus(ctx.seed)
        c.add_docs(QUERY_DOCS, *DOC_WORDS)
        c.write_docs(docs_path, range(QUERY_DOCS))
        return c

    c = _generate(out, generate)
    ctx.log("generated")
    t0, c0 = time.perf_counter(), session_cpu_s()
    index_dir = ctx.path("index")
    _build_and_write(ctx.spark.read.parquet(docs_path), index_dir)
    ctx.log("index built")
    index = read_index(ctx.spark, index_dir)
    SearchEngine(index).search(gen.warm_up_query(c), model="bm25", k=TOP_K).collect()
    out.prep_s = time.perf_counter() - t0
    out.prep_cpu_s = session_cpu_s() - c0
    ctx.log("warmed up")
    return c, index


def _per_query_layers(tr: Tracer, n: int, op: str) -> dict[str, float]:
    t = tr.totals
    n = max(n, 1)
    return {
        "parser.parse_s": t["parser.parse"] / n,
        "compiler.stats_s": t["compiler.stats"] / n,
        "compiler.stats_cache_hit_ratio": t["stats_hits"] / max(t["stats_wanted"], 1),
        "compiler.compile_s": tr.self_time("compiler.compile", "compiler.stats") / n,
        "engine.jobs_per_query": t["jobs." + op] / n,
        "engine.exec_s": t["engine.exec"] / n,
        **_plan_layers(tr, n),
    }


def _plan_layers(tr: Tracer, n: int) -> dict[str, float]:
    t = tr.totals
    return {
        "scan.rows": t["scan.rows"] / n,
        "scan.bytes": t["scan.bytes"] / n,
        "scan.files": t["scan.files"] / n,
        "scan.useful_ratio": t["scan.useful_rows"] / max(t["scan.rows"], 1),
        "shuffle.bytes": t["shuffle.bytes"] / n,
        "shuffle.write_s": t["shuffle.write_ns"] / 1e9 / n,
        "udf.rows": t["udf.rows"] / n,
        "udf.bytes_sent": t["udf.bytes_sent"] / n,
        "udf.bytes_received": t["udf.bytes_received"] / n,
        "udf.python_s": t["udf.python_ms"] / 1e3 / n,
        "topk.rows_in": t["topk.rows_in"] / n,
    }


# ---------------------------------------------------------------------------
# query: a query file through run_batch, then a query stream
# ---------------------------------------------------------------------------


def query(ctx: Ctx) -> Outcome:
    """Two query phases over one persisted index, each with a fresh
    engine (empty term-stats cache).

    batch: one QryEval-style file of BATCH_QUERIES fresh queries, one
    ``run_batch`` per retrieval model; driver costs are amortized, so
    scan, shuffle and the Arrow merge do most of the work. Gives
    ``batch_qps``. It runs first, so that the code paths of all three
    retrieval models are warm for the stream.

    stream: one closed-loop client sends STREAM_ROUNDS x 8 structured
    queries one at a time; per-query fixed costs (stats collect, plan
    build, job scheduling) weigh most. Gives the query latencies and
    ``query_qps``.
    """
    from searchengine_spark.engine import SearchEngine

    out = Outcome()
    c, index = _query_setup(ctx, out)
    tr = ctx.tracer
    stream = gen.query_stream(
        c, STREAM_ROUNDS, STREAM_POOL_PER_SHAPE, gen.query_rng(ctx.seed, "stream")
    )
    by_model: dict[str, list] = {}
    for j, (_shape, model, q) in enumerate(
        gen.query_mix(c, BATCH_QUERIES, gen.query_rng(ctx.seed, "batch"))
    ):
        by_model.setdefault(model, []).append((f"q{j:03d}", q))
    results = []
    batches = []
    with ctx.measure(out):
        eng = SearchEngine(index)
        n_queries = 0
        t0 = time.perf_counter()
        for model, items in by_model.items():
            out.attempted += len(items)
            try:
                with tr.operation("batch"):
                    df = eng.run_batch(items, model=model, k=TOP_K)
                    with tr.span("engine.exec"):
                        rows = df.collect()
                tr.plan_metrics(df)
                batches.append((model, items, rows))
                n_queries += len(items)
            except Exception as e:
                check.report_error("batch", model, e)
                out.failed += len(items)
        batch_s = time.perf_counter() - t0
        batch_layers = _per_query_layers(tr, n_queries, "batch")
        ctx.log(f"batch: {n_queries} queries")

        tr.new_phase()
        eng = SearchEngine(index)
        t0 = time.perf_counter()
        for model, q in stream:
            out.attempted += 1
            try:
                with tr.operation("query"):
                    t1, c1 = time.perf_counter(), session_cpu_s()
                    df = eng.search(q, model=model, k=TOP_K)
                    with tr.span("engine.exec"):
                        rows = df.collect()
                    out.latencies.append(time.perf_counter() - t1)
                    out.query_cpu.append(session_cpu_s() - c1)
                tr.plan_metrics(df)
                results.append((model, q, rows))
            except Exception as e:  # a failed query counts, the run goes on
                check.report_error("query", q, e)
                out.failed += 1
        stream_s = time.perf_counter() - t0
        layers = _per_query_layers(tr, len(out.latencies), "query")
    ctx.log(f"stream: {len(out.latencies)} queries")
    for model, items, rows in batches:
        got: dict[str, list] = {qid: [] for qid, _ in items}
        for r in rows:
            got[r["qid"]].append(r)
        results.extend((model, q, sorted(got[qid], key=lambda r: r["rank"])) for qid, q in items)
    out.failed += check.ranked_results(eng, c, results, TOP_K)
    out.failed += check.batch_matches_search(eng, batches, TOP_K, ctx.seed)
    ctx.log("checked")
    out.named = {
        "query_p50_s": _quantile(out.latencies, 0.5),
        "query_p90_s": _quantile(out.latencies, 0.9),
        "query_samples": len(out.latencies),
        "query_qps": len(out.latencies) / stream_s,
        "batch_qps": n_queries / batch_s,
    }
    out.layers.update({**layers, **{"batch." + k: v for k, v in batch_layers.items()}})
    return out


# ---------------------------------------------------------------------------
# write: bulk build, streaming ingest with live probes, then curation
# ---------------------------------------------------------------------------


def write(ctx: Ctx) -> Outcome:
    """The write path of a crawl: bulk build + write; INGEST_ROUNDS
    rounds of streaming ingest + minor compaction, each followed by
    PROBES_PER_ROUND probe queries against the live index; then MinHash
    near-duplicate pairs over every page and an IVF build + ANN top-k
    over page embeddings.

    Nothing is warmed up first: the bulk build is the first Spark work
    of the process, as a one-shot build job is, so it carries the
    process's cold costs (Python workers, code generation, JIT).
    """
    from pyspark.sql import functions as F
    from searchengine_spark.engine import SearchEngine
    from searchengine_spark.index.build import read_index
    from searchengine_spark.pipeline.dedup import minhash_lsh_pairs
    from searchengine_spark.pipeline.similarity import ivf_assign, ivf_topk
    from searchengine_spark.streaming.ingest import compact, start_ingest

    out = Outcome()
    tr = ctx.tracer
    spark = ctx.spark
    docs_path = ctx.path("in", "docs.parquet")
    emb_path = ctx.path("in", "emb.parquet")

    def generate():
        c = gen.Corpus(ctx.seed)
        c.add_docs(INGEST_BASE_DOCS, *DOC_WORDS)
        planted = c.add_near_duplicates(CURATE_DUPS)
        deltas = [c.add_docs(INGEST_DELTA_DOCS, *DOC_WORDS) for _ in range(INGEST_ROUNDS)]
        c.write_docs(docs_path, range(planted[-1][1] + 1))
        vecs = gen.write_embeddings(emb_path, ctx.seed, EMB_VECTORS, EMB_DIM, EMB_CLUSTERS)
        return c, planted, deltas, vecs

    c, planted, deltas, vecs = _generate(out, generate)
    n_base = planted[-1][1] + 1
    ctx.log("generated")

    index_dir = ctx.path("index")
    stream_in = ctx.path("stream_in")
    ckpt = ctx.path("checkpoint")
    os.makedirs(stream_in, exist_ok=True)
    emb = spark.read.parquet(emb_path)
    probe_rng = gen.query_rng(ctx.seed, "probe")
    ann_rng = np.random.default_rng(ctx.seed + 1)
    probes = []
    ann = []
    delta_bytes = written = 0
    ingest_s = ann_query_s = 0.0
    with ctx.measure(out):
        t0 = time.perf_counter()
        out.attempted += 1
        with tr.operation("build"):
            postings, index_bytes = _build_and_write(spark.read.parquet(docs_path), index_dir, tr)
        build_s = time.perf_counter() - t0
        ctx.log("built")
        n_live = n_base
        for r, ids in enumerate(deltas):
            # a crawl delivers the next page file (not timed: arrival)
            delta_bytes += c.write_pages(os.path.join(stream_in, f"part-{r:04d}.parquet"), ids)
            out.attempted += 1
            t0 = time.perf_counter()
            before = _tree_bytes(index_dir)
            with tr.operation("ingest"):
                with tr.span("ingest.stream"):
                    start_ingest(spark, stream_in, index_dir, ckpt).awaitTermination()
                streamed = _tree_bytes(index_dir) - before
                with tr.span("ingest.compact"):
                    compact(spark, index_dir)
            ingest_s += time.perf_counter() - t0
            written += streamed + _tree_bytes(index_dir) - before
            n_live += len(ids)
            eng = SearchEngine(read_index(spark, index_dir))
            for shape in ("bow3", "near") * (PROBES_PER_ROUND // 2):
                q = gen.make_query(c, shape, probe_rng)
                out.attempted += 1
                try:
                    with tr.operation("probe"):
                        t1, c1 = time.perf_counter(), session_cpu_s()
                        df = eng.search(q, model="bm25", k=TOP_K)
                        with tr.span("engine.exec"):
                            rows = df.collect()
                        out.latencies.append(time.perf_counter() - t1)
                        out.query_cpu.append(session_cpu_s() - c1)
                    tr.plan_metrics(df)
                    probes.append((n_live, eng.index.n_docs, q, rows))
                except Exception as e:  # a failed query counts, the run goes on
                    check.report_error("probe", q, e)
                    out.failed += 1
        ctx.log(f"ingested {len(deltas)} rounds")

        # curate every page indexed so far
        pages = spark.read.parquet(docs_path).select("doc_id", F.col("body").alias("text"))
        pages = pages.unionByName(spark.read.parquet(stream_in).select("doc_id", "text"))
        out.attempted += 1
        t0 = time.perf_counter()
        with tr.operation("dedup"), tr.span("dedup.minhash"):
            found = minhash_lsh_pairs(pages, threshold=DEDUP_THRESHOLD)
            pairs = found.collect()
            found.unpersist()
        dedup_s = time.perf_counter() - t0
        ctx.log("dedup")
        out.attempted += 1
        with tr.operation("ivf_build"), tr.span("ann.ivf_build"):
            assigned, cents = ivf_assign(emb, n_cells=IVF_CELLS, cell_udf=True)
            assigned = assigned.persist()
            assigned.count()
        for _ in range(ANN_CALLS):
            qids = [int(x) for x in ann_rng.choice(EMB_VECTORS, ANN_QUERIES_PER_CALL, replace=False)]
            out.attempted += 1
            t0 = time.perf_counter()
            with tr.operation("ann_query"), tr.span("ann.ivf_query"):
                res = ivf_topk(
                    emb, qids, k=TOP_K, n_cells=IVF_CELLS, n_probe=IVF_PROBE,
                    prebuilt=(assigned, cents),
                )
                ann.append((qids, res.collect()))
            ann_query_s += time.perf_counter() - t0
        assigned.unpersist()
        ctx.log("ann")
    out.failed += check.build_postings(c, n_base, postings)
    out.failed += check.live_probes(eng, c, probes, TOP_K)
    out.failed += check.dedup_pairs(c, planted, pairs, DEDUP_THRESHOLD)
    bad, recall = check.ann_results(vecs, ann, TOP_K)
    out.failed += bad
    ctx.log("checked")

    # plan metrics are folded in for the probes only, so the query-path
    # layers below are per live-index probe
    n_probe = max(len(out.latencies), 1)
    t = tr.totals
    found_ids = {(int(p["id_a"]), int(p["id_b"])) for p in pairs}
    out.named = {
        "build_docs_per_s": n_base / build_s,
        "index_bytes_per_posting": index_bytes / postings,
        "ingest_docs_per_s": (n_live - n_base) / ingest_s,
        "live_query_p50_s": _quantile(out.latencies, 0.5),
        "live_query_samples": len(out.latencies),
        "dedup_docs_per_s": n_live / dedup_s,
        "ann_qps": ANN_CALLS * ANN_QUERIES_PER_CALL / ann_query_s,
        "ann_recall_at10": recall,
    }
    out.layers.update({
        "engine.jobs_per_query": t["jobs.probe"] / n_probe,
        "engine.exec_s": t["engine.exec"] / n_probe,
        **_plan_layers(tr, n_probe),
        "build.tokenize_s": t["build.tokenize"],
        "build.stats_agg_s": t["build.stats_agg"],
        "build.write_s": t["build.write"],
        "build.postings": postings,
        "ingest.stream_s": t["ingest.stream"] / INGEST_ROUNDS,
        "ingest.compact_s": t["ingest.compact"] / INGEST_ROUNDS,
        "ingest.segments": _segments(index_dir),
        "ingest.bytes_written_per_delta_byte": written / max(delta_bytes, 1),
        "dedup.minhash_s": t["dedup.minhash"],
        "dedup.pairs": len(found_ids),
        "dedup.planted_recall": len(found_ids & set(planted)) / len(planted),
        "ann.ivf_build_s": t["ann.ivf_build"],
        "ann.ivf_query_s": t["ann.ivf_query"] / ANN_CALLS,
    })
    return out


def _tree_bytes(root: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def _segments(index_dir: str) -> int:
    segs = set()
    post = os.path.join(index_dir, "postings")
    for b in os.listdir(post):
        if b.startswith("bucket="):
            segs.update(s for s in os.listdir(os.path.join(post, b)) if s.startswith("seg="))
    return len(segs)


WORKLOADS = {"query": query, "write": write}
