"""Benchmark harness (driver contract).

Measures, at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``:

- index build throughput (docs/sec) over a synthetic Common-Crawl-style
  page corpus sized ~proportionally to the sf directory, PLUS the sf
  documents table;
- per-query latency for the headline structured queries (BM25 / Indri /
  Boolean / positional) against the documents index;
- pipeline operator runtimes (minhash LSH dedup, simhash, ANN top-k).

Prints ONE JSON line: {"metric": ..., "value": ..., "unit": "sec",
"queries": {...}, "sf": ...}. ``value`` is the sum of the fixed
``HEADLINE`` entries (lower is better), so adding or splitting an entry
does not move it; every entry's seconds are in "queries". Query/pipeline items
are best-of-k steady-state times (the shared host's outside-VM steal
swings single-shot wall clock 2-8x — see BASELINE.md §Measured); the two
index builds are single-shot (they dominate and amortize the noise).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from searchengine_spark.session import get_spark  # noqa: E402


# the entries ``value`` sums: the 16 shared by the recorded rounds 4
# and 5 (BENCH_r04/r05.json). Entries added since (the IVF build/query
# split, media decode) are printed but not summed.
HEADLINE = (
    "index_build", "index_build_documents",
    "q_bm25_sum", "q_bm25_long", "q_indri_and", "q_indri_wand",
    "q_bool_and", "q_near", "q_window", "q_syn",
    "q_batch100_fused", "q_batch100_near_fused",
    "p_minhash_lsh", "p_simhash", "p_ann_topk", "p_token_stats",
)


def headline_total(queries: dict[str, float]) -> float:
    """Sum of the ``HEADLINE`` entries; raises if one is missing."""
    missing = [k for k in HEADLINE if k not in queries]
    if missing:
        raise KeyError(f"bench headline entries missing: {missing}")
    return round(sum(queries[k] for k in HEADLINE), 3)


def _time(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


def _best_of(fn, k: int = 3) -> float:
    """Best of k steady-state runs. The sandbox shares a noisy host
    (outside-VM steal swings wall clock 2-8x run to run); the minimum is
    the least noise-biased estimate of the query's actual cost."""
    return min(_time(fn) for _ in range(k))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    spark = get_spark("searchengine-bench", cores=cpus, shuffle_partitions=2 * cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from searchengine_spark import gate
    from searchengine_spark.corpus import extract_fields, make_pages
    from searchengine_spark.engine import SearchEngine
    from searchengine_spark.index.build import assign_doc_ids, build_index
    from searchengine_spark.pipeline import dedup, similarity

    queries: dict[str, float] = {}

    # --- index-build throughput on the synthetic web corpus -----------------
    n_pages = max(2000, int(float(sf) * 400_000))  # sf0.1 -> 40k pages
    pages = make_pages(spark, n_pages, seed=42).persist()
    pages.count()  # isolate generation from indexing time

    t0 = time.time()
    docs = assign_doc_ids(extract_fields(pages), ext_id_col="url")
    idx_pages = build_index(
        docs, fields={"body": "body", "title": "title"}, ext_id_col="url", analyzer="english"
    )
    n_post = idx_pages.postings.count()  # materializes the full build
    build_sec = time.time() - t0
    queries["index_build"] = round(build_sec, 3)
    docs_per_sec = n_pages / build_sec

    # --- documents-table engine: headline structured queries ---------------
    eng_t0 = time.time()
    eng = gate.engine_for(spark, sf_dir)
    eng.index.postings.count()
    queries["index_build_documents"] = round(time.time() - eng_t0, 3)

    headline = {
        "q_bm25_sum": lambda: eng.search("dup spark merge", model="bm25", k=10, with_ext_id=False).collect(),
        "q_bm25_long": lambda: eng.search("dup spark merge join filter window batch", model="bm25", k=10, with_ext_id=False).collect(),
        "q_indri_and": lambda: eng.search("#and(dup spark)", model="indri", k=10, with_ext_id=False, mu=1500.0, lam=0.3).collect(),
        "q_indri_wand": lambda: eng.search("#wand(0.7 dup 0.3 spark)", model="indri", k=10, with_ext_id=False, mu=1500.0, lam=0.3).collect(),
        "q_bool_and": lambda: eng.search("#and(spark merge)", model="rankedboolean", k=10, with_ext_id=False).collect(),
        "q_near": lambda: eng.search("#near/2(spark merge)", model="rankedboolean", k=10, with_ext_id=False).collect(),
        "q_window": lambda: eng.search("#window/4(spark merge)", model="rankedboolean", k=10, with_ext_id=False).collect(),
        "q_syn": lambda: eng.search("#syn(spark merge)", model="rankedboolean", k=10, with_ext_id=False).collect(),
    }
    lat: list[float] = []
    for name, fn in headline.items():
        fn()  # warm-up: codegen + python-UDF worker spin-up
        sec = _best_of(fn, 3)  # steady-state latency, noise-robust
        queries[name] = round(sec, 3)
        lat.append(sec)

    # --- multi-query throughput: 100-query BM25 batch -----------------------
    # vocabulary-derived 3-term queries (ranks 50..349 by df: big posting
    # lists but nonzero idf). Fused = ONE term-IN scan + one (qid, doc_id)
    # fold + per-qid top-k; union = 100 per-query ``search`` plans, each
    # qid rank-identical (test_run_batch_fused_bit_identical_to_union).
    all_terms = [
        r["term"]
        for r in eng.index.term_stats.where(F.col("field") == "body")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(350)
        .collect()
    ]
    vocab = all_terms[min(50, max(0, len(all_terms) - 10)) :]
    batch100 = [
        (f"b{i}", " ".join(vocab[(3 * i + j) % len(vocab)] for j in range(3)))
        for i in range(100)
    ]
    # identical measurement discipline for both paths (warm-up + best-of-2)
    # so the reported speedup is apples-to-apples, not warm-vs-cold
    fused_fn = lambda: eng.run_batch(batch100, model="bm25", k=10).collect()  # noqa: E731
    union_fn = lambda: [eng.search(q, model="bm25", k=10).collect() for _, q in batch100]  # noqa: E731
    fused_fn()  # warm-up: codegen + python-UDF worker spin-up
    queries["q_batch100_fused"] = round(_best_of(fused_fn, 2), 3)
    union_fn()  # warm-up
    batch100_union_sec = round(_best_of(union_fn, 2), 3)

    # --- 100-query positional (#NEAR) batch: one shared scan + one Arrow
    # merge pass for the whole batch vs 100 per-query ``search`` plans (each
    # with its own stats action). Rank-identical (test_run_batch_fused_positional_*).
    near100 = [
        (f"n{i}", f"#near/{2 + i % 4}({vocab[(3 * i) % len(vocab)]} "
                  f"{vocab[(3 * i + 1) % len(vocab)]})")
        for i in range(100)
    ]
    nfused_fn = lambda: eng.run_batch(near100, model="bm25", k=10).collect()  # noqa: E731
    nunion_fn = lambda: [eng.search(q, model="bm25", k=10).collect() for _, q in near100]  # noqa: E731
    nfused_fn()  # warm-up
    queries["q_batch100_near_fused"] = round(_best_of(nfused_fn, 2), 3)
    # single union measurement: workers/codegen are already warm from the
    # runs above, and 100 sequential per-query jobs self-average noise —
    # a best-of-2 here would double the bench wall for no extra signal
    batch100_near_union_sec = round(_time(nunion_fn), 3)

    # --- pipeline operators -------------------------------------------------
    ddf = gate.docs_df(spark, sf_dir)
    edf = gate.emb_df(spark, sf_dir)
    queries["p_minhash_lsh"] = round(
        _best_of(lambda: dedup.minhash_lsh_pairs(ddf, threshold=0.8).collect(), 2), 3
    )
    queries["p_simhash"] = round(
        _best_of(lambda: dedup.simhash_values(ddf).count(), 2), 3
    )
    queries["p_ann_topk"] = round(
        _best_of(lambda: similarity.cosine_topk(edf, [0, 1, 2], k=10).collect(), 2), 3
    )
    # cell_udf=True is the row-count scale path (one Arrow matmul per
    # batch); the literal-SQL path stays the oracle-gated default. The
    # O(n*cells*dim) assignment is the amortized index-build cost
    # (single-shot), the prebuilt query is the per-query latency a
    # deployment sees — the old one-call `p_ann_ivf` entry folded both
    # into a "query" number.
    t0 = time.time()
    ivf_assigned, ivf_cents = similarity.ivf_assign(edf, n_cells=16, cell_udf=True)
    ivf_assigned = ivf_assigned.persist()
    ivf_assigned.count()
    queries["p_ann_ivf_build"] = round(time.time() - t0, 3)
    ivf_idx = (ivf_assigned, ivf_cents)
    queries["p_ann_ivf_query"] = round(
        _best_of(
            lambda: similarity.ivf_topk(
                edf, [0, 1, 2], k=10, n_probe=4, cell_udf=True, prebuilt=ivf_idx
            ).collect(),
            2,
        ),
        3,
    )
    ivf_assigned.unpersist()
    queries["p_token_stats"] = round(
        _best_of(lambda: __import__("searchengine_spark.pipeline.textstats", fromlist=["token_stats"]).token_stats(ddf).count(), 2), 3
    )

    # --- media decode throughput (VERDICT r4 item 3) ------------------------
    # Deterministic MJPEG-in-AVI corpus decoded through the production
    # multimodal mapInPandas path (pipeline/jpeg.py's
    # LUT entropy decoder). Corpus generation is driver-side and untimed.
    import numpy as np

    from searchengine_spark.pipeline import multimodal as mm
    from searchengine_spark.pipeline.media_codecs import encode_avi

    xx, yy = np.meshgrid(np.arange(160), np.arange(120))
    clips = []
    for i in range(64):
        rng = np.random.default_rng(100 + i)
        base = np.stack(
            [
                np.stack(
                    [(xx * 2 + 7 * i + 3 * f) % 256, (yy * 3 + f) % 256,
                     (xx + yy + f) % 256],
                    axis=-1,
                )
                for f in range(8)
            ]
        )
        frames = (
            base.astype(int) + rng.integers(-24, 25, size=base.shape)
        ).clip(0, 255).astype(np.uint8)
        clips.append(encode_avi(frames, fps=8, codec="MJPG", quality=85))
    media_bytes = sum(len(c) for c in clips)
    media = spark.createDataFrame(
        [(i, "video", bytearray(c), "video/avi", len(c)) for i, c in enumerate(clips)],
        mm.MEDIA_SCHEMA,
    ).repartition(cpus).persist()
    media.count()
    media_fn = lambda: mm.extract_features(media).collect()  # noqa: E731
    media_fn()  # warm-up: Arrow worker spin-up
    media_sec = _best_of(media_fn, 2)
    queries["p_media_decode"] = round(media_sec, 3)
    media.unpersist()

    lat_sorted = sorted(lat)
    p95 = lat_sorted[min(len(lat_sorted) - 1, int(0.95 * len(lat_sorted)))]
    total = headline_total(queries)

    print(
        json.dumps(
            {
                "metric": "headline suite wall seconds (build + queries + pipeline)",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "sf": float(sf),
                "docs_indexed_per_sec": round(docs_per_sec, 1),
                "n_pages_indexed": n_pages,
                "n_postings": int(n_post),
                "p95_query_latency_sec": round(p95, 3),
                "batch100_union_sec": batch100_union_sec,
                "batch100_speedup": round(
                    batch100_union_sec / max(queries["q_batch100_fused"], 1e-9), 1
                ),
                "batch100_near_union_sec": batch100_near_union_sec,
                "batch100_near_speedup": round(
                    batch100_near_union_sec
                    / max(queries["q_batch100_near_fused"], 1e-9),
                    1,
                ),
                "media_corpus_mb": round(media_bytes / 1e6, 2),
                "media_decode_mbps": round(media_bytes / 1e6 / media_sec, 2),
                "cpus": cpus,
            }
        )
    )
    _ = F  # quiet linters


if __name__ == "__main__":
    main()
