"""Scale-proof bench: the full headline suite at ~10x the per-round
volume (default 400k synthetic pages vs the 40k that BENCH_r{N} runs
at sf0.1).

    SCALEBENCH_PAGES=400000 SCALEBENCH_CPUS=32 python scripts/scalebench.py

Purpose (round-3 verdict item 1): every 100x-readiness claim so far was
argued from plan shapes measured at 40k pages. One real
order-of-magnitude step either confirms the shapes — near-linear build,
per-query latency growing no worse than the posting lists it scans —
or exposes the next bottleneck. Writes ``SCALEBENCH.json`` with:

- index build + persist throughput at the target size;
- the 8 headline structured queries (best-of-3 steady-state) against
  the PERSISTED bucket-pruned index — the same discipline BENCH uses;
- the 100-query fused BM25 batch (and the union path, single-shot);
- MinHash-LSH / SimHash / token-stats over all page bodies (the dedup
  scale path at 10x the usual document count);
- the persisted index dir, so ``PLANS_INDEX_DIR=... python
  scripts/plans.py`` regenerates PLANS.md plan evidence at this size.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_PAGES = int(os.environ.get("SCALEBENCH_PAGES", "400000"))
CPUS = int(os.environ.get("SCALEBENCH_CPUS", "32"))
KEEP_DIR = os.environ.get("SCALEBENCH_INDEX_DIR", "")
OUT = os.environ.get("SCALEBENCH_OUT", "SCALEBENCH.json")


def _time(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


def _best_of(fn, k: int = 3) -> float:
    return min(_time(fn) for _ in range(k))


def main() -> None:
    from pyspark.sql import functions as F

    from searchengine_spark.corpus import extract_fields, make_pages
    from searchengine_spark.engine import SearchEngine
    from searchengine_spark.index.build import (
        assign_doc_ids,
        build_index,
        read_index,
        write_index,
    )
    from searchengine_spark.pipeline import dedup, textstats
    from searchengine_spark.session import get_spark

    spark = get_spark(
        "scalebench", cores=CPUS, shuffle_partitions=2 * CPUS
    )
    spark.sparkContext.setLogLevel("ERROR")

    report: dict = {"n_pages": N_PAGES, "cpus": CPUS}

    pages = make_pages(spark, N_PAGES, seed=42, partitions=4 * CPUS).persist()
    pages.count()  # generation excluded from the measured window

    # --- build + persist ---------------------------------------------------
    t0 = time.time()
    docs = assign_doc_ids(extract_fields(pages), ext_id_col="url")
    idx_mem = build_index(
        docs, fields={"body": "body", "title": "title"}, ext_id_col="url",
        analyzer="english", cache=True,
    )
    n_post = idx_mem.postings.count()
    build_sec = time.time() - t0
    report["index_build_sec"] = round(build_sec, 3)
    report["docs_indexed_per_sec"] = round(N_PAGES / build_sec, 1)
    report["n_postings"] = int(n_post)

    pdir = KEEP_DIR or os.path.join(
        tempfile.mkdtemp(prefix="scalebench_"), "index"
    )
    write_sec = _time(lambda: write_index(idx_mem, pdir, buckets=32))
    report["index_write_sec"] = round(write_sec, 3)
    report["index_dir"] = pdir
    pages.unpersist()
    # queries run against the persisted copy from here on; the in-memory
    # build caches (55M postings at 1M pages) would otherwise evict the
    # later pipeline stages' caches into silent recompute (measured 4x
    # on the 1M minhash entry)
    idx_mem.release()

    idx = read_index(spark, pdir)
    eng = SearchEngine(idx)

    # --- headline structured queries (persisted, bucket-pruned) ------------
    headline = {
        "q_bm25_sum": lambda: eng.search("cerim dirim bavex", model="bm25", k=10, with_ext_id=False).collect(),
        "q_bm25_long": lambda: eng.search("cerim dirim bavex gorim fulan baser ditok", model="bm25", k=10, with_ext_id=False).collect(),
        "q_indri_and": lambda: eng.search("#and(cerim dirim)", model="indri", k=10, with_ext_id=False, mu=1500.0, lam=0.3).collect(),
        "q_indri_wand": lambda: eng.search("#wand(0.7 cerim 0.3 dirim)", model="indri", k=10, with_ext_id=False, mu=1500.0, lam=0.3).collect(),
        "q_bool_and": lambda: eng.search("#and(cerim dirim)", model="rankedboolean", k=10, with_ext_id=False).collect(),
        "q_near": lambda: eng.search("#near/2(barim batok)", model="rankedboolean", k=10, with_ext_id=False).collect(),
        "q_window": lambda: eng.search("#window/4(barim batok)", model="rankedboolean", k=10, with_ext_id=False).collect(),
        "q_syn": lambda: eng.search("#syn(cerim bavex)", model="rankedboolean", k=10, with_ext_id=False).collect(),
    }
    queries: dict[str, float] = {}
    lat = []
    for name, fn in headline.items():
        fn()  # warm-up
        sec = _best_of(fn, 3)
        queries[name] = round(sec, 3)
        lat.append(sec)
    report["queries"] = queries
    lat_sorted = sorted(lat)
    report["p95_query_latency_sec"] = round(
        lat_sorted[min(len(lat_sorted) - 1, int(0.95 * len(lat_sorted)))], 3
    )

    # --- 100-query fused batch --------------------------------------------
    all_terms = [
        r["term"]
        for r in idx.term_stats.where(F.col("field") == "body")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(350)
        .collect()
    ]
    vocab = all_terms[min(50, max(0, len(all_terms) - 10)) :]
    batch100 = [
        (f"b{i}", " ".join(vocab[(3 * i + j) % len(vocab)] for j in range(3)))
        for i in range(100)
    ]
    fused_fn = lambda: eng.run_batch(batch100, model="bm25", k=10).collect()  # noqa: E731
    fused_fn()
    report["q_batch100_fused_sec"] = round(_best_of(fused_fn, 2), 3)
    report["q_batch100_union_sec"] = round(
        _time(lambda: [eng.search(q, model="bm25", k=10).collect() for _, q in batch100]),
        3,
    )

    # --- re-rank lifecycles at scale (VERDICT r4 item 7) --------------------
    # The reference publishes only HW6 wall clocks for these lifecycles
    # (22 ClueWeb queries on a prebuilt Lucene index: LeToR 01:11, DRMM
    # 05:41); these entries time the same shapes per query at N_PAGES
    # with the re-rank depth fixed at 100.
    from searchengine_spark.operators import drmm, letor, prf
    from searchengine_spark.plans.models import Indri

    RR_DEPTH = 100
    rr_q = "cerim dirim"
    rr_terms = ["cerim", "dirim"]

    def _prf_fn():
        model = Indri(mu=1500.0, lam=0.3)
        init = (
            eng.scores(rr_q, model=model)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(10)
            .collect()
        )
        top = [(int(r["doc_id"]), float(r["score"])) for r in init]
        params = prf.ExpandParams(
            fb="indri", fb_docs=10, fb_terms=5, fb_mu=500.0, fb_orig_weight=0.5
        )
        expanded, _fbq = prf.expand(
            eng, rr_q, params, model=model, initial_ranking=top
        )
        eng.search(expanded, model=model, k=RR_DEPTH, with_ext_id=False).collect()

    _prf_fn()
    report["p_prf_end_to_end_sec"] = round(_best_of(_prf_fn, 2), 3)

    def _letor_fn():
        cand = eng.search(
            rr_q, model="bm25", k=RR_DEPTH, with_ext_id=False
        ).select("doc_id")
        letor.featurize(eng, "q1", rr_q, cand).collect()

    _letor_fn()
    report["p_letor_featurize_sec"] = round(_best_of(_letor_fn, 2), 3)

    drmm_mlp = drmm.MLP(seed=5)

    def _drmm_fn():
        cand = eng.search(
            rr_q, model="bm25", k=RR_DEPTH, with_ext_id=False
        ).select("doc_id")
        feats = drmm.histogram_features(eng, rr_terms, cand)
        drmm.rerank(eng, rr_terms, feats, drmm_mlp, k=RR_DEPTH).collect()

    _drmm_fn()
    report["p_drmm_rerank_sec"] = round(_best_of(_drmm_fn, 2), 3)

    # --- pipeline operators over all page bodies ---------------------------
    body_docs = docs.select("doc_id", F.col("body").alias("text")).persist()
    body_docs.count()
    report["p_minhash_lsh_sec"] = round(
        _time(lambda: dedup.minhash_lsh_pairs(body_docs, threshold=0.8).count()), 3
    )
    report["p_simhash_sec"] = round(
        _time(lambda: dedup.simhash_values(body_docs).count()), 3
    )
    report["p_token_stats_sec"] = round(
        _time(lambda: textstats.token_stats(body_docs).count()), 3
    )
    body_docs.unpersist()

    # --- ANN / embedding similarity at the same row count ------------------
    # Wider bucket keys than the sf-scale defaults: 4-bit keys put ~n/16
    # vectors in every bucket, so at 400k the self-join would quadratically
    # explode. 12-bit top-k keys keep buckets O(100); near-dup keys
    # auto-size below (log2(n)+2) — the knob a real deployment turns with
    # corpus size. plane_udf=True: one numpy matmul per Arrow batch
    # instead of interpreted HOF lambdas (66s -> ~2s here; the literal
    # path stays the gate/oracle default at sf scale).
    from searchengine_spark.corpus import make_embeddings
    from searchengine_spark.pipeline import similarity

    emb = make_embeddings(spark, N_PAGES, dim=64, partitions=4 * CPUS).persist()
    emb.count()
    qids = [0, 100, 200]  # anchors of planted near-dups 99/199/299
    brute_fn = lambda: similarity.cosine_topk(emb, qids, k=10).collect()  # noqa: E731
    brute_rows = brute_fn()
    report["p_ann_brute_sec"] = round(_best_of(brute_fn, 2), 3)
    # bucket hashing is the one-time INDEX BUILD (mirrors the IVF
    # build/query split below); queries pay only probe-join + rerank
    # against the persisted bucket frame. The old one-call timing first
    # reported ~0.3s here by accidentally re-reading a leaked cache,
    # then ~10s at 4M once the leak was fixed — both wrong answers to
    # "what does a query cost"; this split answers it honestly.
    t0 = time.time()
    lsh_idx = similarity.build_lsh_buckets(
        emb, n_tables=16, bits=12, dim=64, plane_udf=True
    )
    report["p_ann_lsh_build_sec"] = round(time.time() - t0, 3)
    lsh_fn = lambda: similarity.lsh_bucket_topk(  # noqa: E731
        emb, qids, k=10, n_tables=16, bits=12, dim=64, plane_udf=True,
        prebuilt=lsh_idx,
    ).collect()
    lsh_rows = lsh_fn()
    report["p_ann_lsh_sec"] = round(_best_of(lsh_fn, 2), 3)
    mp_fn = lambda: similarity.lsh_bucket_topk(  # noqa: E731
        emb, qids, k=10, n_tables=16, bits=12, dim=64, plane_udf=True,
        n_probes=16, prebuilt=lsh_idx,
    ).collect()
    mp_rows = mp_fn()
    report["p_ann_multiprobe_sec"] = round(_best_of(mp_fn, 2), 3)
    lsh_idx[0].unpersist()
    truth = {(r["query_id"], r["vec_id"]) for r in brute_rows}
    got = {(r["query_id"], r["vec_id"]) for r in lsh_rows}
    mp_got = {(r["query_id"], r["vec_id"]) for r in mp_rows}
    report["p_ann_multiprobe_recall_at10"] = round(
        len(truth & mp_got) / max(1, len(truth)), 3
    )
    top1 = {(r["query_id"], r["vec_id"]) for r in brute_rows if r["rank"] == 1}
    report["p_ann_lsh_recall_at10"] = round(len(truth & got) / max(1, len(truth)), 3)
    report["p_ann_lsh_recall_at1"] = round(
        len(top1 & got) / max(1, len(top1)), 3
    )
    # IVF-flat, the second ANN family: n_cells ~ sqrt(n) (the standard
    # IVF sizing) so probe cost ~ n_probe*sqrt(n); Arrow-matmul cell
    # assignment (cell_udf) is the scale path, literal SQL stays the
    # gate/oracle default at sf scale.
    import math as _m

    ivf_cells = max(16, int(round(_m.sqrt(N_PAGES))))
    report["p_ann_ivf_cells"] = ivf_cells
    # cell assignment is the one-time INDEX BUILD (O(n*cells*dim), like
    # the posting-list build); queries then pay only probe-join + rerank
    # against the persisted inverted lists — time the two separately
    t0 = time.time()
    ivf_idx = similarity.ivf_assign(emb, n_cells=ivf_cells, cell_udf=True)
    ivf_idx[0].persist().count()
    report["p_ann_ivf_build_sec"] = round(time.time() - t0, 3)
    ivf_fn = lambda: similarity.ivf_topk(  # noqa: E731
        emb, qids, k=10, n_probe=32, cell_udf=True, prebuilt=ivf_idx
    ).collect()
    ivf_rows = ivf_fn()
    report["p_ann_ivf_sec"] = round(_best_of(ivf_fn, 2), 3)
    ivf_got = {(r["query_id"], r["vec_id"]) for r in ivf_rows}
    report["p_ann_ivf_recall_at10"] = round(
        len(truth & ivf_got) / max(1, len(truth)), 3
    )
    ivf_idx[0].unpersist()
    # bucket width scales with corpus size: fixed-width keys collide
    # quadratically as n grows past 2^bits (the 1M run proved it)
    import math as _math

    nd_bits = max(16, int(_math.ceil(_math.log2(N_PAGES))) + 2)
    report["p_emb_near_dup_bits"] = nd_bits
    nd_fn = lambda: similarity.embedding_near_dup_pairs(  # noqa: E731
        emb, threshold=0.9, n_tables=8, bits=nd_bits, dim=64, plane_udf=True
    )
    t0 = time.time()
    nd_pairs = {(r["id_a"], r["id_b"]) for r in nd_fn().collect()}
    report["p_emb_near_dup_sec"] = round(time.time() - t0, 3)
    planted = {(i - 99, i) for i in range(99, N_PAGES, 100)}
    report["p_emb_near_dup_pairs"] = len(nd_pairs)
    report["p_emb_near_dup_recall"] = round(
        len(planted & nd_pairs) / max(1, len(planted)), 4
    )
    emb.unpersist()

    # Clustered regime (the one real embedding corpora live in, and the
    # one approximate top-k is for): same-cluster cosines ~0.89, so a
    # query's true top-10 are cluster-mates — recall@10 here is the
    # meaningful number (the isotropic recall above is the worst case).
    embc = make_embeddings(
        spark, N_PAGES, dim=64, partitions=4 * CPUS, n_clusters=N_PAGES // 400
    ).persist()
    embc.count()
    cb = similarity.cosine_topk(embc, qids, k=10).collect()
    t0 = time.time()
    cl_idx = similarity.build_lsh_buckets(
        embc, n_tables=16, bits=12, dim=64, plane_udf=True
    )
    report["p_ann_lsh_clustered_build_sec"] = round(time.time() - t0, 3)
    cl_fn = lambda: similarity.lsh_bucket_topk(  # noqa: E731
        embc, qids, k=10, n_tables=16, bits=12, dim=64, plane_udf=True,
        prebuilt=cl_idx,
    ).collect()
    cl_rows = cl_fn()
    report["p_ann_lsh_clustered_sec"] = round(_best_of(cl_fn, 2), 3)
    cl_idx[0].unpersist()
    ct = {(r["query_id"], r["vec_id"]) for r in cb}
    cg = {(r["query_id"], r["vec_id"]) for r in cl_rows}
    report["p_ann_lsh_clustered_recall_at10"] = round(
        len(ct & cg) / max(1, len(ct)), 3
    )
    t0 = time.time()
    civf_idx = similarity.ivf_assign(embc, n_cells=ivf_cells, cell_udf=True)
    civf_idx[0].persist().count()
    report["p_ann_ivf_clustered_build_sec"] = round(time.time() - t0, 3)
    civf_fn = lambda: similarity.ivf_topk(  # noqa: E731
        embc, qids, k=10, n_probe=32, cell_udf=True, prebuilt=civf_idx
    ).collect()
    civf_rows = civf_fn()
    report["p_ann_ivf_clustered_sec"] = round(_best_of(civf_fn, 2), 3)
    civf_got = {(r["query_id"], r["vec_id"]) for r in civf_rows}
    report["p_ann_ivf_clustered_recall_at10"] = round(
        len(ct & civf_got) / max(1, len(ct)), 3
    )
    civf_idx[0].unpersist()
    embc.unpersist()

    # --- engine-side trec_eval at scale ------------------------------------
    # nq queries x depth-100 runs + 50 judged docs each, all codegen;
    # the metrics job is a join + per-qid windows + one groupBy per side
    from searchengine_spark.eval import ir_metrics, mean_metrics

    nq = max(1000, N_PAGES // 4)
    depth, judged = 100, 50
    run = spark.range(nq * depth, numPartitions=4 * CPUS).selectExpr(
        f"concat('q', cast(id div {depth} as string)) AS qid",
        f"concat('d', cast(pmod((id div {depth}) * 7919 + pmod(id, {depth}) + 1, 100000) as string)) AS ext_id",
        f"cast(pmod(id, {depth}) + 1 as int) AS rank",
    )
    qrels = spark.range(nq * judged, numPartitions=4 * CPUS).selectExpr(
        f"concat('q', cast(id div {judged} as string)) AS qid",
        f"concat('d', cast(pmod((id div {judged}) * 7919 + (pmod(id, {judged}) + 1) * 3, 100000) as string)) AS ext_id",
        f"cast(CASE WHEN pmod(id, 3) = 0 THEN 2 ELSE 1 END as int) AS rel",
    )
    per = ir_metrics(run, qrels, k=10)
    fn = lambda: per.count()  # noqa: E731
    fn()
    report["p_ir_metrics_n_queries"] = nq
    report["p_ir_metrics_sec"] = round(_best_of(fn, 2), 3)
    report["p_ir_metrics_map"] = float(
        mean_metrics(per).collect()[0]["map"]
    )

    print(json.dumps(report, indent=2))
    with open(os.path.join(REPO, OUT), "w") as fh:
        json.dump(report, fh, indent=2)


if __name__ == "__main__":
    main()
