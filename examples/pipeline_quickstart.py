"""Training-data-pipeline quickstart: dedup -> curate -> ANN.

    python examples/pipeline_quickstart.py

Runs the LLM-data-pipeline surface end-to-end over a deterministic
synthetic corpus: exact + MinHash-LSH near-dup detection, connected
components -> keep-representatives, corpus filtering, text stats, and
similarity search two ways (exact brute force, and IVF-flat over a
persisted cell-partitioned index).
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from searchengine_spark.corpus import extract_fields, make_embeddings, make_pages
from searchengine_spark.index.build import assign_doc_ids
from searchengine_spark.pipeline import curate, dedup, similarity, textstats
from searchengine_spark.session import get_spark


def main() -> None:
    spark = get_spark("pipeline-quickstart")
    spark.sparkContext.setLogLevel("ERROR")

    docs = (
        assign_doc_ids(extract_fields(make_pages(spark, 2000, seed=7)), ext_id_col="url")
        .select("doc_id", F.col("body").alias("text"))
        .persist()
    )
    n = docs.count()
    print(f"[1/5] corpus: {n} docs")

    print("[2/5] near-dup detection (MinHash-LSH) -> clusters -> keep one per cluster")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.8)
    deduped = curate.keep_representatives(docs, threshold=0.8)
    kept = curate.corpus_filter(deduped, min_quality=0.3, lang="en")
    print(f"      near-dup pairs: {pairs.count()}, docs kept: {kept.count()}/{n}")

    print("[3/5] text stats (lang-id / quality / BPE token count)")
    stats = (
        textstats.lang_id(docs)
        .join(textstats.quality_scores(docs), "doc_id")
        .join(textstats.bpe_token_count(docs), "doc_id")
    )
    stats.show(3, truncate=60)

    emb = make_embeddings(spark, 2000, dim=64).persist()
    emb.count()
    qids = [0, 1, 2]
    print("[4/5] similarity search: brute force vs IVF-flat")
    brute = similarity.cosine_topk(emb, qids, k=5)
    work = tempfile.mkdtemp(prefix="sespark_ivf_")
    similarity.write_ivf_index(emb, work, n_cells=32, cell_udf=True)
    ivf = similarity.ivf_topk(
        emb, qids, k=5, n_probe=8, cell_udf=True,
        prebuilt=similarity.read_ivf_index(spark, work),
    )
    truth = {(r["query_id"], r["vec_id"]) for r in brute.collect()}
    got = {(r["query_id"], r["vec_id"]) for r in ivf.collect()}
    print(f"      ivf: recall@5 = {len(truth & got) / len(truth):.2f}")

    print(f"[5/5] persisted IVF index layout under {work}:")
    for p in sorted(os.listdir(os.path.join(work, "cells")))[:4]:
        print("   ", p)


if __name__ == "__main__":
    main()
