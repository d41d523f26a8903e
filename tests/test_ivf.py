"""IVF-flat ANN (pipeline/similarity.ivf_topk).

The gate (`ann_ivf_topk`, tests/test_gate.py) value-verifies the
approximate answer against a DuckDB oracle that re-derives the same
deterministic medoid centroids from the table. These tests pin the
algebraic invariants the oracle can't see:

- probing EVERY cell makes IVF exactly brute force (full coverage);
- the Arrow-matmul cell assignment (the scale path) produces the same
  frame as the literal-SQL assignment (the oracle-replayed path);
- centroid selection is partitioning-invariant.
"""

import pytest

from searchengine_spark.corpus import make_embeddings
from searchengine_spark.pipeline import similarity

QIDS = [0, 1, 2]


def _key(rows):
    return sorted((r["query_id"], r["vec_id"], r["cos"], r["rank"]) for r in rows)


def test_full_probe_equals_brute_force(spark):
    emb = make_embeddings(spark, 200, dim=16)
    ivf = similarity.ivf_topk(emb, QIDS, k=10, n_cells=8, n_probe=8).collect()
    brute = similarity.cosine_topk(emb, QIDS, k=10).collect()
    assert _key(ivf) == _key(brute)


def test_cell_udf_matches_literal(spark):
    emb = make_embeddings(spark, 200, dim=16)
    lit = similarity.ivf_topk(
        emb, QIDS, k=10, n_cells=8, n_probe=2, cell_udf=False
    ).collect()
    udf = similarity.ivf_topk(
        emb, QIDS, k=10, n_cells=8, n_probe=2, cell_udf=True
    ).collect()
    assert _key(lit) == _key(udf)
    assert lit, "probe path returned no candidates"


def test_self_excluded_and_ranked(spark):
    emb = make_embeddings(spark, 150, dim=16)
    rows = similarity.ivf_topk(emb, QIDS, k=5, n_cells=4, n_probe=2).collect()
    assert all(r["query_id"] != r["vec_id"] for r in rows)
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q


def test_prebuilt_assignment_reuse(spark):
    """ivf_assign once + prebuilt= per query == the one-call path (the
    amortized index-build shape a deployment uses)."""
    emb = make_embeddings(spark, 200, dim=16)
    one_call = similarity.ivf_topk(emb, QIDS, k=10, n_cells=8, n_probe=3).collect()
    idx = similarity.ivf_assign(emb, n_cells=8)
    idx[0].persist().count()
    reused = similarity.ivf_topk(emb, QIDS, k=10, n_probe=3, prebuilt=idx).collect()
    idx[0].unpersist()
    assert _key(one_call) == _key(reused)


def test_prebuilt_rejects_params_that_do_not_fit(spark):
    """A prebuilt index fixes the cell count: an explicit ``n_cells``
    other than its own, or more probes than it has cells, raises
    instead of being ignored; a matching ``n_cells`` is accepted."""
    emb = make_embeddings(spark, 200, dim=16)
    idx = similarity.ivf_assign(emb, n_cells=8)
    with pytest.raises(ValueError, match="n_cells=16 but the prebuilt index has 8"):
        similarity.ivf_topk(emb, QIDS, k=10, n_cells=16, n_probe=3, prebuilt=idx)
    with pytest.raises(ValueError, match="n_probe=9 exceeds"):
        similarity.ivf_topk(emb, QIDS, k=10, n_probe=9, prebuilt=idx)
    full = similarity.ivf_topk(emb, QIDS, k=10, n_cells=8, n_probe=8, prebuilt=idx)
    assert _key(full.collect()) == _key(similarity.cosine_topk(emb, QIDS, k=10).collect())


def test_one_call_keeps_callers_cached_index(spark):
    """Spark keys caches by plan, so a one-call query whose assignment
    equals a caller's persisted ivf_assign frame reads that cache. It
    must leave it cached (else every later prebuilt= query silently
    recomputes the assignment) and, with no caller cache, release the
    one it made."""
    emb = make_embeddings(spark, 200, dim=16)
    jsc = spark.sparkContext._jsc
    for cell_udf in (False, True):
        before = jsc.getPersistentRDDs().size()
        similarity.ivf_topk(
            emb, [0, 1], k=5, n_cells=8, n_probe=2, cell_udf=cell_udf
        ).collect()
        assert jsc.getPersistentRDDs().size() == before, cell_udf

        idx = similarity.ivf_assign(emb, n_cells=8, cell_udf=cell_udf)
        idx[0].persist().count()
        one_call = similarity.ivf_topk(
            emb, [0, 1], k=5, n_cells=8, n_probe=2, cell_udf=cell_udf
        ).collect()
        assert idx[0].storageLevel.useMemory, cell_udf
        reused = similarity.ivf_topk(
            emb, [0, 1], k=5, n_probe=2, cell_udf=cell_udf, prebuilt=idx
        ).collect()
        idx[0].unpersist()
        assert _key(one_call) == _key(reused), cell_udf


def test_persisted_index_prunes_partitions(spark, tmp_path):
    """write_ivf_index -> read_ivf_index -> query: results match the
    in-memory path AND the scan carries PartitionFilters on the probed
    cells (only n_probe cell dirs are read)."""
    emb = make_embeddings(spark, 200, dim=16)
    mem = similarity.ivf_topk(
        emb, QIDS, k=10, n_cells=8, n_probe=3, cell_udf=True
    ).collect()
    path = str(tmp_path / "ivf")
    similarity.write_ivf_index(emb, path, n_cells=8, cell_udf=True)
    idx = similarity.read_ivf_index(spark, path)
    out = similarity.ivf_topk(
        emb, QIDS, k=10, n_probe=3, cell_udf=True, prebuilt=idx
    )
    assert _key(out.collect()) == _key(mem)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan


def test_lloyd_full_probe_still_equals_brute(spark):
    """The full-probe == brute-force invariant holds for ANY centroids,
    so it pins the Lloyd-refined path without needing bit-reproducible
    averages (which a distributed float mean can't promise)."""
    emb = make_embeddings(spark, 200, dim=16)
    ivf = similarity.ivf_topk(
        emb, QIDS, k=10, n_cells=8, n_probe=8, lloyd_iters=2
    ).collect()
    brute = similarity.cosine_topk(emb, QIDS, k=10).collect()
    assert _key(ivf) == _key(brute)


def test_lloyd_refines_toward_cluster_means(spark):
    """On a clustered corpus with n_cells == n_clusters, Lloyd recall
    should be at least as good as the raw medoid seeding."""
    emb = make_embeddings(spark, 400, dim=16, n_clusters=8).persist()
    emb.count()
    brute = {(r["query_id"], r["vec_id"]) for r in
             similarity.cosine_topk(emb, QIDS, k=5).collect()}

    def recall(iters):
        got = {(r["query_id"], r["vec_id"]) for r in similarity.ivf_topk(
            emb, QIDS, k=5, n_cells=8, n_probe=1, cell_udf=True,
            lloyd_iters=iters,
        ).collect()}
        return len(brute & got) / max(1, len(brute))

    r0, r2 = recall(0), recall(2)
    emb.unpersist()
    # Lloyd carries no monotone-recall guarantee, so pin QUALITY, not a
    # coincidence of this corpus/seed: refined recall must clear an
    # absolute floor on the clustered corpus and sit within a small
    # tolerance of the medoid seeding (regressions show up as a real
    # drop, generator/seed churn doesn't brittle-break the test).
    assert r2 >= 0.8, (r0, r2)
    assert r2 >= r0 - 0.1, (r0, r2)


def test_centroids_partitioning_invariant(spark):
    a = similarity.ivf_centroids(make_embeddings(spark, 200, dim=16, partitions=1), 8)
    b = similarity.ivf_centroids(
        make_embeddings(spark, 200, dim=16, partitions=11), 8
    )
    assert a == b
    assert len(a) == 8
