"""make_embeddings: deterministic codegen embedding corpus, and the
hyperplane-LSH near-dup bucketing it feeds."""

import math

from searchengine_spark.corpus import make_embeddings
from searchengine_spark.pipeline import similarity


def _cos(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(y * y for y in b))
    return dot / (na * nb)


def test_schema_matches_testdata(spark):
    df = make_embeddings(spark, 10, dim=8)
    assert [f.name for f in df.schema.fields] == ["vec_id", "embedding", "label"]
    assert df.schema["embedding"].dataType.simpleString() == "array<float>"
    rows = df.collect()
    assert len(rows) == 10
    assert all(len(r["embedding"]) == 8 for r in rows)
    assert all(0 <= r["label"] < 16 for r in rows)


def test_partitioning_invariant(spark):
    a = make_embeddings(spark, 300, dim=16, partitions=1).collect()
    b = make_embeddings(spark, 300, dim=16, partitions=13).collect()
    am = {r["vec_id"]: (r["embedding"], r["label"]) for r in a}
    bm = {r["vec_id"]: (r["embedding"], r["label"]) for r in b}
    assert am == bm


def test_planted_near_dups_separate_from_noise(spark):
    rows = {r["vec_id"]: r["embedding"] for r in make_embeddings(spark, 400, dim=64).collect()}
    # planted: every 100th vector is vector i-99 plus eps-noise
    for i in (99, 199, 299, 399):
        assert _cos(rows[i - 99], rows[i]) > 0.99, i
    # unrelated pairs stay far below any sane near-dup threshold
    assert abs(_cos(rows[0], rows[1])) < 0.6
    assert abs(_cos(rows[5], rows[250])) < 0.6


def test_near_dup_pairs_recover_planted(spark):
    emb = make_embeddings(spark, 2000, dim=64)
    got = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_dup_pairs(
            emb, threshold=0.9, n_tables=8, bits=16, dim=64
        ).collect()
    }
    planted = {(i - 99, i) for i in range(99, 2000, 100)}
    assert planted <= got
    # no false positives beyond the planted family at this threshold
    assert got == planted


def test_clustered_mode_cosine_structure(spark):
    rows = {
        r["vec_id"]: (r["embedding"], r["label"])
        for r in make_embeddings(spark, 300, dim=64, n_clusters=10).collect()
    }
    by_cluster = {}
    for vid, (v, lab) in rows.items():
        by_cluster.setdefault(lab, []).append(v)
    assert len(by_cluster) == 10
    some_cluster = next(vs for vs in by_cluster.values() if len(vs) >= 2)
    assert _cos(some_cluster[0], some_cluster[1]) > 0.8
    a = next(iter(by_cluster[min(by_cluster)]))
    b = next(iter(by_cluster[max(by_cluster)]))
    assert _cos(a, b) < 0.6


def test_plane_udf_buckets_match_literal(spark):
    """The forced-UDF matmul path (the row-count scale path) produces the
    same bucket keys as the oracle-replayable literal path."""
    from pyspark.sql import functions as F

    emb = make_embeddings(spark, 500, dim=64)
    planes = similarity._hyperplanes(64, 8, 16, 13)
    base = similarity.with_norm(emb, "embedding").select("vec_id", "__v")
    lit = {
        r["vec_id"]: r["k"]
        for r in base.withColumn(
            "k", similarity._bucket_array_col(planes, plane_udf=False)
        ).select("vec_id", "k").collect()
    }
    udf = {
        r["vec_id"]: r["k"]
        for r in base.withColumn(
            "k", similarity._bucket_array_col(planes, plane_udf=True)
        ).select("vec_id", "k").collect()
    }
    assert lit == udf


def test_near_dup_pairs_plane_udf_same_result(spark):
    emb = make_embeddings(spark, 1000, dim=64)
    kw = dict(threshold=0.9, n_tables=8, bits=16, dim=64)
    a = {
        (r["id_a"], r["id_b"], r["cos"])
        for r in similarity.embedding_near_dup_pairs(emb, **kw).collect()
    }
    b = {
        (r["id_a"], r["id_b"], r["cos"])
        for r in similarity.embedding_near_dup_pairs(
            emb, plane_udf=True, **kw
        ).collect()
    }
    assert a == b and a
