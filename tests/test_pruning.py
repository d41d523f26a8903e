"""Persisted-index physical-plan checks: term scans must hit parquet
with pushed filters AND bucket partition pruning; the postings writer
count follows the token count, and each written file is sorted by
(term, field, doc_id)."""

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from searchengine_spark.corpus import extract_fields, make_pages
from searchengine_spark.engine import SearchEngine
from searchengine_spark.index.build import (
    assign_doc_ids, build_index, read_index, write_index, writers_per_bucket,
)


def _bucket_literals(plan: str) -> set[int]:
    """Bucket ids a physical plan's partition filters pin — accepts the
    three shapes Catalyst prints: ``bucket#N = 5``, ``bucket#N IN (3,5)``
    and ``bucket#N INSET 3, 5`` (a single-element isin folds to =)."""
    import re

    got: set[int] = set()
    for m in re.finditer(r"bucket#\d+ = (\d+)", plan):
        got.add(int(m.group(1)))
    for m in re.finditer(r"bucket#\d+ IN \(([^)]*)\)", plan):
        got.update(int(x) for x in m.group(1).split(","))
    for m in re.finditer(r"bucket#\d+ INSET ([\d, ]+)", plan):
        got.update(int(x) for x in m.group(1).split(","))
    return got


@pytest.fixture(scope="module")
def disk_index(spark, tmp_path_factory):
    docs = assign_doc_ids(extract_fields(make_pages(spark, 400, seed=9)), ext_id_col="url")
    idx = build_index(docs, fields={"body": "body"}, ext_id_col="url", analyzer="english")
    path = str(tmp_path_factory.mktemp("pidx") / "index")
    write_index(idx, path, buckets=8)
    return read_index(spark, path), path


def test_term_scan_prunes_buckets(spark, disk_index):
    idx, _ = disk_index
    eng = SearchEngine(idx)
    plan = (
        eng.scores("cerim", model="bm25")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    assert "bucket" in plan
    assert "PushedFilters" in plan and "cerim" in plan


def test_writers_per_bucket_follow_the_tokens(disk_index):
    """One postings writer per bucket up to 500k tokens a bucket, one
    more per 500k after; the 400-page index writes one file a bucket."""
    assert writers_per_bucket(0, 8) == 1
    assert writers_per_bucket(8 * 500_000, 8) == 1
    assert writers_per_bucket(8 * 500_000 + 1, 8) == 2
    assert writers_per_bucket(16 * 5_000_000, 16) == 10
    _, path = disk_index
    per_bucket = [
        len(glob.glob(os.path.join(d, "seg=*", "*.parquet")))
        for d in glob.glob(os.path.join(path, "postings", "bucket=*"))
    ]
    assert len(per_bucket) == 8 and set(per_bucket) == {1}, per_bucket


def test_postings_files_are_term_sorted(disk_index):
    """Every written postings file holds its rows in (term, field,
    doc_id) order, read back with pyarrow."""
    _, path = disk_index
    files = glob.glob(os.path.join(path, "postings", "bucket=*", "seg=*", "*.parquet"))
    assert files
    for f in files:
        t = pq.read_table(f, columns=["term", "field", "doc_id"])
        keys = list(zip(*(t.column(c).to_pylist() for c in ("term", "field", "doc_id"))))
        assert len(keys) > 1 and keys == sorted(keys), f


def test_disk_query_matches_memory(spark, disk_index):
    idx, _ = disk_index
    eng_disk = SearchEngine(idx)
    docs = assign_doc_ids(extract_fields(make_pages(spark, 400, seed=9)), ext_id_col="url")
    eng_mem = SearchEngine(
        build_index(docs, fields={"body": "body"}, ext_id_col="url", analyzer="english")
    )
    q = "#wand(0.7 cerim 0.3 #near/2(barim batok))"
    a = {(r["doc_id"], round(r["score"], 10)) for r in eng_disk.scores(q, model="indri").collect()}
    b = {(r["doc_id"], round(r["score"], 10)) for r in eng_mem.scores(q, model="indri").collect()}
    assert a == b


def test_stats_prefetch_prunes_term_stats_buckets(spark, disk_index):
    """A term-filtered read of the persisted index's ``term_stats``
    frame (the Spark fold of its generations, which PRF's expansion
    terms read; query df/ctf come from the driver-side lookup) with a
    literal bucket-IN — the scan must show bucket PartitionFilters (the
    segment-fold groupBy keeps ``bucket`` in its keys precisely so this
    pruning survives), not a full-vocab read."""
    from searchengine_spark.functions.xxh64 import term_bucket

    idx, _ = disk_index
    terms = ["cerim", "dirim"]
    ids = sorted({term_bucket(t, idx.n_buckets) for t in terms})
    fr = idx.term_stats.where(
        F.col("bucket").isin(ids)
        & F.col("term").isin(terms)
        & (F.col("field") == "body")
    )
    plan = fr._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert set(ids) <= _bucket_literals(plan), (ids, plan[:2000])
    # and the filtered collect returns exactly the wanted terms
    got = {r["term"]: int(r["df"]) for r in fr.collect()}
    assert set(got) == set(terms) and all(v > 0 for v in got.values())


def test_batched_sum_scan_prunes_bucket_union(spark, disk_index):
    """The single-scan long-query BM25 path pushes an OR of constant
    per-term bucket equalities — partition pruning reads only the union
    of the terms' bucket dirs, and one FileScan serves all terms."""
    import re

    idx, _ = disk_index
    eng = SearchEngine(idx)
    q = "cerim dirim barim batok balan"  # 5 terms -> agg/batch path
    plan = (
        eng.scores(q, model="bm25")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("FileScan") == 1, f"expected ONE postings scan:\n{plan[:1500]}"
    assert "PartitionFilters" in plan
    expected = {
        int(spark.sql(f"SELECT pmod(xxhash64('{t}'), {idx.n_buckets}) AS b").first()["b"])
        for t in q.split()
    }
    assert expected == _bucket_literals(plan), (expected, plan[:1500])
