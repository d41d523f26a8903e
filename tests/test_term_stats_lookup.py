"""df/ctf of a persisted index come from one driver-side term-dictionary
lookup over the committed generations (``InvertedIndex.lookup_term_stats``):
it equals ``read_index``'s Spark fold, runs no Spark job, and fails
loudly on a generation a later commit deleted. A flat ``search`` on a
persisted index then runs three jobs. A streamed-only index commits the
analyzer its batches were tokenized with."""

import contextlib
import json
import os
import shutil

import pytest
from pyspark.sql import Window, functions as F

from searchengine_spark.analyzer import get_analyzer
from searchengine_spark.corpus import make_pages
from searchengine_spark.engine import SearchEngine
from searchengine_spark.index.build import build_index, read_index, write_index
from searchengine_spark.plans.models import BM25
from searchengine_spark.streaming.ingest import compact, start_ingest
from searchengine_spark.tools import list_postings
from tests import oracle as orc

BASE_DOCS, DELTA_DOCS = 120, 40


@contextlib.contextmanager
def count_jobs(spark, group):
    """Yields a list that holds, on exit, the ids of the Spark jobs run
    inside the block."""
    sc = spark.sparkContext
    jobs: list = []
    sc.setJobGroup(group, group)
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


def _pages(spark, n, seed, first_id):
    """``n`` pages with dense doc ids from ``first_id``, ext ids ascending
    with them."""
    rank = F.row_number().over(Window.orderBy("url")) - 1 + first_id
    return (
        make_pages(spark, n, seed=seed)
        .withColumn("doc_id", rank.cast("long"))
        .withColumn("url", F.format_string("u%06d", "doc_id"))
    )


def _ingest(spark, root, name, pages, index_dir, analyzer="english"):
    incoming = os.path.join(root, name)
    pages.coalesce(1).write.parquet(incoming)
    start_ingest(
        spark, incoming, index_dir, os.path.join(root, name + "_ckpt"), analyzer=analyzer
    ).awaitTermination(120)


def _oracle(rows, analyzer):
    an = get_analyzer(analyzer)
    return orc.PyIndex({int(r["doc_id"]): {"body": an.tokens(r["text"])} for r in rows})


@pytest.fixture(scope="module")
def two_gens(spark, tmp_path_factory):
    """A written base generation plus one streamed and minor-compacted
    delta generation, and the oracle over all their docs."""
    root = str(tmp_path_factory.mktemp("lookup"))
    path = os.path.join(root, "index")
    base = _pages(spark, BASE_DOCS, 21, 0)
    idx = build_index(base, fields={"body": "text"}, ext_id_col="url", analyzer="english")
    write_index(idx, path, buckets=4)
    idx.release()
    delta = _pages(spark, DELTA_DOCS, 22, BASE_DOCS)
    _ingest(spark, root, "incoming", delta, path)
    assert compact(spark, path)["mode"] == "minor"
    rows = base.select("doc_id", "text").union(delta.select("doc_id", "text")).collect()
    return root, path, _oracle(rows, "english")


def test_lookup_equals_the_spark_fold_without_a_job(spark, two_gens):
    _, path, _ = two_gens
    idx = read_index(spark, path)
    assert len(idx.segs) == 2
    fold = {
        (r["term"], r["field"]): (r["df"], r["ctf"])
        for r in idx.term_stats.select("term", "field", "df", "ctf").collect()
    }
    absent = {("zzqx", "body"), ("cerim", "title")}
    with count_jobs(spark, "lookup") as jobs:
        got = idx.lookup_term_stats(set(fold) | absent)
    assert jobs == []
    assert {tf: got[tf] for tf in fold} == fold
    assert all(got[tf] == (0, 0) for tf in absent)
    # a term whose df grew with the delta generation sums both
    assert any(df > 1 for df, _ in fold.values())
    # the inspection helper reads through the same lookup
    st = list_postings(idx, "cerim", "body", max_docs=1)
    assert (st["df"], st["ctf"]) == fold[("cerim", "body")]


def test_lookup_raises_on_a_dead_generation(spark, two_gens, tmp_path):
    """A handle that outlived two commits names generations that are
    gone: the lookup raises, as a Spark scan of the handle would,
    instead of answering (0, 0) for every term."""
    _, path, _ = two_gens
    copy = str(tmp_path / "index")
    shutil.copytree(path, copy)
    old = read_index(spark, copy)
    pair = ("cerim", "body")
    before = old.lookup_term_stats([pair])[pair]
    assert before != (0, 0)
    compact(spark, copy, full_rewrite=True)  # the old segs survive one commit
    assert old.lookup_term_stats([pair])[pair] == before
    compact(spark, copy, full_rewrite=True)  # ... not two
    with pytest.raises(FileNotFoundError, match="Reopen the index"):
        old.lookup_term_stats([pair])
    assert read_index(spark, copy).lookup_term_stats([pair])[pair] == before


def test_flat_search_on_a_persisted_index_runs_three_jobs(spark, two_gens):
    """Zero jobs for the stats, then the score shuffle, the ranked
    broadcast and one TakeOrderedAndProject collect; the top-10 is the
    oracle's."""
    _, path, py = two_gens
    eng = SearchEngine(read_index(spark, path))
    q = "cerim dirim barim"
    with count_jobs(spark, "search") as jobs:
        rows = eng.search(q, model="bm25", k=10).collect()
    assert len(jobs) <= 3, jobs
    want = orc.search(py, eng.parse(q, BM25()), BM25(), k=10)
    assert len(want) == 10
    assert [r["rank"] for r in rows] == list(range(1, len(want) + 1))
    assert [r["ext_id"] for r in rows] == ["u%06d" % d for d, _ in want]
    assert [r["score"] for r in rows] == pytest.approx([s for _, s in want], rel=1e-9)


def test_streamed_only_index_commits_its_analyzer(spark, tmp_path):
    """An index built only by streaming: the first minor compaction
    commits the analyzer the batches name, and the index answers."""
    root = str(tmp_path)
    path = os.path.join(root, "index")
    pages = _pages(spark, DELTA_DOCS, 23, 0)
    _ingest(spark, root, "incoming", pages, path, analyzer="simple")
    assert compact(spark, path)["mode"] == "minor"
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    assert meta["analyzer"] == "simple" and meta["analyzer_version"]
    eng = SearchEngine(read_index(spark, path))
    py = _oracle(pages.select("doc_id", "text").collect(), "simple")
    q = "cerim dirim"
    rows = eng.search(q, model="bm25", k=10).collect()
    want = orc.search(py, eng.parse(q, BM25()), BM25(), k=10)
    assert want and [r["ext_id"] for r in rows] == ["u%06d" % d for d, _ in want]
    assert [r["score"] for r in rows] == pytest.approx([s for _, s in want], rel=1e-9)


def test_compaction_rejects_batches_of_another_analyzer(spark, tmp_path):
    root = str(tmp_path)
    path = os.path.join(root, "index")
    base = _pages(spark, 30, 24, 0)
    write_index(build_index(base, fields={"body": "text"}, ext_id_col="url", analyzer="english"), path, buckets=4)
    _ingest(spark, root, "incoming", _pages(spark, 10, 25, 30), path, analyzer="simple")
    with open(os.path.join(path, "meta.json")) as f:
        before = f.read()
    for full_rewrite in (False, True):
        with pytest.raises(ValueError, match="another analyzer"):
            compact(spark, path, full_rewrite=full_rewrite)
    with open(os.path.join(path, "meta.json")) as f:
        assert f.read() == before
