"""One commit protocol for every index mutation (index.build, layout v4).

``write_index``, the minor and the major compaction write new ``seg=``
generation dirs and make them live with one atomic meta.json replace.
These tests make a mutation fail after each of its steps and check that
the index then reads as exactly the old generation or the new one, and
that rerunning the mutation completes it; that a reader opened before a
major compaction keeps answering; that the commit removes only
generations neither it nor the commit it replaced names, and a
compaction only the delta batches it folded; and that older layouts are
rejected.
"""

import itertools
import json
import os
import random
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from searchengine_spark.engine import SearchEngine
from searchengine_spark.index import build
from searchengine_spark.index.build import build_index, read_index, read_table, write_index
from searchengine_spark.streaming import ingest

SCHEMA = "doc_id long, text string, url string"
QUERIES = [("bm25", "cat dog ibis"), ("bm25", "#near/2(cat dog)"), ("indri", "cat fox jay")]
DELTAS = ("delta", "delta_doc_stats", "delta_docs")


class Crash(Exception):
    """The process dies at an injected step."""


def _write(spark, rows, path):
    docs = spark.createDataFrame(rows, SCHEMA)
    idx = build_index(docs, fields={"body": "text"}, ext_id_col="url", analyzer="simple")
    return write_index(idx, path, buckets=4)


def _snapshot(spark, path):
    idx = read_index(spark, path)
    eng = SearchEngine(idx)
    return {
        "n_docs": idx.n_docs,
        "top10": [
            [(r["doc_id"], r["ext_id"], "%.18f" % r["score"])
             for r in eng.search(q, model=m, k=10).collect()]
            for m, q in QUERIES
        ],
    }


def _meta(path):
    with open(os.path.join(path, "meta.json")) as f:
        return json.load(f)


def _segs_on_disk(path):
    return {
        d.split("=", 1)[1]
        for table in build.TERM_TABLES + build.DOC_TABLES
        for dirpath, dirs, _files in os.walk(os.path.join(path, table))
        for d in dirs
        if d.startswith("seg=")
    }


@pytest.fixture(scope="module")
def states(spark, tmp_path_factory):
    """Pristine dirs: ``base`` (40 docs written), ``streamed`` (base plus
    the other 15 docs as un-folded delta batches) and ``fresh`` (all 55
    written at once), with the snapshots of the old and the new index."""
    root = tmp_path_factory.mktemp("commit")
    rng = random.Random(5)
    vocab = ["ant", "bee", "cat", "dog", "eel", "fox", "gnu", "hen", "ibis", "jay"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 14))), f"u{i:04d}")
        for i in range(55)
    ]
    base, streamed, fresh = (str(root / n) for n in ("base", "streamed", "fresh"))
    _write(spark, rows[:40], base)
    shutil.copytree(base, streamed)
    incoming = str(root / "incoming")
    spark.createDataFrame(rows[40:], SCHEMA).select(
        "doc_id", "url", F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"), "text", F.lit("en").alias("lang"),
    ).coalesce(1).write.parquet(incoming)
    ingest.start_ingest(
        spark, incoming, streamed, str(root / "ckpt"), analyzer="simple"
    ).awaitTermination(120)
    _write(spark, rows, fresh)
    old, new = _snapshot(spark, base), _snapshot(spark, fresh)
    assert old["n_docs"] == 40 and new["n_docs"] == 55 and old["top10"] != new["top10"]
    return {"rows": rows, "base": base, "streamed": streamed, "old": old, "new": new}


MUTATIONS = {
    # name -> (pristine dir, run)
    "write_index": ("base", lambda spark, rows, path: _write(spark, rows, path)),
    "minor": ("streamed", lambda spark, rows, path: ingest.compact(spark, path)),
    "major": ("streamed", lambda spark, rows, path: ingest.compact(spark, path, full_rewrite=True)),
}

# each step of a mutation, in the order the steps run; the generation
# is live only once write_meta has replaced meta.json
FAULTS = ("first_table", "write_tables", "write_manifests", "before_commit", "after_commit")


def _inject(mp, fault):
    def crash(*_a, **_kw):
        raise Crash(fault)

    if fault == "first_table":
        # the first table write of write_tables lands, then the process dies
        real, calls = DataFrameWriter.parquet, itertools.count(1)

        def parquet(self, *a, **kw):
            real(self, *a, **kw)
            if next(calls) == 1:
                raise Crash(fault)

        mp.setattr(DataFrameWriter, "parquet", parquet)
    elif fault == "before_commit":
        for mod in (build, ingest):
            mp.setattr(mod, "write_meta", crash)
    elif fault == "after_commit":
        mp.setattr(build, "_drop_segs", crash)  # meta.json replaced, no clean-up
    else:
        real = getattr(build, fault)

        def after(*a, **kw):
            real(*a, **kw)
            raise Crash(fault)

        for mod in (build, ingest):
            mp.setattr(mod, fault, after)


@pytest.mark.parametrize("fault", FAULTS)
@pytest.mark.parametrize("mutation", list(MUTATIONS))
def test_failed_mutation_reads_old_or_new(spark, states, tmp_path, monkeypatch, mutation, fault):
    src, run = MUTATIONS[mutation]
    path = str(tmp_path / "idx")
    shutil.copytree(states[src], path)
    with monkeypatch.context() as mp:
        _inject(mp, fault)
        with pytest.raises(Crash):
            run(spark, states["rows"], path)
    committed = fault == "after_commit" or (fault == "write_manifests" and mutation != "write_index")
    assert _snapshot(spark, path) == states["new" if committed else "old"]
    # a rerun completes the mutation
    run(spark, states["rows"], path)
    assert _snapshot(spark, path) == states["new"]
    assert set(_meta(path)["segs"]) <= _segs_on_disk(path)


def test_old_reader_survives_major_compaction(spark, states, tmp_path):
    """A reader keeps its generation until the commit after the one
    that replaced it; each commit removes only what neither it nor the
    commit it replaced names."""
    path = str(tmp_path / "idx")
    shutil.copytree(states["streamed"], path)
    written = _meta(path)["segs"]
    assert ingest.compact(spark, path)["mode"] == "minor"
    minor = _meta(path)["segs"]
    assert minor[:-1] == written and _segs_on_disk(path) == set(minor)

    eng = SearchEngine(read_index(spark, path))
    before = [eng.search(q, model=m, k=10).collect() for m, q in QUERIES]
    assert ingest.compact(spark, path, full_rewrite=True)["mode"] == "major"
    major = _meta(path)["segs"]
    assert len(major) == 1 and _segs_on_disk(path) == set(minor) | set(major)
    assert [eng.search(q, model=m, k=10).collect() for m, q in QUERIES] == before
    assert _snapshot(spark, path) == states["new"]

    # the next commit drops the generations only the replaced one named
    ingest.compact(spark, path, full_rewrite=True)
    again = _meta(path)["segs"]
    assert again != major and _segs_on_disk(path) == set(major) | set(again)
    assert _snapshot(spark, path) == states["new"]


def test_first_compaction_of_a_dir_without_meta_is_a_minor_fold(spark, states, tmp_path):
    path = str(tmp_path / "idx")
    for name in DELTAS:
        shutil.copytree(os.path.join(states["streamed"], name), os.path.join(path, name))
    assert ingest.compact(spark, path)["mode"] == "minor"
    meta = _meta(path)
    seg = meta["segs"][0]
    assert meta["segs"] == [seg] and seg.startswith("b") and meta["n_docs"] == 15
    assert meta["layout"] == build.LAYOUT and meta["fields"] == ["body"]
    assert sorted(os.listdir(path)) == ["_manifest", "doc_stats", "docs", "meta.json", "postings", "term_stats"]
    ids = {r["doc_id"] for r in read_table(spark, path, "docs", meta["segs"]).collect()}
    assert ids == set(range(40, 55))
    live = ingest.read_live_postings(spark, path)
    assert live.select("doc_id").distinct().count() == 15


@pytest.mark.parametrize("layout", [3, 4])
def test_older_layout_is_rejected(spark, states, tmp_path, layout):
    path = str(tmp_path / "idx")
    shutil.copytree(states["streamed"], path)
    meta = _meta(path)
    meta["layout"] = layout
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="Rebuild"):
        read_index(spark, path)
    with pytest.raises(ValueError, match="Rebuild"):
        ingest.compact(spark, path)
    assert all(os.path.isdir(os.path.join(path, name)) for name in DELTAS)


def test_batch_landing_during_compaction_waits_for_the_next(spark, states, tmp_path, monkeypatch):
    """A compaction deletes only the batches it folded: one the stream
    writes while the compaction runs is folded by the next compaction."""
    path = str(tmp_path / "idx")
    shutil.copytree(states["streamed"], path)
    real = ingest.write_meta

    def commit_while_a_batch_lands(p, meta):
        for name in DELTAS:  # batch 1: the same 15 pages redelivered
            shutil.copytree(os.path.join(p, name, "batch=0"), os.path.join(p, name, "batch=1"))
        real(p, meta)

    monkeypatch.setattr(ingest, "write_meta", commit_while_a_batch_lands)
    ingest.compact(spark, path)
    monkeypatch.setattr(ingest, "write_meta", real)
    assert _meta(path)["folded_through"] == 0 and _meta(path)["n_docs"] == 55
    assert all(os.listdir(os.path.join(path, name)) == ["batch=1"] for name in DELTAS)
    ingest.compact(spark, path)
    meta = _meta(path)
    assert meta["folded_through"] == 1 and meta["n_docs"] == 70
    assert meta["segs"][-2:] == ["b0_0", "b1_1"]
    assert not any(os.path.exists(os.path.join(path, name)) for name in DELTAS)
