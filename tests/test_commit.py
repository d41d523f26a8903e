"""One commit protocol for every index mutation (index.build, layout v5).

``write_index``, a streamed batch and the major compaction write new
``seg=`` generation dirs; ``write_index`` and the minor and the major
compaction make them live with one atomic meta.json replace (a minor
compaction writes no table: it commits the streamed ``d<batch>`` segs).
These tests make a mutation fail after each of its steps and check that
the index then reads as exactly the old generation or the new one, and
that rerunning the mutation completes it; that a reader opened before a
major compaction keeps answering; that the commit removes only
generations neither it nor the commit it replaced names, and keeps the
streamed batches no compaction folded yet; that a replay of a folded
batch, or a compaction after a ``write_index`` over folded batches,
commits none of them again; and that older layouts are rejected.
"""

import glob
import itertools
import json
import os
import random
import shutil

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from searchengine_spark.engine import SearchEngine
from searchengine_spark.index import build
from searchengine_spark.index.build import build_index, read_index, read_table, write_index
from searchengine_spark.streaming import ingest
from tests.test_term_stats_lookup import count_jobs

SCHEMA = "doc_id long, text string, url string"
QUERIES = [("bm25", "cat dog ibis"), ("bm25", "#near/2(cat dog)"), ("indri", "cat fox jay")]


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


def _stream(spark, incoming, path, ckpt):
    """Stream ``incoming`` into ``path``; a ``Crash`` in a batch ends the
    query, and is raised as itself."""
    try:
        ingest.start_ingest(spark, incoming, path, ckpt, analyzer="simple").awaitTermination(120)
    except StreamingQueryException as e:
        if "Crash" in str(e):
            raise Crash(str(e)) from e
        raise


def _copy_batch(src, dst, batch=0, to=None):
    """Copy the seg dirs of streamed batch ``batch`` (its record too) from
    index dir ``src`` into ``dst``, as batch ``to`` (default: the same)."""
    for table in build.TERM_TABLES + build.DOC_TABLES:
        nest = "bucket=*" if table in build.TERM_TABLES else ""
        for d in glob.glob(os.path.join(src, table, nest, f"seg=d{batch}")):
            parent = os.path.dirname(os.path.relpath(d, src))
            shutil.copytree(d, os.path.join(dst, parent, f"seg=d{batch if to is None else to}"))


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
    the other 15 docs as streamed batch 0, not yet compacted) and
    ``fresh`` (all 55 written at once), with the snapshots of the old
    and the new index, and the page dir the stream reads."""
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
    _stream(spark, incoming, streamed, str(root / "ckpt"))
    _write(spark, rows, fresh)
    old, new = _snapshot(spark, base), _snapshot(spark, fresh)
    assert old["n_docs"] == 40 and new["n_docs"] == 55 and old["top10"] != new["top10"]
    return {
        "rows": rows, "base": base, "streamed": streamed, "incoming": incoming,
        "old": old, "new": new,
    }


def _stream_and_compact(spark, states, path):
    """The streamed path: batch 0 (the 15 pages) lands, then a minor
    compaction commits it; a rerun replays the batch from the stream's
    checkpoint if it had not finished."""
    _stream(spark, states["incoming"], path, path + "_ckpt")
    return ingest.compact(spark, path)


MUTATIONS = {
    # name -> (pristine dir, run)
    "write_index": ("base", lambda spark, states, path: _write(spark, states["rows"], path)),
    # the table writes of the minor path happen in the streamed batch
    "minor": ("base", _stream_and_compact),
    "major": ("streamed", lambda spark, states, path: ingest.compact(spark, path, full_rewrite=True)),
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
            run(spark, states, path)
    committed = fault == "after_commit" or (fault == "write_manifests" and mutation != "write_index")
    assert _snapshot(spark, path) == states["new" if committed else "old"]
    # a rerun completes the mutation
    run(spark, states, path)
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
    _copy_batch(states["streamed"], path)
    assert ingest.compact(spark, path)["mode"] == "minor"
    meta = _meta(path)
    assert meta["segs"] == ["d0"] and meta["n_docs"] == 15 and meta["buckets"] == 4
    assert meta["layout"] == build.LAYOUT and meta["fields"] == ["body"]
    assert sorted(os.listdir(path)) == ["_manifest", "doc_stats", "docs", "meta.json", "postings", "term_stats"]
    ids = {r["doc_id"] for r in read_table(spark, path, "docs", meta["segs"]).collect()}
    assert ids == set(range(40, 55))
    live = read_index(spark, path).postings
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
    assert "d0" in _segs_on_disk(path)


def test_batch_landing_during_compaction_waits_for_the_next(spark, states, tmp_path, monkeypatch):
    """A commit keeps the streamed batches it does not fold: one the
    stream writes while a compaction runs is folded by the next one."""
    path = str(tmp_path / "idx")
    shutil.copytree(states["streamed"], path)
    real = ingest.write_meta

    def commit_while_a_batch_lands(p, meta):
        _copy_batch(p, p, to=1)  # batch 1: the same 15 pages redelivered
        real(p, meta)

    monkeypatch.setattr(ingest, "write_meta", commit_while_a_batch_lands)
    ingest.compact(spark, path)
    monkeypatch.setattr(ingest, "write_meta", real)
    meta = _meta(path)
    assert meta["folded_through"] == 0 and meta["n_docs"] == 55 and "d1" not in meta["segs"]
    assert _segs_on_disk(path) == set(meta["segs"]) | {"d1"}
    ingest.compact(spark, path)
    meta = _meta(path)
    assert meta["folded_through"] == 1 and meta["n_docs"] == 70
    assert meta["segs"][-2:] == ["d0", "d1"] and _segs_on_disk(path) == set(meta["segs"])


def test_commit_keeps_a_pending_batch(spark, states, tmp_path):
    """``write_meta`` drops a seg dir no commit names unless it is a
    streamed batch above the commit's ``folded_through``."""
    path = str(tmp_path / "idx")
    shutil.copytree(states["streamed"], path)
    meta = _meta(path)
    assert "d0" not in meta["segs"]
    build.write_meta(path, meta)
    assert "d0" in _segs_on_disk(path)
    build.write_meta(path, {**meta, "folded_through": 0})
    assert _segs_on_disk(path) == set(meta["segs"])


def test_batch_without_a_record_is_not_committed(spark, states, tmp_path, monkeypatch):
    """A batch that dies after its tables but before its record is not
    committed by a compaction; the stream's replay of it completes it."""
    path = str(tmp_path / "idx")
    shutil.copytree(states["base"], path)
    with monkeypatch.context() as mp:
        _inject(mp, "write_tables")
        with pytest.raises(Crash):
            _stream(spark, states["incoming"], path, path + "_ckpt")
    assert "d0" in _segs_on_disk(path)
    ingest.compact(spark, path)
    assert _snapshot(spark, path) == states["old"] and "folded_through" not in _meta(path)
    _stream_and_compact(spark, states, path)
    assert _snapshot(spark, path) == states["new"]


def test_minor_compaction_is_a_commit_without_a_spark_job(spark, states, tmp_path):
    path = str(tmp_path / "idx")
    shutil.copytree(states["streamed"], path)
    with count_jobs(spark, "minor") as jobs:
        assert ingest.compact(spark, path) == {"mode": "minor", "phases": {}}
    assert jobs == [] and _meta(path)["segs"][-1] == "d0"
    assert _snapshot(spark, path) == states["new"]


def test_replay_of_a_folded_batch_writes_nothing(spark, states, tmp_path):
    """A stream that replays batch 0 (here: a new checkpoint over the
    same pages) after a compaction folded it leaves every file alone."""
    path = str(tmp_path / "idx")
    shutil.copytree(states["streamed"], path)
    ingest.compact(spark, path)

    def files():
        return {
            os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _dirs, fs in os.walk(path) for f in fs
        }

    before = files()
    _stream(spark, states["incoming"], path, str(tmp_path / "ckpt2"))
    assert files() == before
    assert ingest.compact(spark, path) == {"mode": "minor", "phases": {}} and files() == before


def test_compaction_rejects_batches_of_another_bucket_count(spark, states, tmp_path):
    """A batch streamed into an empty dir is bucketed 16 ways; once
    ``write_index`` has made a 4-bucket index there, compacting it would
    file its terms under the wrong buckets."""
    path = str(tmp_path / "idx")
    ingest.write_batch(spark.createDataFrame(states["rows"][40:], SCHEMA), 0, path, analyzer="simple")
    _write(spark, states["rows"][:40], path)
    for full_rewrite in (False, True):
        with pytest.raises(ValueError, match="bucketed"):
            ingest.compact(spark, path, full_rewrite=full_rewrite)
    assert _snapshot(spark, path) == states["old"]


def test_write_index_keeps_folded_batches_folded(spark, states, tmp_path):
    """A ``write_index`` over a compacted streamed index carries
    ``folded_through``: the next compaction appends none of the batches
    it folded, and the commit after the rewrite drops their dirs."""
    path = str(tmp_path / "idx")
    shutil.copytree(states["streamed"], path)
    ingest.compact(spark, path)
    _write(spark, states["rows"], path)
    written = _meta(path)
    assert written["folded_through"] == 0 and written["segs"][0][0] == "w"
    assert ingest.compact(spark, path) == {"mode": "minor", "phases": {}}
    assert _meta(path) == written and _snapshot(spark, path) == states["new"]
    new = [(55 + i, "cat dog eel", f"u{55 + i:04d}") for i in range(3)]
    ingest.write_batch(spark.createDataFrame(new, SCHEMA), 1, path, analyzer="simple")
    ingest.compact(spark, path)
    meta = _meta(path)
    assert meta["segs"] == written["segs"] + ["d1"] and meta["n_docs"] == 58
    assert _segs_on_disk(path) == set(meta["segs"])


def test_batch_streamed_before_write_index_reads_in_its_docs_schema(spark, states, tmp_path):
    """A batch streamed into an empty dir holds (doc_id, ext_id) docs;
    committed after a ``write_index`` whose docs carry a metadata column,
    both generations read in the merged schema, before and after a
    major compaction."""
    path = str(tmp_path / "idx")
    ingest.write_batch(spark.createDataFrame(states["rows"][40:], SCHEMA), 0, path, analyzer="simple")
    docs = spark.createDataFrame(states["rows"][:40], SCHEMA).withColumn("n_chars", F.length("text"))
    write_index(build_index(docs, fields={"body": "text"}, ext_id_col="url", analyzer="simple"), path)
    expect = {i: (f"u{i:04d}", len(t) if i < 40 else None) for i, t, _u in states["rows"]}
    for full_rewrite in (False, True):
        ingest.compact(spark, path, full_rewrite=full_rewrite)
        got = read_index(spark, path).docs.collect()
        assert {r["doc_id"]: (r["ext_id"], r["n_chars"]) for r in got} == expect and len(got) == 55


def test_page_delivered_twice_in_a_batch_is_one_doc(spark, states, tmp_path):
    path = str(tmp_path / "idx")
    shutil.copytree(states["base"], path)
    rows = states["rows"][40:] + states["rows"][40:43]
    ingest.write_batch(spark.createDataFrame(rows, SCHEMA), 0, path, analyzer="simple")
    ingest.compact(spark, path)
    assert _snapshot(spark, path) == states["new"]
    fresh = read_index(spark, path)
    assert fresh.docs.count() == 55 and fresh.doc_stats.count() == 55
