import json
import os
import shutil

from pyspark.sql import functions as F

from searchengine_spark.corpus import extract_fields, make_pages
from searchengine_spark.index import build_index, read_index, write_index
from searchengine_spark.index.build import assign_doc_ids


def _tiny_docs(spark):
    rows = [
        (0, "the cat sat on the mat", "cat story"),
        (1, "a cat and a dog", "animals"),
        (2, "dogs dogs dogs", "dog dog"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, title string")


def test_build_postings_simple(spark):
    idx = build_index(_tiny_docs(spark), {"body": "text"}, analyzer="simple")
    rows = {(r.term, r.doc_id): r for r in idx.postings.collect()}
    assert rows[("cat", 0)].tf == 1
    assert rows[("the", 0)].tf == 2
    assert rows[("the", 0)].positions == [0, 4]
    assert rows[("dogs", 2)].tf == 3
    assert rows[("cat", 0)].doc_len == 6
    ts = {(r.term): (r.df, r.ctf) for r in idx.term_stats.collect()}
    assert ts["cat"] == (2, 2)
    assert ts["dogs"] == (1, 3)
    assert idx.n_docs == 3
    assert idx.field_stats["body"]["sum_len"] == 6 + 5 + 3


def test_build_english_stopwords_keep_positions(spark):
    idx = build_index(_tiny_docs(spark), {"body": "text"}, analyzer="english")
    rows = {(r.term, r.doc_id): r for r in idx.postings.collect()}
    # 'the' is a stopword → no posting; 'cat' at position 1 (slot preserved)
    assert ("the", 0) not in rows
    assert rows[("cat", 0)].positions == [1]
    # doc_len counts stopword slots (Idx.java:97 semantics)
    assert rows[("cat", 0)].doc_len == 6
    # stemming: dogs → dog merges docs 1,2
    assert rows[("dog", 2)].tf == 3


def test_multifield_build(spark):
    idx = build_index(_tiny_docs(spark), {"body": "text", "title": "title"}, analyzer="simple")
    fields = {r.field for r in idx.postings.select("field").distinct().collect()}
    assert fields == {"body", "title"}
    ts = {(r.term, r.field): r.df for r in idx.term_stats.collect()}
    assert ts[("cat", "title")] == 1
    assert idx.field_stats["title"]["doc_count"] == 3


def _map_in_pandas(plan, into_caches: bool) -> int:
    """MapInPandas nodes of a logical plan; ``into_caches`` also counts
    those inside the cached plans of its InMemoryRelations."""
    n = int(plan.nodeName() == "MapInPandas")
    kids = [plan.children()] + ([plan.innerChildren()] if into_caches else [])
    for seq in kids:
        for i in range(seq.size()):
            n += _map_in_pandas(seq.apply(i), into_caches)
    return n


def test_build_tokenizes_every_field_in_one_pass(spark):
    """One Arrow pass tokenizes every field of every doc, into the one
    build cache that postings, doc_stats and the stats read; after
    ``materialize`` nothing is recomputed (doc_stats reads the cache)."""
    from searchengine_spark.analyzer import get_analyzer

    docs = spark.createDataFrame(
        [
            (0, "the cat sat on the mat", "cat story"),
            (1, "a cat and a dog", None),
            (2, "dogs dogs dogs", ""),
            (3, "the quick fox", "quick quick fox"),
        ],
        "doc_id long, text string, title string",
    )
    fields = {"body": "text", "title": "title"}
    idx = build_index(docs, fields, analyzer="english")

    def optimized(df):
        return df._jdf.queryExecution().optimizedPlan()

    assert _map_in_pandas(optimized(idx.postings), into_caches=True) == 1
    idx.materialize()
    # a fresh frame: its plan is matched against the live caches now
    assert _map_in_pandas(optimized(idx.doc_stats.select("*")), into_caches=False) == 0

    an = get_analyzer("english")
    lens = {
        (r["doc_id"], fld): len(an.tokens(r[src] or ""))
        for r in docs.collect() for fld, src in fields.items()
    }
    assert idx.n_docs == 4  # the docs with a null and an empty title count
    assert {(r.doc_id, r.field): r.doc_len for r in idx.doc_stats.collect()} == {
        k: v for k, v in lens.items() if v > 0
    }
    for fld in fields:
        ls = [v for (_, f), v in lens.items() if f == fld and v > 0]
        assert idx.field_stats[fld] == {
            "doc_count": len(ls), "sum_len": sum(ls), "avg_len": sum(ls) / len(ls),
        }
    assert idx.field_stats["title"]["doc_count"] == 2
    idx.release()


def test_write_read_resume(spark, tmp_path):
    path = str(tmp_path / "idx")
    idx = build_index(_tiny_docs(spark), {"body": "text"}, analyzer="simple")
    res1 = write_index(idx, path, buckets=4)
    assert sorted(res1["written"]) == [0, 1, 2, 3]
    # resume: everything skipped
    res2 = write_index(idx, path, buckets=4)
    assert res2["written"] == []
    assert sorted(res2["skipped"]) == [0, 1, 2, 3]
    # manifest entries exist and carry lineage
    assert len(os.listdir(os.path.join(path, "_manifest"))) == 4
    idx2 = read_index(spark, path)
    assert idx2.n_docs == 3
    assert idx2.postings.count() == idx.postings.count()
    got = idx2.postings.where("term='cat' and doc_id=0").collect()[0]
    assert got.positions == [1]

    # a different corpus written to the same path replaces the index:
    # nothing of the old one survives in the buckets the new one leaves
    # empty (dynamic overwrite alone only replaces the buckets written)
    other = spark.createDataFrame(
        [(10, "zebra zebra"), (11, "zebra yak")], "doc_id long, text string"
    )
    res3 = write_index(build_index(other, {"body": "text"}, analyzer="simple"), path, buckets=4)
    assert res3["written"] == [0, 1, 2, 3]
    idx3 = read_index(spark, path)
    assert idx3.n_docs == 2
    assert sorted(r.doc_id for r in idx3.postings.select("doc_id").distinct().collect()) == [10, 11]
    assert sorted(r.doc_id for r in idx3.doc_stats.collect()) == [10, 11]
    assert {(r.term, r.df, r.ctf) for r in idx3.term_stats.collect()} == {
        ("zebra", 2, 3), ("yak", 1, 1)
    }


def test_corpus_deterministic_and_invariant(spark):
    a = make_pages(spark, 120, seed=42, partitions=3).orderBy("url").collect()
    b = make_pages(spark, 120, seed=42, partitions=7).orderBy("url").collect()
    # byte-identical text per url across partitionings (per-row invariant)
    assert [(r.url, r.text) for r in a] == [(r.url, r.text) for r in b]
    assert all(r.html.decode("utf-8").count("<title>") == 1 for r in a[:5])
    # near-duplicate marker present ~1%
    dups = [r for r in a if r.text.endswith("nearduplicate")]
    assert len(dups) == 1


def test_extract_fields_and_doc_ids(spark):
    pages = make_pages(spark, 50, seed=42)
    fields = extract_fields(pages)
    docs = assign_doc_ids(fields, "url")
    row = docs.where(F.col("doc_id") == 0).collect()[0]
    assert row.title != "" and row.keywords != ""
    assert row.url_text.startswith("http site")
    n_ids = docs.select("doc_id").distinct().count()
    assert n_ids == 50
    idx = build_index(
        docs, {"body": "body", "title": "title", "keywords": "keywords",
               "url": "url_text", "inlink": "inlink"},
        ext_id_col="url", analyzer="english",
    )
    assert set(idx.field_stats) == {"body", "title", "keywords", "url", "inlink"}
    assert idx.postings.where("field='url'").count() > 0


def test_doc_ids_build_and_release_leave_no_cache(spark):
    """``assign_doc_ids`` fixes its url ranges with literal bounds, not
    a cache: after ``build_index`` + ``materialize`` + ``release`` the
    session holds as many persisted RDDs as before."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    docs = assign_doc_ids(extract_fields(make_pages(spark, 120, seed=5)), ext_id_col="url")
    idx = build_index(docs, {"body": "body"}, ext_id_col="url", analyzer="english")
    assert idx.materialize() > 0
    idx.release()
    assert jsc.getPersistentRDDs().size() == before
    ids = sorted((r.doc_id, r.url) for r in docs.select("doc_id", "url").collect())
    assert [i for i, _ in ids] == list(range(120))
    assert [u for _, u in ids] == sorted(u for _, u in ids)


def test_read_index_rejects_stale_analyzer_version(spark, tmp_path):
    """meta.json records an analyzer rule-table hash; read_index must
    fail loudly when the code's rules drifted since the index was
    written (silent index/query tokenize mismatch otherwise)."""
    import pytest

    docs = _tiny_docs(spark)
    idx = build_index(docs, fields={"body": "text"}, analyzer="english")
    path = str(tmp_path / "veridx")
    write_index(idx, path, buckets=2)

    # round-trips fine with matching rules
    assert read_index(spark, path).n_docs == idx.n_docs

    meta_path = path + "/meta.json"
    with open(meta_path) as fh:
        meta = json.load(fh)
    assert meta["analyzer_version"]
    meta["analyzer_version"] = "deadbeefdeadbeef"
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(ValueError, match="analyzer"):
        read_index(spark, path)

    # legacy manifests without the key still load (pre-r4 indexes)
    del meta["analyzer_version"]
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    assert read_index(spark, path).n_docs == idx.n_docs


def test_xxh64_matches_spark(spark):
    """The driver-side XXH64 (functions/xxh64.py) must be bit-equal to
    Spark's F.xxhash64 on UTF-8 strings — every bucket-pruning literal
    in the compiler/engine paths depends on it. A divergence would
    silently prune the WRONG bucket dir (missing postings, no error)."""
    from pyspark.sql import functions as F

    from searchengine_spark.functions.xxh64 import term_bucket, xxh64

    samples = [
        "", "a", "ab", "abc", "abcd", "abcde", "abcdefg", "abcdefgh",
        "abcdefghi", "the", "retrieval", "0123456789abcdef",
        "0123456789abcdef0",  # 17: word tail + 4-byte + byte tail
        "0123456789abcdef0123456789abcdef",  # exactly 32 (stripe)
        "0123456789abcdef0123456789abcdefX",  # 33
        "x" * 31, "x" * 63, "x" * 64, "x" * 100,
        "naïve", "東京スカイツリー", "emoji 🎉 tail", "Ω" * 40,
    ]
    rows = (
        spark.createDataFrame([(s,) for s in samples], "s string")
        .select("s", F.xxhash64("s").alias("h"), F.pmod(F.xxhash64("s"), F.lit(32)).alias("b"))
        .collect()
    )
    for r in rows:
        got = xxh64(r["s"].encode("utf-8"))
        signed = got - (1 << 64) if got >= 1 << 63 else got
        assert signed == r["h"], f"xxh64 mismatch on {r['s']!r}"
        assert term_bucket(r["s"], 32) == r["b"], f"bucket mismatch on {r['s']!r}"


def test_read_index_ignores_leftover_block_max_table(spark, tmp_path):
    """Indexes written before the block-max pruning table was dropped
    still carry its dir and its meta key; read_index must open them and
    rank exactly as a fresh write of the same docs does."""
    from searchengine_spark.engine import SearchEngine

    docs = assign_doc_ids(extract_fields(make_pages(spark, 120, seed=5)), ext_id_col="url")
    idx = build_index(docs, fields={"body": "body"}, ext_id_col="url", analyzer="english")
    fresh, legacy = str(tmp_path / "fresh"), str(tmp_path / "legacy")
    write_index(idx, fresh, buckets=4)
    shutil.copytree(fresh, legacy)
    # the old table: per (term, field, 4096-doc-id block) max_tf /
    # min_len / n, partitioned like term_stats
    old_range = 4096
    (
        idx.postings.groupBy(
            "term", "field", (F.col("doc_id") / old_range).cast("long").alias("block_id")
        )
        .agg(F.max("tf").alias("max_tf"), F.min("doc_len").alias("min_len"),
             F.count(F.lit(1)).alias("n"))
        .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(4)).cast("int"))
        .withColumn("seg", F.lit("base"))
        .write.partitionBy("bucket", "seg")
        .parquet(os.path.join(legacy, "block_stats"))
    )
    meta_path = os.path.join(legacy, "meta.json")
    with open(meta_path) as fh:
        meta = json.load(fh)
    meta["block_range"] = old_range
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)

    def top10(path):
        eng = SearchEngine(read_index(spark, path))
        return [
            (r["doc_id"], r["ext_id"], r["score"])
            for r in eng.search("cerim dirim", model="bm25", k=10).collect()
        ]

    want = top10(fresh)
    assert len(want) == 10
    assert top10(legacy) == want
