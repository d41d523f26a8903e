"""End-to-end: persist index -> param file -> CLI run -> trec output.

Also covers write_index resume (per-bucket lineage manifests) and the
forward index.
"""

import glob
import json
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from searchengine_spark import cli
from searchengine_spark.analyzer import get_analyzer
from searchengine_spark.corpus import extract_fields, make_pages
from searchengine_spark.index.build import assign_doc_ids, build_index, read_index, write_index
from searchengine_spark.index.forward import forward_index, term_vector
from searchengine_spark.plans.models import BM25
from tests import oracle as orc


FIELDS = {"body": "body", "title": "title"}


def _docs(spark):
    return assign_doc_ids(extract_fields(make_pages(spark, 120, seed=3)), ext_id_col="url")


@pytest.fixture(scope="module")
def persisted(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("idx")
    idx = build_index(_docs(spark), fields=FIELDS, ext_id_col="url", analyzer="english")
    path = str(tmp / "index")
    res = write_index(idx, path, buckets=4)
    return path, res


@pytest.fixture(scope="module")
def oracle(spark):
    """The in-memory oracle over the persisted index's docs."""
    an = get_analyzer("english")
    rows = _docs(spark).select("doc_id", *FIELDS.values()).collect()
    return orc.PyIndex({
        int(r["doc_id"]): {f: an.tokens(r[src]) for f, src in FIELDS.items()} for r in rows
    })


def test_write_resume_skips_done_buckets(spark, persisted):
    path, first = persisted
    assert first["written"] == [0, 1, 2, 3] and first["skipped"] == []
    idx = read_index(spark, path)
    second = write_index(idx, path, buckets=4, fingerprint=first["fingerprint"])
    assert second["written"] == [] and second["skipped"] == [0, 1, 2, 3]
    # manifest carries lineage
    rec = json.load(open(os.path.join(path, "_manifest", "bucket-00000.json")))
    assert rec["status"] == "ok" and rec["bytes"] > 0


def test_partial_resume_preserves_other_buckets(spark, persisted):
    """Deleting one bucket's manifest and resuming must rewrite ONLY that
    bucket — the other buckets' parquet files must survive (dynamic
    partition overwrite; static mode truncated the whole postings dir)."""
    path, first = persisted

    def bucket_files(b):
        # layout v3 nests seg= generation dirs inside each bucket dir
        d = os.path.join(path, "postings", f"bucket={b}")
        return sorted(
            os.path.relpath(os.path.join(dirpath, f), d)
            for dirpath, _dirs, files in os.walk(d)
            for f in files
            if f.endswith(".parquet")
        )

    before = {b: bucket_files(b) for b in range(4)}
    assert all(before.values())
    os.remove(os.path.join(path, "_manifest", "bucket-00002.json"))

    # resume from a rebuilt index (same deterministic source), as a
    # restarted job would — not from the path being overwritten
    idx = build_index(_docs(spark), fields=FIELDS, ext_id_col="url", analyzer="english")
    res = write_index(idx, path, buckets=4, fingerprint=first["fingerprint"])
    assert res["written"] == [2] and res["skipped"] == [0, 1, 3]
    for b in (0, 1, 3):
        assert bucket_files(b) == before[b], f"bucket {b} clobbered by resume"
    assert bucket_files(2)  # rewritten
    # the index still serves terms from every bucket
    total = read_index(spark, path).postings.count()
    idx2 = read_index(spark, path)
    assert total > 0 and idx2.term_stats.count() > 0


def test_read_index_roundtrip_queries(spark, persisted):
    path, _ = persisted
    idx = read_index(spark, path)
    from searchengine_spark.engine import SearchEngine

    eng = SearchEngine(idx)
    rows = eng.search("cerim dirim", model="bm25", k=5).collect()
    assert rows and rows[0]["ext_id"].startswith("http://")


def test_forward_index_matches_postings(spark, persisted):
    path, _ = persisted
    idx = read_index(spark, path)
    fwd = forward_index(idx, fields=["body"])
    row = fwd.where(F.col("doc_id") == 0).first()
    tv = term_vector(idx, 0, "body")
    assert list(row["stems"]) == sorted(tv)
    assert dict(zip(row["stems"], row["tfs"])) == tv


def test_cli_end_to_end(spark, persisted, tmp_path):
    path, _ = persisted
    qf = tmp_path / "q.qry"
    qf.write_text("1: cerim dirim\n2: #near/2(barim batok)\n3: of the\n")
    out = tmp_path / "run.teIn"
    pf = tmp_path / "run.param"
    pf.write_text(
        f"indexPath={path}\nqueryFilePath={qf}\ntrecEvalOutputPath={out}\n"
        "retrievalAlgorithm=bm25\nBM25:k_1=1.2\nBM25:b=0.75\nBM25:k_3=0\n"
        "trecEvalOutputLength=10\n"
    )
    cli.run(str(pf), spark=spark)
    lines = out.read_text().strip().splitlines()
    assert any(line.startswith("1 Q0 http://") for line in lines)
    assert any(line.startswith("3 Q0 dummy 1") for line in lines)  # empty query
    parts = lines[0].split()
    assert parts[1] == "Q0" and parts[3] == "1" and len(parts) == 6


def test_cli_fb_initial_ranking_file_with_url_ext_ids(spark, persisted, tmp_path):
    """fbInitialRankingFile rows carry URL external ids (as produced by
    this CLI); they must resolve to internal doc ids via the docs table,
    not int(ext_id)."""
    path, _ = persisted
    qf = tmp_path / "q.qry"
    qf.write_text("9: cerim dirim\n")
    # produce a genuine run file (URL ext ids) with a plain BM25 pass
    run1 = tmp_path / "initial.teIn"
    pf1 = tmp_path / "first.param"
    pf1.write_text(
        f"indexPath={path}\nqueryFilePath={qf}\ntrecEvalOutputPath={run1}\n"
        "retrievalAlgorithm=bm25\ntrecEvalOutputLength=10\n"
    )
    cli.run(str(pf1), spark=spark)
    assert "http://" in run1.read_text()

    out = tmp_path / "fb.teIn"
    exp = tmp_path / "fb_exp.qry"
    pf2 = tmp_path / "second.param"
    pf2.write_text(
        f"indexPath={path}\nqueryFilePath={qf}\ntrecEvalOutputPath={out}\n"
        "retrievalAlgorithm=indri\nIndri:mu=1500\nIndri:lambda=0.4\n"
        "fb=indri\nfbDocs=5\nfbTerms=5\nfbMu=0\nfbOrigWeight=0.5\n"
        f"fbInitialRankingFile={run1}\nfbExpansionQueryFile={exp}\n"
        "trecEvalOutputLength=10\n"
    )
    cli.run(str(pf2), spark=spark)
    lines = out.read_text().strip().splitlines()
    assert lines and lines[0].startswith("9 Q0 http://")
    assert exp.read_text().startswith("9: #wand(")


def test_cli_with_expansion_and_diversity(spark, persisted, tmp_path):
    path, _ = persisted
    qf = tmp_path / "q.qry"
    qf.write_text("7: cerim dirim\n")
    intents = tmp_path / "q.intents"
    intents.write_text("7.1: barim\n7.2: batok\n")
    out = tmp_path / "run2.teIn"
    exp = tmp_path / "exp.qry"
    pf = tmp_path / "run2.param"
    pf.write_text(
        f"indexPath={path}\nqueryFilePath={qf}\ntrecEvalOutputPath={out}\n"
        "retrievalAlgorithm=indri\nIndri:mu=1500\nIndri:lambda=0.4\n"
        "fb=indri\nfbDocs=5\nfbTerms=5\nfbMu=0\nfbOrigWeight=0.5\n"
        f"fbExpansionQueryFile={exp}\n"
        "diversity=true\ndiversity:algorithm=xquad\ndiversity:lambda=0.5\n"
        "diversity:maxInputRankingsLength=20\ndiversity:maxResultRankingLength=10\n"
        f"diversity:intentsFile={intents}\ntrecEvalOutputLength=10\n"
    )
    cli.run(str(pf), spark=spark)
    lines = out.read_text().strip().splitlines()
    assert lines and lines[0].startswith("7 Q0 http://")
    assert exp.read_text().startswith("7: #wand(")


def test_cli_eval_metrics_output(spark, persisted, tmp_path):
    """evalQrelsFile + evalMetricsPath score the run engine-side
    (trec_eval -q style metric<tab>qid<tab>value lines)."""
    path, _ = persisted
    qf = tmp_path / "q.qry"
    qf.write_text("1: cerim dirim\n2: fulan gorim\n")
    out = tmp_path / "run.teIn"
    pf = tmp_path / "run.param"
    pf.write_text(
        f"indexPath={path}\nqueryFilePath={qf}\ntrecEvalOutputPath={out}\n"
        "retrievalAlgorithm=bm25\ntrecEvalOutputLength=10\n"
        f"evalQrelsFile={tmp_path / 'q.qrels'}\n"
        f"evalMetricsPath={tmp_path / 'metrics.txt'}\nevalK=5\n"
    )
    (tmp_path / "q.qrels").write_text("1 0 http://placeholder.example/x 0\n")
    cli.run(str(pf), spark=spark)
    # qrels: the top result of query 1 is relevant, plus one unknown doc
    top1 = out.read_text().strip().splitlines()[0].split()[2]
    (tmp_path / "q.qrels").write_text(f"1 0 {top1} 2\n1 0 http://no.example/x 1\n")
    cli.run(str(pf), spark=spark)
    metrics = {}
    for line in (tmp_path / "metrics.txt").read_text().strip().splitlines():
        m, qid, v = line.split("\t")
        metrics[(m, qid)] = float(v)
    assert metrics[("rr", "1")] == 1.0
    assert metrics[("p_at_k", "1")] == 0.2  # 1 relevant in top 5
    assert metrics[("recall_at_k", "1")] == 0.5  # 1 of 2 relevant found
    assert metrics[("ap", "2")] == 0.0  # no qrels for query 2
    assert metrics[("num_q", "all")] == 2.0
    assert metrics[("map", "all")] == metrics[("ap", "1")] / 2


def test_single_query_plans_bind_literals(spark, persisted):
    """``search`` binds one query's constants as map literals: its plan
    has no broadcast and no Python-built (ExistingRDD) table. The 3-query
    BM25 ``run_batch`` of scripts/plans.py still reads the postings with
    exactly one FileScan."""
    from searchengine_spark.engine import SearchEngine

    path, _ = persisted
    eng = SearchEngine(read_index(spark, path))

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    for model, q in [
        ("bm25", "cerim dirim batok"),
        ("indri", "#and(cerim dirim)"),
        ("rankedboolean", "#and(cerim dirim)"),
        ("bm25", "#near/2(barim batok)"),
    ]:
        p = plan(eng.search(q, model=model, k=10, with_ext_id=False))
        assert "BroadcastExchange" not in p, (q, p)
        assert "ExistingRDD" not in p, (q, p)

    batch = eng.run_batch(
        [("q1", "cerim dirim"), ("q2", "barim cerim"), ("q3", "dirim batok")],
        model="bm25", k=10,
    )
    scans = [ln for ln in plan(batch).splitlines() if "FileScan" in ln and "/postings]" in ln]
    assert len(scans) == 1, scans


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_nested_iop_plan_runs_one_python_udf(spark, persisted, oracle, local_frames):
    """``#near/2(#syn(a b) c)``: #SYN's union is a JVM aggregate, so the
    only Python evaluation in the collected merge's plan is the
    positional merge, and the scoring plan, which reads the collected
    rows, runs none. The top-10 equals the oracle's to %.18f."""
    from searchengine_spark.engine import SearchEngine

    path, _ = persisted
    eng = SearchEngine(read_index(spark, path))
    q = "#near/2(#syn(cerim dirim) batok)"
    df = eng.search(q, model="bm25", k=10, with_ext_id=False)
    rows = df.collect()
    assert len(local_frames) == 1
    udfs = set(re.findall(r"ArrowEvalPython \[(.*?)\], \[", _plan(local_frames[0])))
    assert len(udfs) == 1 and next(iter(udfs)).startswith("_merge("), udfs
    assert "ArrowEvalPython" not in _plan(df)
    want = orc.search(oracle, eng.parse(q, BM25()), BM25(), k=10)
    assert len(want) == 10
    assert [(r["doc_id"], "%.18f" % r["score"]) for r in rows] == [
        (d, "%.18f" % s) for d, s in want
    ]


@pytest.mark.parametrize("q", [
    "#near/2(#syn(cerim dirim) batok)",
    "#window/3(#near/1(barim batok) cerim)",
    "#near/1(balan balan)",  # a repeated term: one scan, a row per arg
])
def test_nested_and_repeated_iop_args_plan_no_join(spark, persisted, oracle, local_frames, q):
    """A #NEAR/#WINDOW over nested or repeated args reads its args'
    rows into one groupBy(doc_id) and one positional merge: neither
    the collected merge's plan nor the scoring plan holds a Join, and
    the top-10 equals the oracle's to %.18f."""
    from searchengine_spark.engine import SearchEngine

    path, _ = persisted
    eng = SearchEngine(read_index(spark, path))
    df = eng.search(q, model="bm25", k=10, with_ext_id=False)
    rows = df.collect()
    assert len(local_frames) == 1
    for fr in (local_frames[0], df):
        lines = _plan(fr).splitlines()
        assert not [ln for ln in lines if "Join" in ln], (q, lines)
    want = orc.search(oracle, eng.parse(q, BM25()), BM25(), k=10)
    assert want and all(s > 0 for _, s in want)
    assert [(r["doc_id"], "%.18f" % r["score"]) for r in rows] == [
        (d, "%.18f" % s) for d, s in want
    ]


def test_near_merge_runs_in_coalesced_partitions(spark, persisted, oracle, local_frames):
    """AQE coalesces the merge's shuffle, so a small ``#near/2`` merge
    runs its Arrow UDF in fewer tasks than ``spark.sql.shuffle
    .partitions``: as few as its rows need. The top-10 equals the
    oracle's to %.18f."""
    from searchengine_spark.engine import SearchEngine

    path, _ = persisted
    eng = SearchEngine(read_index(spark, path))
    q = "#near/2(barim cerim)"
    rows = eng.search(q, model="bm25", k=10, with_ext_id=False).collect()
    assert len(local_frames) == 1
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    merge = local_frames[0]._jdf.queryExecution().executedPlan()
    assert merge.execute().getNumPartitions() < shuffle
    want = orc.search(oracle, eng.parse(q, BM25()), BM25(), k=10)
    assert len(want) == 10
    assert [(r["doc_id"], "%.18f" % r["score"]) for r in rows] == [
        (d, "%.18f" % s) for d, s in want
    ]


@pytest.mark.parametrize("model,q", [
    ("bm25", "#near/2(barim cerim)"),
    ("bm25", "#window/3(#near/1(barim batok) cerim)"),
    ("indri", "#and(#near/1(barim batok) cerim)"),  # the derived list's ctf
])
def test_derived_operator_queries_leave_no_cache(spark, persisted, oracle, model, q):
    """A derived operator scored with its df/ctf is collected once to
    the driver, never persisted: ``search`` (and, for a BM25 root,
    ``run_batch``) leaves the session's persisted RDDs as they were,
    and the top-10 equals the oracle's to %.18f."""
    from searchengine_spark.engine import SearchEngine
    from searchengine_spark.plans.models import make_model

    path, _ = persisted
    eng = SearchEngine(read_index(spark, path))
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    m = make_model(model)
    want = [(d, "%.18f" % s) for d, s in orc.search(oracle, eng.parse(q, m), m, k=10)]
    assert want and all(float(s) > 0 for _, s in want)
    got = eng.search(q, model=model, k=10, with_ext_id=False).collect()
    assert [(r["doc_id"], "%.18f" % r["score"]) for r in got] == want
    if model == "bm25":
        got = eng.run_batch([("a", q), ("b", "#near/3(cerim dirim)")], model=model, k=10).collect()
        assert [(r["doc_id"], "%.18f" % r["score"]) for r in got if r["qid"] == "a"] == want
    assert jsc.getPersistentRDDs().size() == before


def test_nested_trees_plan_one_scan_no_score_joins(spark, persisted):
    """Nested score trees take the one scorer: one postings scan per
    field and one groupBy(qid, doc_id), no per-child score joins. The PRF
    shapes (Indri ``#wand`` over ``#and``, BM25 ``#wsum`` over ``#sum``)
    read the postings with exactly one FileScan and join nothing; a
    multi-field Indri tree joins only ``doc_stats`` (its doc-length
    fallback)."""
    from searchengine_spark.engine import SearchEngine

    path, _ = persisted
    eng = SearchEngine(read_index(spark, path))

    def plan_lines(q, model):
        df = eng.scores(q, model=model)
        assert df.count() > 0, q
        return df._jdf.queryExecution().executedPlan().toString().splitlines()

    def scans(lines, table):
        return [ln for ln in lines if "FileScan" in ln and f"/{table}]" in ln]

    for model, q in [
        ("indri", "#wand(0.4 #and(cerim dirim barim) 0.6 "
                  "#wand(0.3 cetok 0.3 ditok 0.2 celan 0.2 dilan))"),
        ("bm25", "#wsum(0.4 #sum(cerim dirim barim) 0.6 "
                 "#wsum(0.3 cetok 0.3 ditok 0.2 celan 0.2 dilan))"),
    ]:
        lines = plan_lines(q, model)
        assert len(scans(lines, "postings")) == 1, (q, lines)
        assert not [ln for ln in lines if "Join" in ln], (q, lines)

    lines = plan_lines("#wsum(0.4 cerim.title 0.6 dirim)", "indri")
    assert len(scans(lines, "postings")) == 2, lines
    joins = [ln for ln in lines if "Join" in ln]
    assert joins and len(joins) == len(scans(lines, "doc_stats")), lines


def test_postings_file_positions_are_int_lists(persisted, oracle):
    """On disk, a postings file's ``positions`` column is a plain Parquet
    ``list<int32>``: each row holds the term's token slots in the doc."""
    path, _ = persisted
    f = sorted(glob.glob(os.path.join(path, "postings", "bucket=0", "seg=*", "*.parquet")))[0]
    t = pq.read_table(f)
    assert t.schema.field("positions").type == pa.list_(pa.int32())
    rows = t.select(["term", "field", "doc_id", "positions"]).to_pylist()
    assert rows
    for r in rows:
        assert r["positions"] == oracle.postings[(r["term"], r["field"])][r["doc_id"]], r
