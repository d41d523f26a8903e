"""Golden tests: Spark engine vs the trusted in-memory oracle.

Every (model, query) pair the reference supports is evaluated both
ways on the same 300-page corpus; doc->score maps must agree to 1e-9
relative and the Spark output must honor the reference tie-break.
"""

import pytest

from searchengine_spark.engine import SearchEngine
from searchengine_spark.plans.models import BM25, Indri, RankedBoolean, UnrankedBoolean
from tests import oracle as orc

BOOL_QUERIES = [
    "barim batok",
    "#or(barim batok)",
    "#and(barim cerim)",
    "#syn(barim batok)",
    "#near/1(barim batok)",
    "#near/5(barim batok balan)",
    "#window/8(barim batok)",
    "#and(#or(barim batok) cerim)",
    "#wand(0.7 barim 0.3 batok)",
    "#wsum(0.4 barim.title 0.6 barim)",
    "barim-batok",
    "barim.title",
    "barim.url",
    "#near/1(of the)",
]
BM25_QUERIES = [
    "barim batok",
    "barim batok balan cerim",
    "#sum(barim batok)",
    "#syn(barim batok)",
    "#near/1(barim batok)",
    "#near/5(barim batok balan)",
    "#window/8(barim batok)",
    "#wsum(0.4 barim.title 0.6 barim)",  # BM25 WSUM ignores weights (quirk)
    "barim.title",
    "#near/1(of the)",
]
INDRI_QUERIES = BOOL_QUERIES

# "zzzqx" never occurs in the corpus: exercises empty posting frames,
# df=0 idf, and the Indri ctf<1 -> 0.5 default (QrySopScore.java:98-112)
ABSENT_QUERIES = [
    "zzzqx",
    "barim zzzqx",
    "#or(barim zzzqx)",
    "#near/2(barim zzzqx)",
]

CASES = (
    [(UnrankedBoolean(), q) for q in BOOL_QUERIES]
    + [(RankedBoolean(), q) for q in BOOL_QUERIES]
    + [(BM25(), q) for q in BM25_QUERIES]
    + [(Indri(), q) for q in INDRI_QUERIES]
    + [(RankedBoolean(), q) for q in ABSENT_QUERIES]
    + [(BM25(), q) for q in ["zzzqx", "barim zzzqx", "#near/2(barim zzzqx)"]]
    + [(Indri(), q) for q in ABSENT_QUERIES]
    + [(Indri(mu=1500.0, lam=0.01), q) for q in ["barim batok", "#wand(0.7 barim 0.3 batok)"]]
    + [(BM25(k1=2.0, b=0.3), q) for q in ["barim batok balan"]]
)


def _ids():
    return [f"{m.name}-{q}" for m, q in CASES]


@pytest.mark.parametrize("model,query", CASES, ids=_ids())
def test_engine_matches_oracle(pages_index, py_index, model, query):
    eng = SearchEngine(pages_index)
    ast = eng.parse(query, model)
    expected = dict(orc.search(py_index, ast, model, k=10**9))

    got_rows = eng.scores(query, model=model).collect()
    got = {int(r["doc_id"]): float(r["score"]) for r in got_rows}

    assert set(got) == set(expected), (
        f"doc sets differ: only_spark={sorted(set(got)-set(expected))[:5]} "
        f"only_oracle={sorted(set(expected)-set(got))[:5]}"
    )
    for d, s in expected.items():
        assert got[d] == pytest.approx(s, rel=1e-9, abs=1e-12), f"doc {d}"



def test_metamorphic_near_window_and(pages_index, py_index):
    """#near/1(a b) ⊆ #window/8(a b) ⊆ boolean-AND matches (SURVEY.md §5)."""
    eng = SearchEngine(pages_index)
    m = UnrankedBoolean()

    def docs(q):
        return {int(r["doc_id"]) for r in eng.scores(q, model=m).collect()}

    near = docs("#near/1(barim batok)")
    window = docs("#window/8(barim batok)")
    both = docs("#and(barim batok)")
    assert near <= window <= both
    assert both  # corpus is big enough that the chain is non-trivial


def test_ext_id_attach_and_rank(pages_index):
    eng = SearchEngine(pages_index)
    rows = eng.search("barim batok", model=BM25(), k=10).collect()
    assert len(rows) == 10
    assert [r["rank"] for r in rows] == list(range(1, 11))
    assert all(r["ext_id"].startswith("http://") for r in rows)
    # reference tie-break: (score desc, doc_id asc)
    keys = [(-float(r["score"]), int(r["doc_id"])) for r in rows]
    assert keys == sorted(keys)


def test_run_batch_multiple_queries(pages_index):
    eng = SearchEngine(pages_index)
    out = eng.run_batch(
        [("q1", "barim batok"), ("q2", "#near/1(of the)"), ("q3", "cerim")],
        model=BM25(),
        k=5,
    ).collect()
    qids = {r["qid"] for r in out}
    assert qids == {"q1", "q3"}  # q2 is degenerate -> skipped
    per = {q: [r for r in out if r["qid"] == q] for q in qids}
    assert all(len(v) <= 5 for v in per.values())


def test_run_batch_plans_one_topk_and_no_constants_table(pages_index):
    """A multi-query BM25 ``run_batch`` ends in one TakeOrderedAndProject,
    with no range exchange and no sampling job. Its per-query constants
    reach the postings rows from a map literal: the plan scans no
    driver-built table, and its one broadcast is the ranked rows that
    ``attach_ext_ids`` joins to the docs."""
    eng = SearchEngine(pages_index)
    batch = eng.run_batch(
        [("q1", "cerim dirim"), ("q2", "barim cerim"), ("q3", "dirim batok fulan")],
        model=BM25(), k=10,
    )
    assert {r["qid"] for r in batch.collect()} == {"q1", "q2", "q3"}
    # the nodes of the batch's final adaptive plan, through its query
    # stages; the plans of cached frames it reads stay out
    nodes, todo = [], [batch._jdf.queryExecution().executedPlan().executedPlan()]
    while todo:
        node = todo.pop()
        nodes.append(node)
        todo += [node.children().apply(i) for i in range(node.children().length())]
        if node.getClass().getSimpleName().endswith("QueryStageExec"):
            todo.append(node.plan())
    kinds = [n.getClass().getSimpleName() for n in nodes]
    ranges = [
        n.simpleString(8) for n, kind in zip(nodes, kinds)
        if kind == "ShuffleExchangeExec" and "rangepartitioning" in n.simpleString(8)
    ]
    assert not ranges, ranges
    assert "TakeOrderedAndProjectExec" in kinds, kinds
    assert not {"RDDScanExec", "LocalTableScanExec"} & set(kinds), kinds
    assert kinds.count("BroadcastExchangeExec") == 1, kinds


def test_run_batch_past_the_topk_heap_bound_plans_a_sort(pages_index):
    """A batch of 2 queries at k = 1M (a 2M-row limit) plans a global
    sort, not a TakeOrderedAndProject that would size a 2n heap per
    task (``get_spark``'s ``topKSortFallbackThreshold``)."""
    eng = SearchEngine(pages_index)
    batch = eng.run_batch(
        [("q1", "cerim dirim"), ("q2", "barim cerim")], model=BM25(), k=1_000_000
    )
    root = batch._jdf.queryExecution().executedPlan().inputPlan()
    assert root.getClass().getSimpleName() != "TakeOrderedAndProjectExec", root.toString()


def _assert_batch_equals_search(eng, batch, model, **params):
    """Every qid of ``run_batch`` must equal its own ``search(q)``:
    same docs, ranks, ext ids and %.18f scores."""
    got: dict = {}
    for r in eng.run_batch(batch, model=model, k=10, **params).collect():
        got[(r["qid"], r["rank"])] = (r["doc_id"], r["ext_id"], f"{r['score']:.18f}")
    want: dict = {}
    for qid, q in batch:
        for r in eng.search(q, model=model, k=10, **params).collect():
            want[(qid, r["rank"])] = (r["doc_id"], r["ext_id"], f"{r['score']:.18f}")
    assert got == want
    return {qid for qid, _ in got}


def test_run_batch_fused_bit_identical_to_union(pages_index):
    """The one-plan BM25 batch must reproduce each query's ``search``
    exactly, including single-term, duplicate-term, and mixed batches
    of bags of words and structured queries."""
    eng = SearchEngine(pages_index)
    batch = [
        ("q1", "cerim dirim"),
        ("q2", "cerim"),
        ("q3", "cerim cerim dirim"),  # duplicate term under #SUM
        ("q4", "#near/2(barim batok)"),  # a derived leaf in the same plan
        ("q5", "dirim batok cerim fulan"),
    ]
    qids = _assert_batch_equals_search(eng, batch, BM25())
    assert qids == {"q1", "q2", "q3", "q4", "q5"}


def _plan_nodes(plan, name: str) -> int:
    """``name`` nodes of an executed physical plan, descending into the
    final plans of adaptive and query-stage nodes and into the cached
    plans of persisted frames."""
    n = int(plan.nodeName().strip() == name)
    cls = plan.getClass().getSimpleName()
    kids = [plan.executedPlan()] if cls == "AdaptiveSparkPlanExec" else []
    if cls.endswith("QueryStageExec"):
        kids.append(plan.plan())
    for seq in (plan.children(), plan.innerChildren()):
        kids += [seq.apply(i) for i in range(seq.size())]
    return n + sum(_plan_nodes(k, name) for k in kids)


def test_run_batch_fused_positional_bit_identical(pages_index, local_frames):
    """The positional batch (one shared scan + one Arrow merge pass for
    the whole batch) must reproduce each query's ``search`` exactly —
    mixed #NEAR/#WINDOW, varying arity and distance, nested args and
    repeated terms in the same merge. A batch of one flat and one
    nested #NEAR runs exactly one merge: the batch collects one merged
    list, and the batch plan, which reads it back, runs none."""
    eng = SearchEngine(pages_index)
    batch = [
        ("n1", "#near/2(barim batok)"),
        ("n2", "#near/3(cerim dirim)"),
        ("n3", "#near/4(balan batok cerim)"),       # arity 3
        ("w1", "#window/4(barim balan)"),
        ("w2", "#window/8(dirim barim batok)"),
        ("m1", "cerim dirim"),                       # bm25 bag of words
        ("x1", "#near/2(#syn(barim balan) batok)"),  # nested arg, same merge
        ("x2", "#near/2(barim barim)"),              # repeated term, same merge
    ]
    qids = _assert_batch_equals_search(eng, batch, BM25())
    assert qids >= {"n1", "n2", "w1", "m1", "x1"}

    pair = [("n1", "#near/2(barim batok)"), ("x1", "#near/2(#syn(barim balan) batok)")]
    local_frames.clear()
    df = eng.run_batch(pair, model=BM25(), k=10)
    df.collect()
    plans = [fr._jdf.queryExecution().executedPlan() for fr in [*local_frames, df]]
    assert len(local_frames) == 1
    assert [_plan_nodes(p, "ArrowEvalPython") for p in plans] == [1, 0]
    assert _assert_batch_equals_search(eng, pair, BM25()) == {"n1", "x1"}


@pytest.mark.parametrize(
    "model,batch",
    [
        (
            "indri",
            [
                ("i1", "#and(cerim dirim)"),
                ("i2", "#or(cerim batok balan)"),
                ("i3", "#wand(0.7 cerim 0.3 dirim)"),
                ("i4", "#wsum(0.2 barim 0.8 cerim 1.0 dirim)"),
                ("i5", "#and(cerim #near/2(barim batok))"),  # nested, same plan
                ("i6", "#wsum(0.5 barim 1.0 cerim 1.5 dirim)"),  # total 3.0: inexact /
            ],
        ),
        (
            "rankedboolean",
            [
                ("b1", "#and(cerim dirim)"),
                ("b2", "#or(cerim batok)"),
                ("b3", "#and(barim batok balan)"),
            ],
        ),
        (
            "unrankedboolean",
            [
                ("u1", "#and(cerim dirim)"),
                ("u2", "#or(cerim batok)"),
            ],
        ),
        (
            # the perfbench RankedBoolean mix: three shapes, two of them
            # one derived leaf
            "rankedboolean",
            [
                ("r1", "#and(barim cerim)"),
                ("r2", "#window/6(barim batok)"),
                ("r3", "#syn(cerim dirim)"),
            ],
        ),
        (
            "bm25",
            [
                ("t1", "#sum(#near/2(barim batok) cerim)"),
                ("t2", "cerim dirim"),
                ("t3", "#near/3(cerim dirim)"),
            ],
        ),
        (
            # caller qids sit inside the constants' map literals (JSON
            # text, keyed by term, qid and (qid, leaf)): a quote, a
            # backslash and non-ASCII come back exactly
            "indri",
            [
                ("it's", "cerim dirim"),
                ("back\\slash\\'", "#wsum(0.3 cerim 0.7 dirim)"),
                ("naïve–ü", "#and(cerim #near/2(barim batok))"),
            ],
        ),
    ],
)
def test_run_batch_fused_models_bit_identical(pages_index, model, batch):
    """Every model's batches must reproduce each query's ``search``
    exactly, including weighted ops, nested trees, and trees of
    several shapes in one batch."""
    eng = SearchEngine(pages_index)
    qids = _assert_batch_equals_search(eng, batch, model, mu=1500.0, lam=0.3)
    assert qids == {q for q, _ in batch}


def test_run_batch_rejects_a_repeated_qid(pages_index):
    """Two queries under one qid would merge into one mixed ranking."""
    eng = SearchEngine(pages_index)
    with pytest.raises(ValueError, match="'q1'"):
        eng.run_batch([("q1", "cerim dirim"), ("q2", "barim"), ("q1", "batok")], model=BM25())


def test_batch_cost_does_not_grow_with_batch_size(spark, pages_index, py_index, tmp_path):
    """A ``run_batch`` of n Indri ``#and(#near/2(a b) #or(c d))`` queries
    with distinct terms plans the same postings and docs scans and runs
    the same Spark jobs at n = 1, 4 and 16. Each ``#near`` pair is
    adjacent in some doc, so no batch's derived list is empty (an empty
    one drops its branch and a job)."""
    from searchengine_spark.index.build import read_index, write_index

    write_index(pages_index, str(tmp_path / "index"), buckets=4)
    index = read_index(spark, str(tmp_path / "index"))
    used, pairs, singles = set(), [], []
    for _, fields in sorted(py_index.doc_tokens.items()):
        toks = fields["body"]
        for a, b in zip(toks, toks[1:]):
            if len(pairs) < 16 and a and b and a != b and not {a, b} & used:
                pairs.append((a, b))
                used |= {a, b}
    for _, fields in sorted(py_index.doc_tokens.items()):
        for t in fields["body"]:
            if len(singles) < 32 and t and t not in used:
                singles.append(t)
                used.add(t)
    assert len(pairs) == 16 and len(singles) == 32

    sc = spark.sparkContext
    scans, jobs = {}, {}
    for n in (1, 4, 16):
        batch = [
            (f"q{j}", f"#and(#near/2({a} {b}) #or({singles[2 * j]} {singles[2 * j + 1]}))")
            for j, (a, b) in enumerate(pairs[:n])
        ]
        sc.setJobGroup(f"batch{n}", "batch")
        df = SearchEngine(index).run_batch(batch, model="indri", k=10)
        assert df.collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[n] = len(sc.statusTracker().getJobIdsForGroup(f"batch{n}"))
        scans[n] = _plan_nodes(df._jdf.queryExecution().executedPlan(), "Scan parquet")
    assert scans[1] == scans[4] == scans[16] > 0, scans
    assert jobs[1] == jobs[4] == jobs[16], jobs


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM (Spark's codegen metrics)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_fresh_queries_of_a_shape_compile_no_classes(spark, pages_index, py_index):
    """Per-query numbers (idf, Indri p and defaults, weights) reach the
    rows as one map literal, which generated code holds as a referenced
    object. So in a warm session a fresh query of a shape already run,
    with other terms and numbers, reuses the compiled classes: its
    ``search`` compiles none, and neither does a second batch of the
    same shapes."""
    terms = []
    for _, fields in sorted(py_index.doc_tokens.items()):
        for t in fields["body"]:
            if len(terms) < 24 and t and t not in terms:
                terms.append(t)
    assert len(terms) == 24
    t = iter(terms)

    def run(make, model):
        """Compiles of the second of two fresh runs of ``make``."""
        for _ in range(2):
            before = _compiles(spark)
            make(SearchEngine(pages_index), model).collect()
        return _compiles(spark) - before

    def bow(eng, model):
        return eng.search(f"{next(t)} {next(t)} {next(t)}", model=model, k=10)

    weights = iter([0.3, 0.6])

    def wand(eng, model):
        w = next(weights)
        return eng.search(f"#wand({w} {next(t)} {1 - w} {next(t)})", model=model, k=10)

    def batch(eng, model):
        return eng.run_batch(
            [(f"q{j}", f"{next(t)} {next(t)}") for j in range(3)], model=model, k=10
        )

    assert run(bow, BM25()) == 0
    assert run(wand, Indri()) == 0
    assert run(batch, BM25()) == 0

