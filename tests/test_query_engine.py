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


def test_run_batch_plans_one_topk_over_arrow_constants(pages_index):
    """A multi-query BM25 ``run_batch`` ends in one TakeOrderedAndProject,
    with no range exchange and no sampling job. Its per-query constants
    tables are built from Arrow: no RDD under their scans runs a
    PythonRDD, which would pickle the rows in one Python-worker task
    per partition."""
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
    consts = [n for n, kind in zip(nodes, kinds) if kind in ("RDDScanExec", "LocalTableScanExec")]
    assert consts, kinds
    for scan in consts:
        lineage = scan.execute().toDebugString()
        assert "PythonRDD" not in lineage, lineage


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
    where structured queries fall back to per-query plans."""
    eng = SearchEngine(pages_index)
    batch = [
        ("q1", "cerim dirim"),
        ("q2", "cerim"),
        ("q3", "cerim cerim dirim"),  # duplicate term under #SUM
        ("q4", "#near/2(barim batok)"),  # -> flat positional scorer
        ("q5", "dirim batok cerim fulan"),
    ]
    qids = _assert_batch_equals_search(eng, batch, BM25())
    assert qids == {"q1", "q2", "q3", "q4", "q5"}


def _plan_nodes(plan, name: str) -> int:
    """``name`` nodes of an executed physical plan, descending into the
    final plans of adaptive and query-stage nodes and into the cached
    plans of persisted frames."""
    n = int(plan.nodeName() == name)
    cls = plan.getClass().getSimpleName()
    kids = [plan.executedPlan()] if cls == "AdaptiveSparkPlanExec" else []
    if cls.endswith("QueryStageExec"):
        kids.append(plan.plan())
    for seq in (plan.children(), plan.innerChildren()):
        kids += [seq.apply(i) for i in range(seq.size())]
    return n + sum(_plan_nodes(k, name) for k in kids)


def test_run_batch_fused_positional_bit_identical(pages_index):
    """The positional batch (one shared scan + one Arrow merge pass for
    the whole batch) must reproduce each query's ``search`` exactly —
    mixed #NEAR/#WINDOW, varying arity and distance, nested args and
    repeated terms in the same merge. A batch of one flat and one
    nested #NEAR plans exactly one merge."""
    eng = SearchEngine(pages_index)
    batch = [
        ("n1", "#near/2(barim batok)"),
        ("n2", "#near/3(cerim dirim)"),
        ("n3", "#near/4(balan batok cerim)"),       # arity 3
        ("w1", "#window/4(barim balan)"),
        ("w2", "#window/8(dirim barim batok)"),
        ("m1", "cerim dirim"),                       # flat -> bm25 bag of words
        ("x1", "#near/2(#syn(barim balan) batok)"),  # nested arg, same merge
        ("x2", "#near/2(barim barim)"),              # repeated term, same merge
    ]
    qids = _assert_batch_equals_search(eng, batch, BM25())
    assert qids >= {"n1", "n2", "w1", "m1", "x1"}

    pair = [("n1", "#near/2(barim batok)"), ("x1", "#near/2(#syn(barim balan) batok)")]
    df = eng.run_batch(pair, model=BM25(), k=10)
    df.collect()
    assert _plan_nodes(df._jdf.queryExecution().executedPlan(), "ArrowEvalPython") == 1
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
                ("i5", "#and(cerim #near/2(barim batok))"),  # nested -> tree scorer
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
    ],
)
def test_run_batch_fused_models_bit_identical(pages_index, model, batch):
    """Indri/Boolean batches must reproduce each query's ``search``
    exactly, including weighted ops and nested-query fallback."""
    eng = SearchEngine(pages_index)
    qids = _assert_batch_equals_search(eng, batch, model, mu=1500.0, lam=0.3)
    assert qids == {q for q, _ in batch}




def test_run_batch_trims_derived_frames(pages_index):
    """``run_batch`` bounds the persisted derived-frame registry the way
    ``search`` does: 18 distinct positional queries over 9 calls (a
    flat ``#NEAR`` merge and a nested ``#NEAR`` leaf each persist one
    frame for their df) leave at most 16 frames cached."""
    eng = SearchEngine(pages_index)
    for k in range(1, 10):
        eng.run_batch(
            [("p", f"#near/{k}(barim batok)"), ("n", f"#sum(cerim #near/{k}(barim cerim))")],
            model=BM25(), k=5,
        )
    assert len(pages_index._temps) <= 16
