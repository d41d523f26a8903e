"""Flat queries take their model's single-scan scorer (one scan, one
shuffle, no join) and score like the oracle; nested trees take the
tree scorer, also without joins."""

import pytest

from searchengine_spark.engine import SearchEngine
from searchengine_spark.plans.compiler import Compiler
from searchengine_spark.plans.models import BM25
from tests import oracle as orc


def test_flat_bm25_sum_matches_oracle(pages_index, py_index):
    """A 10-term BM25 #SUM through the flat scorer equals the oracle."""
    eng = SearchEngine(pages_index)
    m = BM25()
    q = "barim batok balan cerim cetok celan dirim ditok dilan baser"
    ast = eng.parse(q, m)

    agg_scores = {
        int(r["doc_id"]): float(r["score"])
        for r in Compiler(pages_index, m).compile(ast).collect()
    }
    expected = dict(orc.search(py_index, ast, m, k=10**9))
    assert set(agg_scores) == set(expected)
    for d, s in expected.items():
        assert agg_scores[d] == pytest.approx(s, rel=1e-9)


def test_default_short_query_uses_single_scan_fold(pages_index):
    """Default compiler: even a 2-term bag-of-words BM25 query takes the
    batched-scan fold path (one scan, one shuffle, no join)."""
    eng = SearchEngine(pages_index)
    m = BM25()
    ast = eng.parse("barim batok", m)
    comp = Compiler(pages_index, m)
    plan = comp.compile(ast)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "aggregate(array_sort" in plan or "collect_list" in plan


def test_flat_indri_single_scan_no_joins(pages_index, py_index):
    """Flat single-field Indri ops compile to one scan + one groupBy and
    stay score-identical to the oracle; a nested tree takes the tree
    scorer, also without a join."""
    from searchengine_spark.plans.models import Indri

    eng = SearchEngine(pages_index)
    m = Indri(mu=1500.0, lam=0.3)
    comp = Compiler(pages_index, m)
    for q in [
        "#wand(0.4 barim 0.3 cerim 0.2 dirim 0.1 batok)",
        "#wand(0.6 #and(barim cerim) 0.4 dirim)",
    ]:
        ast = eng.parse(q, m)
        df = comp.compile(ast)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan, (q, plan[:1500])
        got = {int(r["doc_id"]): float(r["score"]) for r in df.collect()}
        expected = dict(orc.search(py_index, ast, m, k=10**9))
        assert set(got) == set(expected), q
        for d, s in expected.items():
            assert got[d] == pytest.approx(s, rel=1e-12), (q, d)
