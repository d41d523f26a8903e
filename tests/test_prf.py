"""PRF expansion vs the direct-loop oracle (QryExpand semantics)."""

import pytest
from pyspark.sql import functions as F

from searchengine_spark.engine import SearchEngine
from searchengine_spark.operators import prf
from searchengine_spark.plans.models import BM25, Indri
from tests import oracle as orc


@pytest.fixture(scope="module")
def eng(pages_index):
    return SearchEngine(pages_index)


def _initial(eng, query, n):
    rows = (
        eng.scores(query, model=BM25())
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(n)
        .collect()
    )
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


@pytest.mark.parametrize("fb_mu", [0.0, 500.0])
def test_candidate_scores_match_oracle(eng, py_index, fb_mu):
    top = _initial(eng, "cerim dirim", 8)
    params = prf.ExpandParams(fb="indri", fb_docs=8, fb_terms=10**6, fb_mu=fb_mu)
    got = {
        r["term"]: r["fb_score"]
        for r in prf.candidate_term_scores(eng, top, params).collect()
    }
    expected = dict(orc.expand_terms(py_index, top, 10**6, fb_mu))
    assert set(got) == set(expected)
    for t, s in expected.items():
        assert got[t] == pytest.approx(s, rel=1e-9), t


def test_expand_end_to_end(eng):
    params = prf.ExpandParams(fb="indri", fb_docs=5, fb_terms=5, fb_mu=100.0,
                              fb_orig_weight=0.4)
    expanded, fb_query = prf.expand(eng, "cerim dirim", params)
    # reference format: #wand(0.400000 #and(orig) 0.600000 #wand(w t ...))
    assert expanded.startswith("#wand(0.400000 #and(cerim dirim) 0.600000 #wand(")
    assert fb_query.startswith("#wand(") and fb_query.endswith(")")
    # the rewritten line must parse and produce results under Indri
    rows = eng.search(expanded, model=Indri(), k=5, with_ext_id=False).collect()
    assert len(rows) == 5


def test_expand_bm25_uses_wsum(eng):
    params = prf.ExpandParams(fb="bm25", fb_docs=5, fb_terms=3, fb_mu=0.0)
    expanded, fb_query = prf.expand(eng, "cerim dirim", params)
    assert expanded.startswith("#wsum(0.500000 #sum(cerim dirim)")
    assert fb_query.startswith("#wsum(")
    rows = eng.search(expanded, model=BM25(), k=5, with_ext_id=False).collect()
    assert len(rows) == 5


def test_feedback_doc_lengths_belong_to_the_engines_index(spark):
    """S0 = Σ s_d/(dl_d+μ) reads the doc lengths of the engine's own
    index: two indexes with the same doc ids but other lengths, the
    first freed before the second is made, each score their own."""
    from searchengine_spark.index.build import InvertedIndex, build_index

    params = prf.ExpandParams(fb="indri", fb_docs=2, fb_terms=10**6, fb_mu=100.0)
    top = [(0, 0.9), (1, 0.4)]
    corpora = (["cat dog", "cat"], ["cat dog eel eel eel fox", "cat gnu gnu gnu"])
    handles = []
    for texts in corpora:
        docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
        handles.append(vars(build_index(docs, fields={"body": "text"}, analyzer="simple")).copy())
    got = []
    for fields in handles:
        idx = InvertedIndex(**fields)
        eng = SearchEngine(idx)
        got.append({
            r["term"]: r["fb_score"]
            for r in prf.candidate_term_scores(eng, top, params).collect()
        })
        del eng, idx  # gone before the next index is made
    for texts, scores in zip(corpora, got):
        py = orc.PyIndex({d: {"body": t.split()} for d, t in enumerate(texts)})
        expected = dict(orc.expand_terms(py, top, 10**6, 100.0))
        assert set(scores) == set(expected)
        for t, s in expected.items():
            assert scores[t] == pytest.approx(s, rel=1e-9), (texts, t)
