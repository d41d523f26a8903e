"""Property-based tests (hypothesis): positional merge kernels vs
brute-force specifications, and the scorers vs one another and the
oracle."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from searchengine_spark.operators.positional import near_merge, window_merge

pos_lists = st.lists(st.integers(min_value=0, max_value=5000), min_size=0, max_size=60).map(
    lambda xs: sorted(set(xs))
)


def _exists_ordered_chain(arrays, dist):
    """Spec: NEAR matches iff an increasing chain with per-step gap<=dist exists."""

    def rec(i, prev):
        if i == len(arrays):
            return True
        for p in arrays[i]:
            if p > prev and (prev < 0 or p - prev <= dist):
                if prev < 0 or p - prev <= dist:
                    if rec(i + 1, p):
                        return True
        return False

    # first arg: any position
    for p0 in arrays[0]:
        if rec(1, p0):
            return True
    return False


def _exists_window(arrays, dist):
    """Spec: WINDOW matches iff one position per arg fits max-min<dist."""
    import itertools

    for combo in itertools.product(*arrays):
        if max(combo) - min(combo) < dist:
            return True
    return False


small_lists = st.lists(
    st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=8).map(
        lambda xs: np.asarray(sorted(set(xs)), dtype=np.int64)
    ),
    min_size=2,
    max_size=3,
)


@settings(max_examples=300, deadline=None)
@given(small_lists, st.integers(min_value=1, max_value=10))
def test_near_match_chain_properties(arrays, dist):
    """k=2: greedy matches IFF an ordered chain exists (this completeness
    is what justifies the SQL doc-set oracle for 2-term #NEAR).

    k>=3: the reference's greedy is SOUND but not complete — e.g.
    [[0],[1,2],[4]], dist=2 has chain 0->2->4 but the greedy binds arg2
    to position 1 and misses it. We replicate the reference exactly, so
    only soundness is asserted (match => chain exists).
    """
    arrays = [a for a in arrays if len(a)]
    if len(arrays) < 2:
        return
    got = near_merge(arrays, dist)
    if len(arrays) == 2:
        assert bool(got) == _exists_ordered_chain(arrays, dist)
    elif got:
        assert _exists_ordered_chain(arrays, dist)
    # emitted positions are the last arg's and strictly increasing
    assert got == sorted(set(got))
    assert all(p in set(arrays[-1].tolist()) for p in got)


def test_reference_near_greedy_incompleteness_replicated():
    """Pin the reference quirk: greedy misses the 0->2->4 chain."""
    arrays = [np.asarray([0]), np.asarray([1, 2]), np.asarray([4])]
    assert near_merge(arrays, 2) == []
    assert _exists_ordered_chain(arrays, 2)


@settings(max_examples=300, deadline=None)
@given(small_lists, st.integers(min_value=1, max_value=15))
def test_window_match_iff_combo_exists(arrays, dist):
    arrays = [a for a in arrays if len(a)]
    if len(arrays) < 2:
        return
    got = window_merge(arrays, dist)
    assert bool(got) == _exists_window(arrays, dist)
    assert got == sorted(set(got))


@settings(max_examples=200, deadline=None)
@given(small_lists)
def test_near1_subset_window_any(arrays):
    """#near/1 matches imply #window/n matches for any n>1 (metamorphic)."""
    arrays = [a for a in arrays if len(a)]
    if len(arrays) < 2:
        return
    if near_merge(arrays, 1):
        assert window_merge(arrays, len(arrays) * 50)


@settings(max_examples=200, deadline=None)
@given(pos_lists, pos_lists, st.integers(min_value=1, max_value=8))
def test_near_tf_le_min_list_len(a, b, dist):
    if not a or not b:
        return
    got = near_merge([np.asarray(a), np.asarray(b)], dist)
    assert len(got) <= min(len(a), len(b))


# ---------------------------------------------------------------------------
# a query alone vs in a batch, and random nested trees vs the oracle
# ---------------------------------------------------------------------------

FLAT_VOCAB = [
    "barim", "batok", "balan", "cerim", "cetok", "celan",
    "dirim", "ditok", "dilan", "baser", "fulan", "gorim",
]


def _scores(df) -> dict:
    return {int(r["doc_id"]): float(r["score"]) for r in df.collect()}


def _draw_flat(data, ops) -> str:
    """A flat ``#op`` over 2-5 distinct terms, weighted for #WAND/#WSUM."""
    op = data.draw(st.sampled_from(ops))
    n_terms = data.draw(st.integers(min_value=2, max_value=5))
    terms = data.draw(
        st.lists(
            st.sampled_from(FLAT_VOCAB), min_size=n_terms, max_size=n_terms,
            unique=True,
        )
    )
    if op in ("wand", "wsum"):
        weights = [
            data.draw(st.sampled_from([0.1, 0.5, 1.0, 1.5, 3.0]))
            for _ in terms
        ]
        body = " ".join(f"{w} {t}" for w, t in zip(weights, terms))
    else:
        body = " ".join(terms)
    return f"#{op}({body})"


@settings(max_examples=12, deadline=None)
@given(st.data())
def test_query_alone_bit_identical_in_a_batch(pages_index, py_index, data):
    """Random flat Indri/Boolean queries: a query scored alone (the
    ``compile`` route) and the same query scored in a batch with a
    second drawn query (both queries' constants in one map literal, and
    a shape CASE when their shapes differ) give BIT-identical (doc_id, score)
    frames for every op x weight combination, and match the oracle —
    generalizing the specific queries the oracle gates pin."""
    from pyspark.sql import functions as F

    from searchengine_spark.engine import SearchEngine
    from searchengine_spark.plans.compiler import Compiler
    from searchengine_spark.plans.models import Indri, RankedBoolean
    from tests import oracle as orc

    model_kind = data.draw(st.sampled_from(["indri", "bool"]))
    if model_kind == "indri":
        ops = ["and", "or", "wand", "wsum"]
        m = Indri(mu=data.draw(st.sampled_from([1500.0, 2500.0])), lam=0.3)
    else:
        ops = ["and", "or"]
        m = RankedBoolean()
    q, q2 = _draw_flat(data, ops), _draw_flat(data, ops)

    eng = SearchEngine(pages_index)
    ast, ast2 = eng.parse(q, m), eng.parse(q2, m)
    comp = Compiler(pages_index, m)
    alone = _scores(comp.compile(ast))
    batch = comp.score_tree([("a", ast), ("b", ast2)])
    for qid, a, want in (("a", q, alone), ("b", q2, _scores(comp.compile(ast2)))):
        got = _scores(batch.where(F.col("qid") == qid))
        assert got == want, (a, q, q2)
    expected = dict(orc.search(py_index, ast, m, k=10**9))
    assert set(alone) == set(expected), q
    for d, s in expected.items():
        assert alone[d] == pytest.approx(s, rel=1e-12), (q, d)


NESTED_OPS = {
    "indri": ("and", "or", "wand", "wsum"),
    "bm25": ("sum", "wsum"),
    "rankedboolean": ("and", "or", "wand", "wsum"),
    "unrankedboolean": ("and", "or"),
}


def _nested_leaf(draw, fields) -> str:
    """A term, #SYN, #NEAR/n or #WINDOW/n leaf over one of ``fields``;
    terms drawn with replacement, so repeats occur."""
    fld = draw(st.sampled_from(fields))
    sfx = "" if fld == "body" else f".{fld}"
    kind = draw(st.sampled_from(["term", "term", "syn", "near", "window"]))
    if kind == "term":
        return draw(st.sampled_from(FLAT_VOCAB)) + sfx
    n = draw(st.integers(min_value=2, max_value=3))
    args = " ".join(t + sfx for t in draw(
        st.lists(st.sampled_from(FLAT_VOCAB[:6]), min_size=n, max_size=n)
    ))
    if kind == "syn":
        return f"#syn({args})"
    return f"#{kind}/{draw(st.integers(min_value=1, max_value=4))}({args})"


def _nested_tree(draw, ops, fields, depth: int) -> str:
    """An op of arity 2-3 whose args are leaves or, while ``depth`` > 1,
    subtrees; weighted ops get a weight per arg."""
    op = draw(st.sampled_from(ops))
    args = [
        _nested_tree(draw, ops, fields, depth - 1)
        if depth > 1 and draw(st.booleans())
        else _nested_leaf(draw, fields)
        for _ in range(draw(st.integers(min_value=2, max_value=3)))
    ]
    if op in ("wand", "wsum"):
        ws = [draw(st.sampled_from([0.1, 0.4, 1.0, 2.5])) for _ in args]
        args = [f"{w} {a}" for w, a in zip(ws, args)]
    return f"#{op}({' '.join(args)})"


@settings(max_examples=20, deadline=None)
@given(st.data())
def test_nested_trees_match_oracle(pages_index, py_index, data):
    """Random nested score trees (depth <= 3, arity 2-3, one or three
    fields, term/#SYN/#NEAR/#WINDOW leaves, repeated terms, weights)
    under every model and its ops: ``scores`` returns the oracle's doc
    set, each score within rel 1e-9."""
    from searchengine_spark.engine import SearchEngine
    from searchengine_spark.plans.models import make_model
    from tests import oracle as orc

    model = data.draw(st.sampled_from(sorted(NESTED_OPS)))
    fields = data.draw(st.sampled_from([("body",), ("body", "title", "keywords")]))
    q = _nested_tree(data.draw, NESTED_OPS[model], fields, depth=3)
    m = make_model(model)
    eng = SearchEngine(pages_index)
    expected, _ = orc.eval_sop(py_index, eng.parse(q, m), m)
    got = _scores(eng.scores(q, model=m))
    assert set(got) == set(expected), q
    for d, s in expected.items():
        assert got[d] == pytest.approx(s, rel=1e-9), (q, d)


# --- k=2 fast-path merges are trace-identical to the generic walks ----

two_lists = st.lists(
    st.lists(st.integers(min_value=0, max_value=120), min_size=0, max_size=25).map(
        lambda xs: sorted(set(xs))
    ),
    min_size=2,
    max_size=2,
)


@settings(max_examples=500, deadline=None)
@given(two_lists, st.integers(min_value=1, max_value=12))
def test_near2_fast_path_equals_generic(arrays, dist):
    from searchengine_spark.operators.positional import _near_merge_any

    assert near_merge(arrays, dist) == _near_merge_any(
        [list(a) for a in arrays], dist
    )


@settings(max_examples=500, deadline=None)
@given(two_lists, st.integers(min_value=0, max_value=12))
def test_window2_fast_path_equals_generic(arrays, dist):
    from searchengine_spark.operators.positional import _window_merge_any

    assert window_merge(arrays, dist) == _window_merge_any(
        [list(a) for a in arrays], dist
    )
