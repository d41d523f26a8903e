"""Property-based tests (hypothesis): codec round-trips and positional
merge kernels vs brute-force specifications."""

import numpy as np
from hypothesis import given, settings, strategies as st

from searchengine_spark.codec import decode_positions, encode_positions, vb_decode, vb_encode
from searchengine_spark.operators.positional import near_merge, window_merge

pos_lists = st.lists(st.integers(min_value=0, max_value=5000), min_size=0, max_size=60).map(
    lambda xs: sorted(set(xs))
)


@given(st.lists(st.integers(min_value=0, max_value=2**40), max_size=100))
def test_varbyte_roundtrip(values):
    assert list(vb_decode(vb_encode(values))) == values


@given(pos_lists)
def test_delta_roundtrip(positions):
    assert list(decode_positions(encode_positions(positions))) == positions


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
# single-scan flat strategies vs forced join path: bit-identical frames
# ---------------------------------------------------------------------------

FLAT_VOCAB = [
    "barim", "batok", "balan", "cerim", "cetok", "celan",
    "dirim", "ditok", "dilan", "baser", "fulan", "gorim",
]


@settings(max_examples=12, deadline=None)
@given(st.data())
def test_flat_strategy_bit_identical_to_join_path(pages_index, data):
    """Random flat Indri/Boolean queries: the single-scan map-reassembly
    strategy (default compiler) must produce BIT-identical (doc_id,
    score) frames to the k-way-join path (agg_threshold raised), for
    every op x weight combination — generalizing the specific queries
    the driver gates pin."""
    from searchengine_spark.engine import SearchEngine
    from searchengine_spark.plans.compiler import Compiler
    from searchengine_spark.plans.models import Indri, RankedBoolean

    model_kind = data.draw(st.sampled_from(["indri", "bool"]))
    if model_kind == "indri":
        op = data.draw(st.sampled_from(["and", "or", "wand", "wsum"]))
        m = Indri(mu=data.draw(st.sampled_from([1500.0, 2500.0])), lam=0.3)
    else:
        op = data.draw(st.sampled_from(["and", "or"]))
        m = RankedBoolean()
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
    q = f"#{op}({body})"

    eng = SearchEngine(pages_index)
    ast = eng.parse(q, m)
    flat = {
        int(r["doc_id"]): float(r["score"])
        for r in Compiler(pages_index, m).compile(ast).collect()
    }
    join_df = Compiler(pages_index, m, agg_threshold=100).compile(ast)
    # the raised threshold must really take the k-way-join path
    assert "Join" in join_df._jdf.queryExecution().executedPlan().toString(), q
    join = {int(r["doc_id"]): float(r["score"]) for r in join_df.collect()}
    assert set(flat) == set(join), q
    for d, s in join.items():
        assert flat[d] == s, (q, d, flat[d], s)


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
