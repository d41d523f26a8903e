import json
import os

import pytest

import bench

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _entries(name):
    with open(os.path.join(ROOT, name)) as f:
        return set(json.load(f)["parsed"]["queries"])


def test_headline_is_the_entries_rounds_4_and_5_share():
    """``value`` sums a fixed entry set: the entries both recorded rounds
    have, so a round that adds or splits an entry stays comparable."""
    assert set(bench.HEADLINE) == _entries("BENCH_r04.json") & _entries("BENCH_r05.json")
    assert len(bench.HEADLINE) == 16


def test_headline_total_ignores_other_entries_and_raises_on_a_missing_one():
    queries = {k: 1.0 for k in bench.HEADLINE}
    assert bench.headline_total({**queries, "p_media_decode": 9.0}) == 16.0
    del queries["q_syn"]
    with pytest.raises(KeyError, match="q_syn"):
        bench.headline_total(queries)
