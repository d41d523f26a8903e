"""Positional operators: #NEAR/n, #WINDOW/n, #SYN merge kernels.

The reference evaluates these with per-doc location iterators
(QryIopNear.java:27-83, QryIopWindow.java:27-77, QryIopSyn.java:17-71).
Here the docid alignment is a Spark inner join / groupBy (distributed,
sort-merge); only the *within-document* positional merge runs in
Python, over Arrow record batches. Position lists are the postings'
``array<int>`` column: they arrive as int arrays and leave as int lists,
with no codec on either side of the UDF. #SYN needs no Python at all:
its union is a JVM aggregate in the compiler.

Semantics replicated exactly (same pointer discipline => same tf):

- NEAR/n: args must appear in order, each consecutive gap
  ``cur - prev <= n`` with ``cur > prev``; emits the LAST arg's
  position; on a match every pointer advances by one; on a distance
  failure only the first arg's pointer advances; if any non-first list
  exhausts, the document is finished.
- WINDOW/n: unordered; a match needs ``max - min < n``; emits ``max``
  and advances all pointers; otherwise every pointer advances past the
  current minimum location.
- SYN: union of lists; per-doc positions concatenated and sorted
  (argument positions assumed disjoint, QryIopSyn.java:53-54) —
  ``array_sort(flatten(collect_list(positions)))``.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

MERGE_RESULT = StructType(
    [
        StructField("tf", IntegerType()),
        StructField("positions", ArrayType(IntegerType())),
    ]
)


def _near_merge2(a: list[int], b: list[int], dist: int) -> list[int]:
    """k=2 specialization of the generic pointer walk below — identical
    trace (pinned by test_properties): advance b past a[i]; exhaust ->
    done; gap > dist -> advance a only; match -> emit b, advance both."""
    la, lb = len(a), len(b)
    i = j = 0
    out: list[int] = []
    while i < la:
        prev = a[i]
        while j < lb and b[j] <= prev:
            j += 1
        if j >= lb:
            return out
        if b[j] - prev > dist:
            i += 1
        else:
            out.append(b[j])
            i += 1
            j += 1
    return out


def near_merge(arrays: Sequence[np.ndarray], dist: int) -> list[int]:
    """Greedy ordered-proximity merge (QryIopNear.java:40-76 semantics)."""
    k = len(arrays)
    # plain-int lists: numpy scalar indexing in the pointer loops is
    # ~10x slower than list indexing (same trick as the PNG defilter)
    arrays = [a.tolist() if isinstance(a, np.ndarray) else list(a) for a in arrays]
    if k == 2:
        if not arrays[0] or not arrays[1]:
            return []
        return _near_merge2(arrays[0], arrays[1], dist)
    return _near_merge_any(arrays, dist)


def _near_merge_any(arrays: list[list[int]], dist: int) -> list[int]:
    """Generic k-way walk (also the k=2 reference for the equivalence
    property test)."""
    k = len(arrays)
    lens = [len(a) for a in arrays]
    if any(n == 0 for n in lens):
        return []
    ptr = [0] * k
    out: list[int] = []
    while ptr[0] < lens[0]:
        found = True
        for i in range(1, k):
            prev_loc = arrays[i - 1][ptr[i - 1]]
            a = arrays[i]
            j = ptr[i]
            while j < lens[i] and a[j] <= prev_loc:
                j += 1
            ptr[i] = j
            if j >= lens[i]:
                return out  # first arg's iterator "finished" -> doc done
            if a[j] - prev_loc > dist:
                ptr[0] += 1
                found = False
                break
        if found:
            out.append(int(arrays[k - 1][ptr[k - 1]]))
            for i in range(k):
                ptr[i] += 1
    return out


def _window_merge2(a: list[int], b: list[int], dist: int) -> list[int]:
    """k=2 specialization of the generic min/max walk below — identical
    trace: match (|x-y| < dist) emits max and advances both; otherwise
    every pointer skips positions <= min (only the min side moves for
    strictly-increasing lists, but the skip loops mirror the generic
    <=-min rule exactly, including dist <= 0 on equal positions)."""
    la, lb = len(a), len(b)
    i = j = 0
    out: list[int] = []
    while i < la and j < lb:
        x = a[i]
        y = b[j]
        if x < y:
            if y - x < dist:
                out.append(y)
                i += 1
                j += 1
            else:
                i += 1
                while i < la and a[i] <= x:
                    i += 1
        elif y < x:
            if x - y < dist:
                out.append(x)
                i += 1
                j += 1
            else:
                j += 1
                while j < lb and b[j] <= y:
                    j += 1
        elif dist > 0:
            out.append(x)
            i += 1
            j += 1
        else:
            i += 1
            while i < la and a[i] <= x:
                i += 1
            j += 1
            while j < lb and b[j] <= y:
                j += 1
    return out


def window_merge(arrays: Sequence[np.ndarray], dist: int) -> list[int]:
    """Unordered min/max sliding merge (QryIopWindow.java:40-70 semantics)."""
    k = len(arrays)
    arrays = [a.tolist() if isinstance(a, np.ndarray) else list(a) for a in arrays]
    if k == 2:
        return _window_merge2(arrays[0], arrays[1], dist)
    return _window_merge_any(arrays, dist)


def _window_merge_any(arrays: list[list[int]], dist: int) -> list[int]:
    """Generic k-way walk (also the k=2 reference for the equivalence
    property test)."""
    k = len(arrays)
    lens = [len(a) for a in arrays]
    ptr = [0] * k
    out: list[int] = []
    while True:
        locs = []
        for i in range(k):
            if ptr[i] >= lens[i]:
                return out
            locs.append(arrays[i][ptr[i]])
        mn, mx = min(locs), max(locs)
        if mx - mn < dist:
            out.append(int(mx))
            for i in range(k):
                ptr[i] += 1
        else:
            for i in range(k):
                a = arrays[i]
                j = ptr[i]
                while j < lens[i] and a[j] <= mn:
                    j += 1
                ptr[i] = j


@F.pandas_udf(MERGE_RESULT)
def _merge(pos_arrays: pd.Series, kinds: pd.Series, dists: pd.Series) -> pd.DataFrame:
    """pandas UDF: (position lists, kind, dist) -> struct<tf, positions>.

    ``position lists`` is an array<array<int>> column, one ascending
    list per arg in arg order; ``kind`` ("near"/"window") and ``dist``
    are columns, literal for one query and per row when one Arrow pass
    merges a batch's queries. Rows where the merge produces no positions
    yield tf=0 (callers filter ``tf > 0`` — the reference only appends
    non-empty postings)."""
    kind_a = kinds.to_numpy()
    dist_a = dists.to_numpy()
    n = len(pos_arrays)
    tfs = np.zeros(n, dtype=np.int32)
    hits: list[list[int] | None] = [None] * n
    for r, arrays in enumerate(pos_arrays):
        merge = near_merge if kind_a[r] == "near" else window_merge
        pos = merge(arrays, int(dist_a[r]))
        if pos:
            tfs[r] = len(pos)
            hits[r] = pos
    return pd.DataFrame({"tf": tfs, "positions": hits})


# The merge IS deterministic; the marker only disables Catalyst
# optimizations that duplicate the expression — with `where(__m.tf > 0)`
# + `select(__m.*)` the field accesses get copied into filter AND
# project, and UDF extraction then plans TWO ArrowEvalPython stages,
# running the whole merge twice (seen in the 400k-page plans; compiler
# filters on the projected alias for the same reason).
positional_merge = _merge.asNondeterministic()
