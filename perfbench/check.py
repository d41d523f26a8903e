"""Output checks. Every function returns the number of wrong results.

Rankings are checked against the package's trusted in-memory oracle
(``tests/oracle.py``, used read-only) over the generated token lists;
MinHash pairs against exact shingle Jaccard; ANN results against NumPy
cosines.
"""

from __future__ import annotations

import sys
import traceback

import numpy as np

SCORE_TOL = 2e-6  # the engine exposes scores rounded to 6 places


def report_error(kind: str, what: str, e: BaseException) -> None:
    print(f"perfbench: {kind} failed: {what!r}: {e!r}", file=sys.stderr)
    traceback.print_exception(e, file=sys.stderr)


def _mismatch(kind: str, what: str, why: str) -> int:
    print(f"perfbench: wrong {kind} result for {what!r}: {why}", file=sys.stderr)
    return 1


def _py_index(c, n_docs: int, with_title: bool = True):
    from tests.oracle import PyIndex

    docs = {}
    for d in range(n_docs):
        flds = {"body": c.tokens[d]}
        if with_title:
            flds["title"] = c.title_tokens[d]
        docs[d] = flds
    return PyIndex(docs)


def _topk_error(rows, expected: list, k: int) -> str | None:
    """Why ``rows`` (doc_id, ext_id, score, rank) is not a valid top-k of
    the oracle's full ranking ``expected``, or None. Ties at the cut
    may resolve to any doc of equal rounded score."""
    from perfbench.gen import url

    exp = {d: round(s, 6) for d, s in expected}
    if len(rows) != min(k, len(expected)):
        return f"{len(rows)} rows, oracle has {len(expected)} matches"
    prev = None
    for i, r in enumerate(rows):
        d, s = int(r["doc_id"]), float(r["score"])
        if r["rank"] != i + 1:
            return f"rank {r['rank']} at position {i + 1}"
        if r["ext_id"] != url(d):
            return f"doc {d} has ext_id {r['ext_id']!r}"
        if d not in exp:
            return f"doc {d} is not a match"
        if abs(s - exp[d]) > SCORE_TOL:
            return f"doc {d} score {s} != oracle {exp[d]}"
        if prev is not None and (-s, d) <= prev:
            return f"doc {d} out of order"  # score desc, doc_id asc
        prev = (-s, d)
    if len(expected) > k and rows and float(rows[-1]["score"]) < round(expected[k][1], 6) - SCORE_TOL:
        return f"cut score {rows[-1]['score']} below oracle's next {expected[k][1]}"
    return None


def _oracle_ranking(eng, idx, cache: dict, model_name: str, q: str) -> list:
    from searchengine_spark.plans.models import make_model
    from tests import oracle

    key = (model_name, q)
    if key not in cache:
        m = make_model(model_name)
        cache[key] = oracle.search(idx, eng.parse(q, m), m, k=10**9)
    return cache[key]


def ranked_results(eng, c, results, k: int) -> int:
    """results: [(model name, query, collected top-k rows)]."""
    idx = _py_index(c, len(c.doc_ids))
    cache: dict = {}
    bad = 0
    for model, q, rows in results:
        why = _topk_error(rows, _oracle_ranking(eng, idx, cache, model, q), k)
        if why:
            bad += _mismatch(model, q, why)
    return bad


def batch_matches_search(eng, batches, k: int, seed: int, samples: int = 2) -> int:
    """A few sampled queries, each from a different ``run_batch`` call,
    must rank exactly as a single ``search`` of them does."""
    rng = np.random.default_rng(seed + 3)
    bad = 0
    for i in rng.choice(len(batches), size=min(samples, len(batches)), replace=False):
        model, items, rows = batches[int(i)]
        qid, q = items[int(rng.integers(len(items)))]
        fused = [(r["doc_id"], r["score"]) for r in sorted(
            (r for r in rows if r["qid"] == qid), key=lambda r: r["rank"])]
        single = [(r["doc_id"], r["score"]) for r in eng.search(q, model=model, k=k).collect()]
        if fused != single:
            bad += _mismatch(model, q, f"run_batch {fused[:3]}... != search {single[:3]}...")
    return bad


def build_postings(c, n_docs: int, postings: int) -> int:
    """One posting per distinct (term, field) of each doc."""
    want = sum(
        len(set(c.tokens[d]) - {""}) + len(set(c.title_tokens[d]) - {""})
        for d in range(n_docs)
    )
    if postings != want:
        return _mismatch("build", f"{n_docs} docs", f"{postings} postings, expected {want}")
    return 0


def live_probes(eng, c, probes, k: int) -> int:
    """probes: [(docs ingested so far, index n_docs, query, rows)].

    After compaction the live index must hold every doc and rank body
    queries as an index over all of them would (the oracle over the
    same docs; the streamed deltas carry the body field only)."""
    bad = 0
    indexes: dict = {}
    cache: dict = {}
    for n_live, n_docs, q, rows in probes:
        if n_docs != n_live:
            bad += _mismatch("ingest", q, f"index has {n_docs} docs, {n_live} ingested")
            continue
        if n_live not in indexes:
            indexes = {n_live: _py_index(c, n_live, with_title=False)}
            cache = {}
        why = _topk_error(rows, _oracle_ranking(eng, indexes[n_live], cache, "bm25", q), k)
        if why:
            bad += _mismatch("probe", q, why)
    return bad


def _shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def dedup_pairs(c, planted, rows, threshold: float) -> int:
    """Every planted pair is found, and every reported pair's Jaccard is
    exact and above the threshold."""
    bad = 0
    sh: dict[int, set] = {}

    def jac(a: int, b: int) -> float:
        for d in (a, b):
            if d not in sh:
                sh[d] = _shingles(c.bodies[d])
        return len(sh[a] & sh[b]) / len(sh[a] | sh[b])

    found = {(int(r["id_a"]), int(r["id_b"])): float(r["jaccard"]) for r in rows}
    for a, b in planted:
        if (a, b) not in found:
            bad += _mismatch("dedup", (a, b), "planted pair not found")
    for (a, b), j in found.items():
        want = jac(a, b)
        if want < threshold or abs(j - round(want, 6)) > SCORE_TOL:
            bad += _mismatch("dedup", (a, b), f"jaccard {j}, exact {want}")
    return bad


def ann_results(vecs: np.ndarray, calls, k: int) -> tuple[int, float]:
    """Cosines exact and ranked; returns (wrong, mean recall@k against
    brute force)."""
    v = vecs.astype(np.float64)
    unit = v / np.linalg.norm(v, axis=1)[:, None]
    bad = 0
    recalls = []
    for qids, rows in calls:
        by_q: dict[int, list] = {q: [] for q in qids}
        for r in rows:
            by_q[int(r["query_id"])].append(r)
        for q, got in by_q.items():
            got.sort(key=lambda r: r["rank"])
            cos = unit @ unit[q]
            cos[q] = -np.inf
            truth = set(np.argsort(-cos, kind="stable")[:k].tolist())
            ids = [int(r["vec_id"]) for r in got]
            if len(got) != k or [r["rank"] for r in got] != list(range(1, k + 1)):
                bad += _mismatch("ann", q, f"{len(got)} rows")
                continue
            errs = [abs(float(r["cos"]) - cos[int(r["vec_id"])]) for r in got]
            ordered = all(got[i]["cos"] >= got[i + 1]["cos"] for i in range(k - 1))
            if max(errs) > SCORE_TOL or not ordered:
                bad += _mismatch("ann", q, f"cosine off by {max(errs)} or out of order")
            recalls.append(len(truth & set(ids)) / k)
    return bad, float(np.mean(recalls)) if recalls else 0.0
