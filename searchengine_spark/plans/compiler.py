"""Query AST -> DataFrame plan compiler.

The reference evaluates query trees document-at-a-time with iterator
merges (Qry.java:16-41, QryEval.java:133-138). Here each AST compiles
to a declarative DataFrame plan and Catalyst/Tungsten pick the physical
strategy:

- Iop nodes -> positional-postings frames
  ``(doc_id, tf, doc_len, positions)``; a TERM is a pushed-down filter
  on the postings table (partition-prunable by term bucket). SYN, NEAR
  and WINDOW read their args' rows from one helper
  (``Compiler._arg_rows``: the term args from ONE scan per field, each
  nested arg from its own frame, tagged by arg index): SYN groups them
  by doc_id, NEAR / WINDOW group them by (qid, doc_id), keep the docs
  holding every arg and run ONE Arrow positional merge — the
  reference's match-ALL merge over its args (QryIopNear.java:27-83),
  whatever kind of lists they are, with no per-arg join.
- Flat score roots (``Compiler.flat_scorer``: a BM25 bag of words or
  ``#SCORE`` of a #NEAR/#WINDOW, a flat Indri or Boolean op) take
  their model's ONE flat scorer, keyed by ``qid``: a single
  bucket-pruned ``term IN (...)`` scan per field, regrouped per (qid,
  doc_id) with an arg-ordered fold. ``compile`` calls it with one
  ``(qid, node)`` item; ``SearchEngine.run_batch`` with all of a
  batch's flat queries. Only how the per-query constants reach the
  rows depends on the item count (``term_scan``/``_with_meta``).
- Every other score tree (nested ops, repeated terms, mixed fields)
  takes the ONE tree scorer (``Compiler.score_tree``), the reference's
  document-at-a-time pass over all leaves: the ``#SCORE`` leaves are
  scored row by row, the terms from one scan per field, and one
  groupBy(doc_id) gathers each doc's leaf scores into a map that a
  single Column expression folds up the tree. Match-ALL ops (Boolean
  #AND, #WAND/#WSUM outside Indri — Qry.java:255-302) are null unless
  every arg matches, match-MIN ops (#OR, #SUM, all Indri ops —
  Qry.java:332-355) unless some arg does. Indri's default score
  (QrySopScore.getDefaultScore: a doc that misses an argument still
  gets a smoothed score from that argument's ctf and the doc's field
  length) stands in for every missing leaf.

Score expressions are built strictly in argument order, so
floating-point results are reproducible and bit-comparable with the
ANSI-SQL oracle.

Corpus scalars (N, avg/sum field length) and per-term df/ctf are
resolved driver-side and embedded as literals, keeping the scoring
expressions inside whole-stage codegen. df/ctf come from one
term-dictionary lookup per query (``prefetch_term_stats`` ->
``InvertedIndex.lookup_term_stats``; the reference does the same
per-term index lookups, Idx.java:74-77): for a persisted index a
pyarrow read of the query buckets' ``term_stats`` files in the
committed generations, with no Spark job. Derived operators (NEAR/...)
need their df/ctf computed from the merged list, exactly like the
reference's materialize-then-score discipline (QryIop.java:174-190):
only when the model uses those stats, the list is collected once to
the driver (``session.local_frame``), df/ctf are read off it and the
scorer reads the same rows back. No frame is cached.
"""

from __future__ import annotations

import math
from collections import Counter
from dataclasses import dataclass

import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, functions as F

from searchengine_spark.functions.xxh64 import term_bucket
from searchengine_spark.index.build import InvertedIndex
from searchengine_spark.operators.positional import positional_merge
from searchengine_spark.plans.ast import IopNode, SopNode, TermNode, is_iop
from searchengine_spark.plans.models import BM25, Indri, RankedBoolean, UnrankedBoolean
from searchengine_spark.session import arrow_frame, local_frame


@dataclass
class IopResult:
    """Compiled positional operator: frame (doc_id, tf, doc_len, positions)."""

    frame: DataFrame
    field: str
    _stats: tuple | None = None  # (df, ctf)

    def stats(self) -> tuple[int, int]:
        if self._stats is None:
            # only scorers ask for stats, and they read tf/doc_len: the
            # list is collected once without its position lists and the
            # frame then reads those rows back from the driver
            table, self.frame = local_frame(self.frame.drop("positions"))
            self._stats = (table.num_rows, pc.sum(table["tf"]).as_py() or 0)
        return self._stats


def flat_terms(node: SopNode) -> list[TermNode] | None:
    """The term args of a *flat* Sop, else None.

    Flat: #AND/#OR/#WAND/#WSUM over ``#SCORE(term)`` args — at least two
    args, all of one field, no term repeated. A flat op reads ONE
    ``term IN (...)`` postings scan regrouped per doc
    (``Compiler.flat_scorer``)."""
    if node.op not in ("and", "or", "wand", "wsum") or not all(
        isinstance(a, SopNode) and a.op == "score" for a in node.args
    ):
        return None
    args = [a.args[0] for a in node.args]
    if len(args) < 2 or not all(isinstance(a, TermNode) for a in args):
        return None
    fld = args[0].field
    names = [a.term for a in args]
    if any(a.field != fld for a in args) or len(set(names)) != len(names):
        return None
    return args


def _bow_terms(node) -> list[TermNode] | None:
    """The leaves of a bag-of-words node — ``#SUM`` of ``#SCORE(term)``
    args or one ``#SCORE(term)``; any fields, repeats allowed — else None."""
    args = [node] if node.op == "score" else node.args if node.op == "sum" else ()
    if not args or not all(
        isinstance(a, SopNode) and a.op == "score" and isinstance(a.args[0], TermNode)
        for a in args
    ):
        return None
    return [a.args[0] for a in args]


def _by_field(items, field_of) -> dict[str, list]:
    out: dict[str, list] = {}
    for qid, node in items:
        out.setdefault(field_of(node), []).append((qid, node))
    return out


def _union(frames: list[DataFrame]) -> DataFrame:
    u = frames[0]
    for fr in frames[1:]:
        u = u.unionByName(fr, allowMissingColumns=True)
    return u


def _case(by_term: dict) -> Column:
    """``CASE term WHEN t THEN <literal> ...`` over ``{term: value}``."""
    out = None
    for t, v in by_term.items():
        match = F.col("term") == t
        out = F.when(match, F.lit(v)) if out is None else out.when(match, F.lit(v))
    return out


def _fold(k, init: Column, step) -> Column:
    """Left fold of ``step(acc, i)`` over the arg indexes ``0..k-1``.

    One query has a literal ``k``: the fold unrolls into plain codegen'd
    arithmetic. In a batch ``k`` is a per-qid column: ``aggregate`` over
    ``sequence``. Both run the same float ops in the same order (the
    inits 1.0/* and 0.0/+ are IEEE-exact)."""
    if isinstance(k, int):
        acc = init
        for i in range(k):
            acc = step(acc, i)
        return acc
    return F.aggregate(F.sequence(F.lit(0), k - F.lit(1)), init, step)


def _indri_fold(op, k, w, total, eff) -> Column:
    """Indri ``#op`` over the arg scores ``eff(i)``, in arg order.

    ``op``/``k``/``w``/``total`` are Python values (a tree-scorer node,
    one flat query) or per-qid columns (a flat batch). The flat scorer
    and the tree scorer both fold here, so their float ops are the
    same."""
    one, zero = F.lit(1.0), F.lit(0.0)
    w, total = F.lit(w), F.lit(total)
    ops = {
        # geometric mean w/ defaults (QrySopAnd.java:73-91)
        "and": lambda: F.pow(
            _fold(k, one, lambda acc, i: acc * eff(i)), one / F.lit(k).cast("double")
        ),
        # as-implemented reference quirk: prod(1 - s_i) WITHOUT the
        # final complement (QrySopOr.java:75-87)
        "or": lambda: _fold(k, one, lambda acc, i: acc * (one - eff(i))),
        # weighted geometric mean (QrySopWAnd.java:82-98)
        "wand": lambda: _fold(
            k, one, lambda acc, i: acc * F.pow(eff(i), F.element_at(w, i + 1) / total)
        ),
        # weighted arithmetic mean (QrySopWSum.java:83-100): (s*w)/total,
        # the reference's evaluation order
        "wsum": lambda: _fold(
            k, zero, lambda acc, i: acc + eff(i) * F.element_at(w, i + 1) / total
        ),
    }
    if isinstance(op, str):
        return ops[op]()
    out = None
    for name, fn in ops.items():
        out = F.when(op == name, fn()) if out is None else out.when(op == name, fn())
    return out


def _merge(frame: DataFrame, positions: Column, kind, dist) -> DataFrame:
    """Run the positional merge UDF over ``positions`` (array<array<int>>,
    arg order) -> (qid, doc_id, tf, doc_len, positions), tf > 0."""
    cols = ["qid", "doc_id", F.col("__m.tf").alias("tf"), "doc_len",
            F.col("__m.positions").alias("positions")]
    # project the struct fields BEFORE filtering: a `where` on
    # `__m.tf` followed by a select of `__m.*` duplicates the field
    # accesses into filter and project, and UDF extraction then plans
    # TWO ArrowEvalPython stages — the whole merge ran twice (seen in
    # the 400k PLANS.md). Filtering on the projected alias keeps one
    # Arrow pass.
    return (
        frame.withColumn("__m", positional_merge(positions, F.lit(kind), F.lit(dist)))
        .select(*cols)
        .where(F.col("tf") > 0)
    )


class Compiler:
    def __init__(self, index: InvertedIndex, model):
        self.index = index
        self.model = model
        self.term_stats: dict[tuple[str, str], tuple[int, int]] = {}

    def _bucket_cond(self, terms) -> Column | None:
        """``bucket IN (<literal ids>)`` partition-pruning predicate,
        resolved driver-side with the pure-Python XXH64 (bit-equal to
        the JVM hash, pinned by test_xxh64_matches_spark) — no foldable
        expression chain for Catalyst to churn through, no Spark job."""
        if not self.index.n_buckets:
            return None
        ids = sorted({term_bucket(t, self.index.n_buckets) for t in terms})
        return F.col("bucket").isin(ids)

    # ------------------------------------------------------------------
    # stats prefetch: ONE term-dictionary lookup for all terms in a query
    # ------------------------------------------------------------------

    def _collect_terms(self, node, out):
        if isinstance(node, TermNode):
            out.add((node.term, node.field))
        elif node is not None:
            for a in node.args:
                self._collect_terms(a, out)

    def prefetch_term_stats(self, node) -> None:
        """df/ctf of every (term, field) under ``node`` into
        ``term_stats``: one ``InvertedIndex.lookup_term_stats`` for the
        pairs the cache lacks (driver-side, no Spark job, for a
        persisted index)."""
        wanted = set()
        self._collect_terms(node, wanted)
        missing = wanted - self.term_stats.keys()
        if missing:
            self.term_stats.update(self.index.lookup_term_stats(missing))

    # ------------------------------------------------------------------
    # flat scans: how per-query constants reach the postings rows
    # ------------------------------------------------------------------

    def term_scan(self, fld: str, rows: list[tuple], consts: tuple = ()) -> DataFrame:
        """Postings of one field's query terms from ONE bucket-pruned
        ``term IN (...)`` scan, tagged per query arg.

        ``rows`` holds one ``(qid, ti, term, *values)`` per arg and
        ``consts`` the values' ``"name type"`` columns. Each posting
        comes out once per arg naming its term, with ``qid``, ``__ti``
        and the constants. One query binds them as literal CASE-on-term
        columns: no driver-built table, no broadcast, no extra job (a
        repeated term explodes to one row per arg). Two or more join a
        broadcast ``(qid, __ti, term, ...)`` table built from Arrow
        (``arrow_frame``: no Python-worker task), so the scan count
        stays one per field whatever the batch size.

        One query keeps its literals although each fresh query's
        constants compile new codegen classes: sending it through the
        broadcast table (and ``_with_meta``'s join) cost more than the
        compiles saved. On the perfbench ``query`` workload (3
        interleaved pairs, 4-vCPU host) ``query_cpu_s`` rose
        0.50-0.58 -> 0.64-0.68 s and ``work_cpu_s`` 9.2-9.4 ->
        10.8-11.4 s. The item count picks the path.
        """
        names = sorted({r[2] for r in rows})
        cond = (F.col("field") == fld) & F.col("term").isin(names)
        bc = self._bucket_cond(names)
        if bc is not None:
            cond = cond & bc
        fr = self.index.postings.where(cond)
        if len({r[0] for r in rows}) > 1:
            schema = ", ".join(["qid string", "__ti int", "term string", *consts])
            qt = arrow_frame(self.index.spark, rows, schema)
            return fr.join(F.broadcast(qt), on="term")
        tis: dict[str, list[int]] = {}
        for r in rows:
            tis.setdefault(r[2], []).append(r[1])
        if all(len(v) == 1 for v in tis.values()):
            ti = _case({t: v[0] for t, v in tis.items()})
        else:
            ti = F.explode(_case(tis))
        cols = [F.lit(rows[0][0]).alias("qid"), ti.alias("__ti")]
        for j, c in enumerate(consts):
            cols.append(_case({r[2]: r[3 + j] for r in rows}).alias(c.split()[0]))
        return fr.select("*", *cols)

    def _with_meta(self, frame: DataFrame, rows: list[tuple], cols: tuple):
        """Per-qid constants ``rows`` = ``[(qid, *values)]`` (``cols``:
        their ``"name type"``) for a qid-keyed ``frame`` -> (frame,
        {name: value}). One query gets its values back as Python
        literals, which the scoring expressions fold; a batch joins a
        broadcast Arrow-built table and gets its columns."""
        names = [c.split()[0] for c in cols]
        if len(rows) == 1:
            return frame, dict(zip(names, rows[0][1:]))
        meta = arrow_frame(self.index.spark, rows, ", ".join(["qid string", *cols]))
        return frame.join(F.broadcast(meta), on="qid"), {n: F.col(n) for n in names}

    def flat_scorer(self, node):
        """The flat scorer for the query root ``node``, else None (the
        tree scorer takes it). This one predicate routes both
        ``compile`` and ``SearchEngine.run_batch``.

        - BM25: a bag of words (``_bow_terms``), or ``#SCORE`` of a
          ``#NEAR``/``#WINDOW``, whatever its args.
        - Indri: a flat op (``flat_terms``) over a non-empty field.
        - Ranked/UnrankedBoolean: a flat op.
        """
        m = self.model
        if not isinstance(node, SopNode):
            return None
        if isinstance(m, BM25):
            iop = node.args[0] if node.op == "score" else None
            if isinstance(iop, IopNode):
                return self._bm25_positional if iop.op in ("near", "window") else None
            return self._bm25_flat if _bow_terms(node) else None
        terms = flat_terms(node)
        if terms is None:
            return None
        if isinstance(m, Indri):
            return self._indri_flat if self.index.sum_len(terms[0].field) > 0 else None
        if isinstance(m, (RankedBoolean, UnrankedBoolean)):
            return self._bool_flat
        return None

    # ------------------------------------------------------------------
    # Iop compilation
    # ------------------------------------------------------------------

    def compile_iop(self, node) -> IopResult:
        if isinstance(node, TermNode):
            cond = (F.col("term") == node.term) & (F.col("field") == node.field)
            bc = self._bucket_cond([node.term])
            if bc is not None:
                # literal bucket id -> partition pruning on the bucket dir
                cond = cond & bc
            fr = self.index.postings.where(cond).select(
                "doc_id", "tf", "doc_len", "positions"
            )
            st = self.term_stats.get((node.term, node.field))
            return IopResult(fr, node.field, _stats=st)

        if node.op == "syn":
            # the union is a JVM aggregate; a caller that reads only
            # tf/doc_len gets it pruned by Catalyst
            fr = self._arg_rows(node.field, [("", node)]).groupBy("doc_id").agg(
                F.sum("tf").cast("int").alias("tf"),
                F.max("doc_len").alias("doc_len"),
                F.array_sort(F.flatten(F.collect_list("positions"))).alias("positions"),
            )
        else:
            fr = self._positional([("", node)]).drop("qid")
        return IopResult(fr, node.field)

    def _arg_rows(self, fld: str, items: list) -> DataFrame:
        """(qid, __ti, doc_id, tf, doc_len, positions): a row per doc
        holding arg ``__ti`` of an Iop of ``items`` ``[(qid, iop)]``,
        all over ``fld``. The term args of every item come from ONE
        ``term_scan`` (a repeated term yields a row per arg), each
        nested arg from its own ``compile_iop`` frame."""
        cols = ("doc_id", "tf", "doc_len", "positions")
        qt, frames = [], []
        for qid, iop in items:
            for i, a in enumerate(iop.args):
                if isinstance(a, TermNode):
                    qt.append((qid, i, a.term))
                else:
                    frames.append(self.compile_iop(a).frame.select(
                        F.lit(qid).alias("qid"), F.lit(i).alias("__ti"), *cols
                    ))
        if qt:
            frames.insert(0, self.term_scan(fld, qt).select("qid", "__ti", *cols))
        return _union(frames)

    def _positional(self, items: list) -> DataFrame:
        """(qid, doc_id, tf, doc_len, positions) for #NEAR/#WINDOW items
        ``[(qid, iop)]``: per field, the args' rows (``_arg_rows``), one
        groupBy(qid, doc_id) collecting the arg-ordered position lists,
        one Arrow merge pass with each query's (kind, dist)."""
        frames = []
        for fld, f_items in _by_field(items, lambda iop: iop.field).items():
            g = (
                self._arg_rows(fld, f_items)
                .groupBy("qid", "doc_id")
                .agg(
                    F.array_sort(F.collect_list(F.struct("__ti", "positions"))).alias("__ps"),
                    F.max("doc_len").alias("doc_len"),
                )
            )
            g, c = self._with_meta(
                g,
                [(qid, iop.op, int(iop.dist), len(iop.args)) for qid, iop in f_items],
                ("__kind string", "__dist int", "__k int"),
            )
            # NEAR/WINDOW match only docs containing EVERY arg
            g = g.where(F.size("__ps") == F.lit(c["__k"]))
            frames.append(_merge(g, F.col("__ps.positions"), c["__kind"], c["__dist"]))
        return _union(frames)

    # ------------------------------------------------------------------
    # Sop compilation
    # ------------------------------------------------------------------

    def compile(self, node) -> DataFrame:
        """Top-level: AST -> frame (doc_id long, score double)."""
        if node is None:
            return arrow_frame(self.index.spark, [], "doc_id long, score double")
        if is_iop(node):
            node = SopNode("score", (node,))
        self.prefetch_term_stats(node)
        # one #SCORE(term) is a projection of its postings, not a
        # one-term BM25 bag-of-words groupBy
        one_term = node.op == "score" and isinstance(node.args[0], TermNode)
        scorer = None if one_term else self.flat_scorer(node)
        if scorer is not None:
            return scorer([("", node)]).select("doc_id", "score")
        return self.score_tree(node)

    def score_tree(self, node: SopNode) -> DataFrame:
        """(doc_id, score) of a score tree ``flat_scorer`` does not take.

        The ``#SCORE`` leaves, numbered in depth-first arg order, are
        scored row by row with the leaf formula: the term leaves from
        ONE ``term_scan`` per field (a repeated term explodes to one row
        per leaf), each #SYN/#NEAR/#WINDOW leaf from its ``compile_iop``
        frame. One groupBy(doc_id) gathers each doc's (leaf -> score)
        map and, under Indri, its length in every field of the tree;
        ``_combine`` folds the map up the tree into one Column. A tree
        over more than one field takes a doc's length in a field none
        of its leaves matched from ``doc_stats`` (0 when absent). A
        one-leaf tree is a plain projection of its frame."""
        if node.op == "score":
            iop = self.compile_iop(node.args[0])
            c, _ = self._leaf_consts(iop.field, iop.stats)
            return iop.frame.select("doc_id", self._leaf_score(iop.field, c).alias("score"))

        indri = isinstance(self.model, Indri)
        leaves: list[tuple[str, float | None]] = []  # (field, Indri default p)
        terms: dict[str, list] = {}
        frames = []

        def walk(n):
            if n.op != "score":
                for a in n.args:
                    walk(a)
                return
            arg, i = n.args[0], len(leaves)
            if isinstance(arg, TermNode):
                c, p_def = self._leaf_consts(arg.field, lambda: self._stats(arg.term, arg.field))
                terms.setdefault(arg.field, []).append(("", i, arg.term, c))
            else:
                iop = self.compile_iop(arg)
                c, p_def = self._leaf_consts(iop.field, iop.stats)
                frames.append(iop.frame.select(
                    "doc_id", F.lit(i).alias("__ti"),
                    self._leaf_score(iop.field, c).alias("__s"),
                    "doc_len", F.lit(iop.field).alias("field"),
                ))
            leaves.append((arg.field, p_def))

        walk(node)
        for fld, rows in terms.items():
            frames.append(self.term_scan(fld, rows, ("__c double",)).select(
                "doc_id", "__ti", self._leaf_score(fld, F.col("__c")).alias("__s"),
                "doc_len", "field",
            ))

        fields = sorted({f for f, _ in leaves})
        aggs = [F.map_from_entries(F.collect_list(F.struct("__ti", "__s"))).alias("__m")]
        if indri:
            aggs += [
                F.max(F.when(F.col("field") == f, F.col("doc_len"))).alias(f"__dl{j}")
                for j, f in enumerate(fields)
            ]
        g = _union(frames).groupBy("doc_id").agg(*aggs)
        dl = {}
        for j, f in enumerate(fields if indri else ()):
            dl[f] = F.col(f"__dl{j}")
            if len(fields) > 1:
                ds = self.index.doc_stats.where(F.col("field") == f).select(
                    "doc_id", F.col("doc_len").alias(f"__ds{j}")
                )
                g = g.join(ds, on="doc_id", how="left")
                dl[f] = F.coalesce(dl[f], F.col(f"__ds{j}"), F.lit(0))

        def leaf_col(i, fld, p_def):
            s = F.element_at(F.col("__m"), i)
            if indri:  # a missing leaf scores its default at the doc length
                s = F.coalesce(s, self._indri(F.lit(0.0), dl[fld].cast("double"), p_def))
            return s

        cols = iter([leaf_col(i, f, p) for i, (f, p) in enumerate(leaves)])

        def tree(n):
            return next(cols) if n.op == "score" else self._combine(n, [tree(a) for a in n.args])

        out = g.select("doc_id", tree(node).cast("double").alias("score"))
        # Indri scores every grouped doc: each one matched some leaf
        return out if indri else out.where(F.col("score").isNotNull())

    # -- flat scorers: items [(qid, node)] -> (qid, doc_id, score) ------

    def _bm25_flat(self, items: list) -> DataFrame:
        """BM25 bag of words: per field ONE term-IN scan scores every
        (qid, arg) row with its term's idf; one groupBy(qid, doc_id)
        folds the (arg index, score) pairs in ascending arg order, NOT
        in arrival order — a plain ``sum`` would accumulate in
        shuffle-dependent order and %.18f run files would differ across
        runs. Each row's float ops are the leaf formula, so the fold is
        bit-identical to the tree scorer's ``#SUM`` (``+ 0.0`` for a
        missing term is exact) and to the SQL oracle. A missing term
        adds no row: its BM25 score is 0."""
        by_field: dict[str, list] = {}
        for qid, node in items:
            for i, t in enumerate(_bow_terms(node)):
                by_field.setdefault(t.field, []).append((qid, i, t.term))
        frames = []
        for fld, qt in by_field.items():
            rows = [
                (qid, i, term, self._leaf_consts(fld, lambda: self._stats(term, fld))[0])
                for qid, i, term in qt
            ]
            frames.append(
                self.term_scan(fld, rows, ("__idf double",)).select(
                    "qid", "doc_id", "__ti", self._leaf_score(fld, F.col("__idf")).alias("score")
                )
            )
        return _union(frames).groupBy("qid", "doc_id").agg(
            F.expr(
                "aggregate(array_sort(collect_list(struct(__ti, score))), "
                "cast(0.0 as double), (acc, x) -> acc + x.score)"
            ).alias("score")
        )

    def _bm25_positional(self, items: list) -> DataFrame:
        """BM25 ``#SCORE`` of a ``#NEAR``/``#WINDOW``. BM25's idf
        needs each query's df over the merged list (QrySopScore's
        materialize-then-score, QryIop.java:174-190): the merge of
        every query is collected once (``local_frame``), its per-qid
        row counts are the dfs, and the scores read the same rows."""
        iops = [(qid, node.args[0]) for qid, node in items]
        table, merged = local_frame(self._positional(iops).drop("positions"))
        dfs = Counter(table["qid"].to_pylist())
        consts = []
        for qid, iop in iops:
            avg = self.index.avg_len(iop.field)
            consts.append((qid, self._idf(dfs[qid], avg), avg))
        fr, c = self._with_meta(merged, consts, ("__idf double", "__avg double"))
        return fr.select("qid", "doc_id", self._bm25(c["__idf"], c["__avg"]).alias("score"))

    def _indri_flat(self, items: list) -> DataFrame:
        """Flat Indri #AND/#OR/#WAND/#WSUM: per field ONE term-IN scan
        scores each (qid, arg) row with the leaf formula; per (qid,
        doc_id) the (arg index -> score) map reassembles, and a missing
        arg falls back to its default score at the doc length carried
        by any present arg's row (same field). The op's fold is the tree
        scorer's (``_indri_fold``), so scores are bit-identical — the
        Indri gate oracles pin this."""
        frames = []
        for fld, f_items in _by_field(items, lambda n: flat_terms(n)[0].field).items():
            qt, meta = [], []
            for qid, node in f_items:
                terms = flat_terms(node)
                pdefs = []
                for i, t in enumerate(terms):
                    p, p_def = self._leaf_consts(fld, lambda: self._stats(t.term, fld))
                    qt.append((qid, i, t.term, p))
                    pdefs.append(p_def)
                w = list(node.weights) if node.weights else [1.0] * len(terms)
                meta.append((qid, node.op, len(terms), pdefs, w, sum(w)))
            g = (
                self.term_scan(fld, qt, ("__p double",))
                .select("qid", "doc_id", "__ti",
                        self._leaf_score(fld, F.col("__p")).alias("__s"), "doc_len")
                .groupBy("qid", "doc_id")
                .agg(
                    F.map_from_entries(F.collect_list(F.struct("__ti", "__s"))).alias("__m"),
                    F.max("doc_len").alias("__gdl"),
                )
            )
            g, c = self._with_meta(
                g, meta,
                ("__op string", "__k int", "__pdefs array<double>", "__w array<double>",
                 "__total double"),
            )
            dl = F.col("__gdl").cast("double")

            def eff(i):
                p_def = F.element_at(F.lit(c["__pdefs"]), i + 1)
                return F.coalesce(
                    F.element_at(F.col("__m"), i), self._indri(F.lit(0.0), dl, p_def)
                )

            score = _indri_fold(c["__op"], c["__k"], c["__w"], c["__total"], eff)
            frames.append(g.select("qid", "doc_id", score.cast("double").alias("score")))
        return _union(frames)

    def _bool_flat(self, items: list) -> DataFrame:
        """Flat Boolean ops: per field ONE term-IN scan, one groupBy(qid,
        doc_id) collecting tf. match-ALL (#AND/#WAND/#WSUM) keeps docs
        holding every arg, scored by the min tf; #OR scores the max
        (QrySopAnd/Or); UnrankedBoolean scores 1.0. min/max are
        order-exact, so scores equal the tree scorer's."""
        unranked = isinstance(self.model, UnrankedBoolean)
        frames = []
        by_field = _by_field(items, lambda n: flat_terms(n)[0].field)
        for fld, f_items in by_field.items():
            qt = [
                (qid, i, t.term) for qid, node in f_items for i, t in enumerate(flat_terms(node))
            ]
            g = (
                self.term_scan(fld, qt)
                .groupBy("qid", "doc_id")
                .agg(F.collect_list(F.col("tf").cast("double")).alias("__tfs"))
            )
            g, c = self._with_meta(
                g,
                [(qid, node.op != "or", len(node.args)) for qid, node in f_items],
                ("__all boolean", "__k int"),
            )
            match_all = F.lit(c["__all"])
            g = g.where(~match_all | (F.size("__tfs") == F.lit(c["__k"])))
            score = (
                F.lit(1.0)
                if unranked
                else F.when(match_all, F.array_min("__tfs")).otherwise(F.array_max("__tfs"))
            )
            frames.append(g.select("qid", "doc_id", score.cast("double").alias("score")))
        return _union(frames)

    # -- shared leaf formulas --------------------------------------------

    def _stats(self, term: str, fld: str) -> tuple[int, int]:
        """A prefetched term's (df, ctf); (0, 0) for an unknown term."""
        return self.term_stats.get((term, fld), (0, 0))

    def _leaf_consts(self, fld: str, stats) -> tuple:
        """(row constant, Indri default p) of a ``#SCORE`` leaf over
        ``fld``, from its lazy ``stats() -> (df, ctf)``: BM25's idf;
        Indri's p = ctf/collen and p_def from ctf<1 -> 0.5
        (getDefaultScore), both 0 over an empty field. Boolean leaves
        need neither, so a derived leaf runs no stats job."""
        m = self.model
        if isinstance(m, BM25):
            return self._idf(stats()[0], self.index.avg_len(fld)), None
        if isinstance(m, Indri):
            ctf, collen = stats()[1], float(self.index.sum_len(fld))
            if collen == 0:
                return 0.0, 0.0
            return ctf / collen, (float(ctf) if ctf >= 1.0 else 0.5) / collen
        return None, None

    def _leaf_score(self, fld: str, c) -> Column:
        """Leaf score of posting rows ``(tf, doc_len)`` over ``fld`` with
        the leaf's row constant ``c`` (a value or a Column)."""
        m = self.model
        tf = F.col("tf").cast("double")
        if isinstance(m, UnrankedBoolean):
            return F.lit(1.0)
        if isinstance(m, RankedBoolean):
            return tf  # QrySopScore.getScoreRankedBoolean
        if isinstance(m, BM25):
            return self._bm25(c, self.index.avg_len(fld))
        if isinstance(m, Indri):
            return self._indri(tf, F.col("doc_len").cast("double"), c)
        raise ValueError(f"unknown model {m!r}")

    def _idf(self, df: int, avg: float) -> float:
        """max(0, ln((N-df+.5)/(df+.5))) (QrySopScore.java:114-133)."""
        n = float(self.index.n_docs)
        return max(0.0, math.log((n - df + 0.5) / (df + 0.5))) if avg > 0 else 0.0

    def _bm25(self, idf, avg) -> Column:
        """idf * tf/(tf+k1*(1-b+b*len/avglen)); k3 read but unused."""
        m = self.model
        tf = F.col("tf").cast("double")
        denom = tf + F.lit(m.k1) * (
            F.lit(1.0 - m.b) + F.lit(m.b) * F.col("doc_len") / F.lit(avg)
        )
        return F.lit(idf) * tf / denom

    def _indri(self, tf: Column, dl: Column, p) -> Column:
        """(1-λ)(tf+μp)/(len+μ) + λp (QrySopScore.getScoreIndri); the
        default score is tf=0 with p from ctf<1 -> 0.5 (getDefaultScore)."""
        m = self.model
        p = F.lit(p)
        return (
            F.lit(1.0 - m.lam) * (tf + F.lit(m.mu) * p) / (dl + F.lit(m.mu))
            + F.lit(m.lam) * p
        )

    # -- score expressions ---------------------------------------------

    def _combine(self, node, s: list[Column]) -> Column:
        """Score Column of a non-leaf op over its args' Columns ``s``, in
        arg order; null where the op does not match the doc.

        Match-ALL ops (#AND/#WAND/#WSUM outside Indri) are null unless
        every arg is non-null, match-MIN ops (#OR, #SUM) unless some arg
        is (QrySop*.docIteratorHasMatchAll/MatchMin). An Indri arg is
        never null — a missing leaf is its default score — so every
        Indri op is match-MIN."""
        m, op, k = self.model, node.op, len(s)

        def match(every: bool, expr: Column) -> Column:
            cond = s[0].isNotNull()
            for x in s[1:]:
                cond = (cond & x.isNotNull()) if every else (cond | x.isNotNull())
            return F.when(cond, expr)

        if isinstance(m, UnrankedBoolean):
            if op in ("and", "or", "wand", "wsum"):
                return match(op != "or", F.lit(1.0))
            raise ValueError(f"#{op} unsupported under UnrankedBoolean")

        if isinstance(m, RankedBoolean):
            # AND/WAND/WSUM: min over args (QrySopAnd.java:61-71,
            # QrySopWAnd.java:72-81, QrySopWSum.java:73-82); OR: max over
            # matching args (QrySopOr.java:61-73).
            if op in ("and", "wand", "wsum"):
                return match(True, F.least(*s) if k > 1 else s[0])
            if op == "or":
                return match(False, F.greatest(*s) if k > 1 else s[0])
            raise ValueError(f"#{op} unsupported under RankedBoolean")

        if isinstance(m, BM25):
            # SUM: sum over matching args (QrySopSum.java:44-52).
            # WSUM under BM25 ignores weights and sums matching args,
            # with match-ALL (QrySopWSum.java:116-127) — replicated quirk.
            if op in ("sum", "wsum"):
                expr = F.coalesce(s[0], F.lit(0.0))
                for x in s[1:]:
                    expr = expr + F.coalesce(x, F.lit(0.0))
                return match(op == "wsum", expr)
            raise ValueError(f"#{op} unsupported under BM25 (reference throws too)")

        if isinstance(m, Indri):
            if op in ("and", "or", "wand", "wsum"):
                w = list(node.weights) if node.weights else [1.0] * k
                return _indri_fold(op, k, w, sum(w), lambda i: s[i])
            raise ValueError(f"#{op} unsupported under Indri (reference throws too)")

        raise ValueError(f"unknown model {m!r}")
