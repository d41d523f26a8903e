"""Query AST -> DataFrame plan compiler.

The reference evaluates each query of a ``qid:query`` file
document-at-a-time over its query tree (QryEval.java:152-195,
Qry.java:16-41). Here ONE scorer, ``Compiler.score_tree``, compiles a
batch of trees ``[(qid, node)]`` into one DataFrame plan; ``compile``
is the batch of one. The ``#SCORE`` leaves of every tree are scored
row by row with the leaf formula:

- term leaves from ONE bucket-pruned ``term IN (...)`` postings scan per
  field (``term_scan``), tagged per (qid, leaf);
- ``#NEAR``/``#WINDOW`` leaves from ONE Arrow positional merge per field
  (``_positional``: their args' rows from ``_arg_rows``, the term args
  from one scan per field and each nested arg from its own frame, then
  groupBy(qid, leaf, doc_id), keep the docs holding every arg) — the
  reference's match-ALL merge over its args (QryIopNear.java:27-83);
  ``#SYN`` leaves from one groupBy per field (``_syn``). When the model
  needs their df/ctf (BM25, Indri), all derived lists of the batch are
  collected once to the driver (``session.local_frame``), counted per
  (qid, leaf), and scored from the same rows — the reference's
  materialize-then-score discipline (QryIop.java:174-190). No frame is
  cached.

One groupBy(qid, doc_id) gathers each doc's (leaf -> score) map, and
one Column folds it up the tree (``_combine``, in argument order).
Match-ALL ops (Boolean #AND, #WAND/#WSUM outside Indri —
Qry.java:255-302) are null unless every arg matches, match-MIN ops
(#OR, #SUM, all Indri ops — Qry.java:332-355) unless some arg does.
Indri's default score (QrySopScore.getDefaultScore: a doc that misses
an argument still gets a smoothed score from that argument's ctf and
the doc's field length) stands in for every missing leaf. Trees of one
shape (ops, arities, leaf fields) share one Column; a batch of several
shapes picks each qid's with a CASE on the qid.

Per-query numbers (idf, Indri p and defaults, weights, operator
distances) reach the rows the same way for one query and a batch: one
map literal per key -> values table (``session.map_literal``), read
with ``element_at`` on the row's term (``term_scan``) or its qid or
(qid, leaf) (``_with_meta``). No constants table is built or joined,
and since generated code references a map literal rather than inlining
its values, a fresh query of a shape already run compiles no classes.
Score expressions are built strictly in argument order, so
floating-point results are reproducible, equal for a query alone and
in a batch, and bit-comparable with the ANSI-SQL oracle.

Corpus scalars (N, avg/sum field length) and per-term df/ctf are
resolved driver-side. df/ctf come from one term-dictionary lookup per
call (``prefetch_term_stats`` -> ``InvertedIndex.lookup_term_stats``;
the reference does the same per-term index lookups, Idx.java:74-77):
for a persisted index a pyarrow read of the query buckets'
``term_stats`` files in the committed generations, with no Spark job.
"""

from __future__ import annotations

import itertools
import math
from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

from searchengine_spark.functions.xxh64 import term_bucket
from searchengine_spark.index.build import InvertedIndex
from searchengine_spark.operators.positional import positional_merge
from searchengine_spark.plans.ast import SopNode, TermNode, is_iop
from searchengine_spark.plans.models import BM25, Indri, RankedBoolean, UnrankedBoolean
from searchengine_spark.session import arrow_frame, local_frame, map_literal


def _leaves(node):
    """The args of ``node``'s ``#SCORE`` leaves, in depth-first arg order."""
    if node.op == "score":
        yield node.args[0]
    else:
        for a in node.args:
            yield from _leaves(a)


def _shape(node) -> tuple:
    """What a tree's score Column depends on: its ops, arities and leaf
    fields — not its terms, weights or Indri defaults."""
    if node.op == "score":
        return ("score", node.args[0].field)
    return (node.op, tuple(_shape(a) for a in node.args))


def _union(frames: list[DataFrame]) -> DataFrame:
    u = frames[0]
    for fr in frames[1:]:
        u = u.unionByName(fr, allowMissingColumns=True)
    return u


def _merge(frame: DataFrame, positions: Column, kind: Column, dist: Column) -> DataFrame:
    """Run the positional merge UDF over ``positions`` (array<array<int>>,
    arg order) -> (qid, __li, doc_id, tf, doc_len, positions), tf > 0."""
    cols = ["qid", "__li", "doc_id", F.col("__m.tf").alias("tf"), "doc_len",
            F.col("__m.positions").alias("positions")]
    # project the struct fields BEFORE filtering: a `where` on
    # `__m.tf` followed by a select of `__m.*` duplicates the field
    # accesses into filter and project, and UDF extraction then plans
    # TWO ArrowEvalPython stages — the whole merge ran twice (seen in
    # the 400k PLANS.md). Filtering on the projected alias keeps one
    # Arrow pass.
    return (
        frame.withColumn("__m", positional_merge(positions, kind, dist))
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
    # how per-query constants reach the rows
    # ------------------------------------------------------------------

    def term_scan(self, fld: str, rows: list[tuple], consts: tuple = ()) -> DataFrame:
        """Postings of one field's query terms from ONE bucket-pruned
        ``term IN (...)`` scan, tagged per query arg.

        ``rows`` holds one ``(qid, ti, term, *values)`` per arg and
        ``consts`` the values' ``"name type"`` columns. Each posting
        comes out once per arg naming its term, with ``qid``, ``__ti``
        and the constants: the ``inline`` of its term's array in one
        ``map_literal`` term -> array<struct<qid, __ti, *consts>>, for
        one query and a batch alike. No table is built or joined, and
        the scan count stays one per field whatever the batch size."""
        terms = sorted({r[2] for r in rows})
        cond = (F.col("field") == fld) & F.col("term").isin(terms)
        bc = self._bucket_cond(terms)
        if bc is not None:
            cond = cond & bc
        names = [c.split()[0] for c in consts]
        by_term: dict[str, list[dict]] = {}
        for q, ti, t, *vals in rows:
            by_term.setdefault(t, []).append({"qid": q, "__ti": ti, **dict(zip(names, vals))})
        entry = ", ".join(["qid string", "__ti int", *consts])
        args = map_literal(by_term.items(), "string", f"array<struct<{entry}>>")
        return self.index.postings.where(cond).select(
            "*", F.inline(F.element_at(args, F.col("term")))
        )

    def _with_meta(self, frame: DataFrame, rows: list[tuple], cols: tuple,
                   keys: tuple = ("qid string",)):
        """Per-key constants ``rows`` = ``[(*key, *values)]`` (``keys``,
        ``cols``: their ``"name type"``) for a frame keyed by ``keys``
        (the qid, or the qid and a leaf) -> (frame, {name: Column}).

        The frame gains ``__meta``, its row's struct of values looked up
        once in one ``map_literal`` keyed by a struct of ``keys``; each
        Column reads a field of it."""
        nk = len(keys)
        on = [k.split()[0] for k in keys]
        names = [c.split()[0] for c in cols]
        meta = map_literal(
            [(dict(zip(on, r[:nk])), dict(zip(names, r[nk:]))) for r in rows],
            f"struct<{', '.join(keys)}>", f"struct<{', '.join(cols)}>",
        )
        frame = frame.withColumn("__meta", F.element_at(meta, F.struct(*on)))
        return frame, {n: F.col(f"__meta.{n}") for n in names}

    # ------------------------------------------------------------------
    # derived lists: items [(qid, leaf, iop)] over one field
    # ------------------------------------------------------------------

    def _arg_rows(self, fld: str, items: list) -> DataFrame:
        """(qid, __li, __ti, doc_id, tf, doc_len, positions): a row per
        doc holding arg ``__ti`` of the Iop of leaf ``__li`` of
        ``items`` ``[(qid, li, iop)]``, all over ``fld``. The term args
        of every item come from ONE ``term_scan`` (a repeated term
        yields a row per arg), each nested arg from its own frame."""
        cols = ("doc_id", "tf", "doc_len", "positions")
        qt, frames = [], []
        for qid, li, iop in items:
            for i, a in enumerate(iop.args):
                if isinstance(a, TermNode):
                    qt.append((qid, i, a.term, li))
                else:
                    derive = self._syn if a.op == "syn" else self._positional
                    frames.append(derive(a.field, [(qid, li, a)]).select(
                        "qid", "__li", F.lit(i).alias("__ti"), *cols
                    ))
        if qt:
            frames.insert(0, self.term_scan(fld, qt, ("__li int",)).select(
                "qid", "__li", "__ti", *cols
            ))
        return _union(frames)

    def _syn(self, fld: str, items: list) -> DataFrame:
        """(qid, __li, doc_id, tf, doc_len, positions) of #SYN items:
        their args' rows grouped by (qid, leaf, doc_id). The union is a
        JVM aggregate; a caller that reads only tf/doc_len gets its
        positions pruned by Catalyst."""
        return self._arg_rows(fld, items).groupBy("qid", "__li", "doc_id").agg(
            F.sum("tf").cast("int").alias("tf"),
            F.max("doc_len").alias("doc_len"),
            F.array_sort(F.flatten(F.collect_list("positions"))).alias("positions"),
        )

    def _positional(self, fld: str, items: list) -> DataFrame:
        """(qid, __li, doc_id, tf, doc_len, positions) of #NEAR/#WINDOW
        items: the args' rows (``_arg_rows``), one groupBy(qid, leaf,
        doc_id) collecting the arg-ordered position lists, one Arrow
        merge pass with each leaf's (kind, dist)."""
        g = (
            self._arg_rows(fld, items)
            .groupBy("qid", "__li", "doc_id")
            .agg(
                F.array_sort(F.collect_list(F.struct("__ti", "positions"))).alias("__ps"),
                F.max("doc_len").alias("doc_len"),
            )
        )
        g, c = self._with_meta(
            g,
            [(qid, li, iop.op, int(iop.dist), len(iop.args)) for qid, li, iop in items],
            ("__kind string", "__dist int", "__k int"),
            ("qid string", "__li int"),
        )
        # NEAR/WINDOW match only docs containing EVERY arg
        g = g.where(F.size("__ps") == c["__k"])
        return _merge(g, F.col("__ps.positions"), c["__kind"], c["__dist"])

    # ------------------------------------------------------------------
    # the scorer
    # ------------------------------------------------------------------

    def compile(self, node) -> DataFrame:
        """Top-level: AST -> frame (doc_id long, score double)."""
        if node is None:
            return arrow_frame(self.index.spark, [], "doc_id long, score double")
        return self.score_tree([("", node)]).select("doc_id", "score")

    def score_tree(self, items: list) -> DataFrame:
        """(qid, doc_id, score) of the score trees ``items`` ``[(qid,
        node)]`` (distinct qids), one plan for the whole batch.

        Each tree's ``#SCORE`` leaves, numbered in depth-first arg
        order, are scored row by row with the leaf formula: the term
        leaves of every tree from ONE ``term_scan`` per field (a
        repeated term explodes to one row per leaf), the #NEAR/#WINDOW
        leaves from one ``_positional`` and the #SYN leaves from one
        ``_syn`` per field. One groupBy(qid, doc_id) gathers each doc's
        (leaf -> score) map and, under Indri, its length in every field
        of the batch; ``_tree_col`` folds the map up the tree into one
        Column per shape. An Indri tree over more than one field takes
        a doc's length in a field none of its leaves matched from
        ``doc_stats`` (0 when absent). A batch of one-leaf trees is a
        plain projection of its leaf rows."""
        items = [(q, SopNode("score", (n,)) if is_iop(n) else n) for q, n in items]
        self.prefetch_term_stats(SopNode("sum", tuple(n for _, n in items)))
        indri = isinstance(self.model, Indri)
        terms: dict[str, list] = {}  # field -> [(qid, leaf, term, row constant)]
        iops: dict[str, list] = {}  # field -> [(qid, leaf, iop)]
        p_def: dict[tuple, float] = {}  # (qid, leaf) -> Indri default p
        for qid, node in items:
            for li, arg in enumerate(_leaves(node)):
                if isinstance(arg, TermNode):
                    stats = self._stats(arg.term, arg.field)
                    c, p_def[qid, li] = self._leaf_consts(arg.field, stats)
                    terms.setdefault(arg.field, []).append((qid, li, arg.term, c))
                else:
                    iops.setdefault(arg.field, []).append((qid, li, arg))

        frames = [
            self.term_scan(fld, rows, ("__c double",)).select(
                "qid", "doc_id", "__ti", self._leaf_score(fld, F.col("__c")).alias("__s"),
                "doc_len", "field",
            )
            for fld, rows in terms.items()
        ]
        if iops:
            frames += self._derived_leaves(iops, p_def)
        u = _union(frames)
        if all(n.op == "score" for _, n in items):
            # one leaf per tree: a doc's one row is its score
            return u.select("qid", "doc_id", F.col("__s").alias("score"))

        fields = sorted({a.field for _, n in items for a in _leaves(n)})
        aggs = [F.map_from_entries(F.collect_list(F.struct("__ti", "__s"))).alias("__m")]
        if indri:
            aggs += [
                F.max(F.when(F.col("field") == f, F.col("doc_len"))).alias(f"__dl{j}")
                for j, f in enumerate(fields)
            ]
        g = u.groupBy("qid", "doc_id").agg(*aggs)

        shapes: dict[tuple, tuple] = {}  # shape -> (a tree of that shape, its qids)
        for qid, node in items:
            shapes.setdefault(_shape(node), (node, []))[1].append(qid)
        num = None
        if indri:
            meta = []
            for qid, node in items:
                ps = [p_def[qid, li] for li, _ in enumerate(_leaves(node))]
                meta.append((qid, self._numbers(node, ps)))
            g, c = self._with_meta(g, meta, ("__n array<double>",))
            num = lambda j: F.element_at(c["__n"], j + 1)  # noqa: E731

        # a doc's length in each field: the max over its rows there; a
        # multi-field Indri tree falls back to doc_stats, then 0
        multi = set()
        for node, _ in shapes.values():
            fs = {a.field for a in _leaves(node)}
            if indri and len(fs) > 1:
                multi |= fs
        for f in sorted(multi):
            j = fields.index(f)
            ds = self.index.doc_stats.where(F.col("field") == f).select(
                "doc_id", F.col("doc_len").alias(f"__ds{j}")
            )
            g = g.join(ds, on="doc_id", how="left")

        def column(node) -> Column:
            one_field = len({a.field for a in _leaves(node)}) == 1

            def leaf(i, fld, p):
                s = F.element_at(F.col("__m"), i)
                if indri:  # a missing leaf scores its default at the doc length
                    j = fields.index(fld)
                    dl = F.col(f"__dl{j}")
                    if not one_field:
                        dl = F.coalesce(dl, F.col(f"__ds{j}"), F.lit(0))
                    s = F.coalesce(s, self._indri(F.lit(0.0), dl.cast("double"), p))
                return s

            return self._tree_col(node, leaf, num).cast("double")

        # a batch of several shapes picks each qid's by a CASE on the
        # qid: no per-qid table to join (and broadcast) for BM25/Boolean
        picks = [(F.col("qid").isin(qids), column(node)) for node, qids in shapes.values()]
        score = picks[0][1]
        if len(picks) > 1:
            score = reduce(lambda acc, p: acc.when(*p), picks[1:], F.when(*picks[0]))
        out = g.select("qid", "doc_id", score.alias("score"))
        # Indri scores every grouped doc: each one matched some leaf
        return out if indri else out.where(F.col("score").isNotNull())

    def _derived_leaves(self, iops: dict, p_def: dict) -> list[DataFrame]:
        """Leaf rows (qid, doc_id, __ti, __s, doc_len, field) of the
        #NEAR/#WINDOW/#SYN leaves ``iops`` (field -> [(qid, leaf,
        iop)]); fills in their Indri default p in ``p_def``.

        BM25 and Indri score a derived leaf with its df/ctf over the
        merged list: every list of the batch is collected once
        (``local_frame``), df is a (qid, leaf)'s row count and ctf its
        tf sum, and the scores read the same rows back."""
        frames = []
        for fld, its in iops.items():
            for derive, part in ((self._syn, [x for x in its if x[2].op == "syn"]),
                                 (self._positional, [x for x in its if x[2].op != "syn"])):
                if part:
                    frames.append(derive(fld, part).select(
                        "qid", "__li", "doc_id", "tf", "doc_len", F.lit(fld).alias("field")
                    ))
        rows = _union(frames)
        stats: dict = {}
        scored = isinstance(self.model, (BM25, Indri))
        if scored:
            table, rows = local_frame(rows)
            agg = table.group_by(["qid", "__li"]).aggregate([("tf", "count"), ("tf", "sum")])
            stats = {
                (q, li): (df, ctf) for q, li, df, ctf in zip(
                    *(agg[c].to_pylist() for c in ("qid", "__li", "tf_count", "tf_sum"))
                )
            }
        out = []
        for fld, its in iops.items():
            fr = rows if len(iops) == 1 else rows.where(F.col("field") == fld)
            consts = []
            for qid, li, _ in its:
                c, p_def[qid, li] = self._leaf_consts(fld, stats.get((qid, li), (0, 0)))
                consts.append((qid, li, c))
            c = None
            if scored:
                fr, meta = self._with_meta(fr, consts, ("__c double",), ("qid string", "__li int"))
                c = meta["__c"]
            out.append(fr.select(
                "qid", "doc_id", F.col("__li").alias("__ti"),
                self._leaf_score(fld, c).alias("__s"), "doc_len", "field",
            ))
        return out

    def _numbers(self, node, p_defs: list) -> list[float]:
        """An Indri tree's per-query numbers, in the order ``_tree_col``
        reads them: depth-first, each leaf's default p, and after its
        args each #WAND/#WSUM's weights and their total."""
        out, leaves = [], iter(p_defs)

        def walk(n):
            if n.op == "score":
                out.append(next(leaves))
                return
            for a in n.args:
                walk(a)
            if n.op in ("wand", "wsum"):
                w = list(n.weights) if n.weights else [1.0] * len(n.args)
                out.extend([*w, sum(w)])

        walk(node)
        return out

    def _tree_col(self, node, leaf, num) -> Column:
        """Score Column of ``node``'s shape: leaf ``i`` over ``fld`` is
        ``leaf(i, fld, p_def)``, and the per-query numbers (Indri only)
        are ``num(j)``, taken in ``_numbers`` order."""
        indri = isinstance(self.model, Indri)
        leaves, slots = itertools.count(), itertools.count()

        def tree(n):
            if n.op == "score":
                return leaf(next(leaves), n.args[0].field, num(next(slots)) if indri else None)
            s = [tree(a) for a in n.args]
            if indri and n.op in ("wand", "wsum"):
                w = [num(next(slots)) for _ in s]
                return self._combine(n.op, s, (w, num(next(slots))))
            return self._combine(n.op, s)

        return tree(node)

    def _stats(self, term: str, fld: str) -> tuple[int, int]:
        """A prefetched term's (df, ctf); (0, 0) for an unknown term."""
        return self.term_stats.get((term, fld), (0, 0))

    def _leaf_consts(self, fld: str, stats: tuple[int, int]) -> tuple:
        """(row constant, Indri default p) of a ``#SCORE`` leaf over
        ``fld`` with ``stats`` = (df, ctf): BM25's idf; Indri's p =
        ctf/collen and p_def from ctf<1 -> 0.5 (getDefaultScore), both 0
        over an empty field. Boolean leaves need neither."""
        m = self.model
        if isinstance(m, BM25):
            return self._idf(stats[0], self.index.avg_len(fld)), None
        if isinstance(m, Indri):
            ctf, collen = stats[1], float(self.index.sum_len(fld))
            if collen == 0:
                return 0.0, 0.0
            return ctf / collen, (float(ctf) if ctf >= 1.0 else 0.5) / collen
        return None, None

    def _leaf_score(self, fld: str, c) -> Column:
        """Leaf score of posting rows ``(tf, doc_len)`` over ``fld`` with
        the leaf's row constant Column ``c``."""
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

    def _bm25(self, idf: Column, avg: float) -> Column:
        """idf * tf/(tf+k1*(1-b+b*len/avglen)); k3 read but unused."""
        m = self.model
        tf = F.col("tf").cast("double")
        denom = tf + F.lit(m.k1) * (
            F.lit(1.0 - m.b) + F.lit(m.b) * F.col("doc_len") / F.lit(avg)
        )
        return idf * tf / denom

    def _indri(self, tf: Column, dl: Column, p: Column) -> Column:
        """(1-λ)(tf+μp)/(len+μ) + λp (QrySopScore.getScoreIndri); the
        default score is tf=0 with p from ctf<1 -> 0.5 (getDefaultScore)."""
        m = self.model
        return (
            F.lit(1.0 - m.lam) * (tf + F.lit(m.mu) * p) / (dl + F.lit(m.mu))
            + F.lit(m.lam) * p
        )

    # -- score expressions ---------------------------------------------

    def _combine(self, op: str, s: list[Column], weights=None) -> Column:
        """Score Column of a non-leaf op over its args' Columns ``s``, in
        arg order; null where the op does not match the doc.
        ``weights`` is an Indri #WAND/#WSUM's (per-arg weights, total).

        Match-ALL ops (#AND/#WAND/#WSUM outside Indri) are null unless
        every arg is non-null, match-MIN ops (#OR, #SUM) unless some arg
        is (QrySop*.docIteratorHasMatchAll/MatchMin). An Indri arg is
        never null — a missing leaf is its default score — so every
        Indri op is match-MIN."""
        m, k = self.model, len(s)

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
            one = F.lit(1.0)
            if op == "and":
                # geometric mean w/ defaults (QrySopAnd.java:73-91)
                return F.pow(reduce(lambda acc, x: acc * x, s, one), one / F.lit(k).cast("double"))
            if op == "or":
                # as-implemented reference quirk: prod(1 - s_i) WITHOUT
                # the final complement (QrySopOr.java:75-87)
                return reduce(lambda acc, x: acc * (one - x), s, one)
            if op == "wand":
                # weighted geometric mean (QrySopWAnd.java:82-98)
                w, total = weights
                return reduce(lambda acc, i: acc * F.pow(s[i], w[i] / total), range(k), one)
            if op == "wsum":
                # weighted arithmetic mean (QrySopWSum.java:83-100):
                # (s*w)/total, the reference's evaluation order
                w, total = weights
                return reduce(lambda acc, i: acc + s[i] * w[i] / total, range(k), F.lit(0.0))
            raise ValueError(f"#{op} unsupported under Indri (reference throws too)")

        raise ValueError(f"unknown model {m!r}")
