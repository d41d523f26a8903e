"""Query AST -> DataFrame plan compiler.

The reference evaluates query trees document-at-a-time with iterator
merges (Qry.java:16-41, QryEval.java:133-138). Here each AST node
compiles to a declarative DataFrame subplan and Catalyst/Tungsten pick
the physical strategy:

- Iop nodes -> positional-postings frames
  ``(doc_id, tf, doc_len, positions)``; a TERM is a pushed-down filter
  on the postings table (partition-prunable by term bucket), NEAR /
  WINDOW are doc_id inner joins + Arrow positional-merge UDFs, SYN is
  a union + groupBy.
- Sop nodes -> score frames ``(doc_id, score)``. Match-ALL combiners
  (Boolean #AND, #WAND/#WSUM outside Indri — Qry.java:255-302) become
  k-way **inner joins** on doc_id; match-MIN combiners (#OR, #SUM,
  all Indri ops — Qry.java:332-355) become k-way **full-outer joins**.
  Joins and score expressions are built strictly in argument order so
  floating-point results are reproducible and bit-comparable with the
  ANSI-SQL oracle.

Indri's default-score semantics (QrySopScore.getDefaultScore — a doc
that misses an argument still contributes a smoothed score that
depends on that argument's ctf and the doc's field length) are
implemented as coalesce-to-computed-default columns over the
full-outer join; every compiled node carries a ``default_fn`` that
builds its default-score expression from per-field doc-length columns.

Corpus scalars (N, avg/sum field length) and per-term df/ctf are
resolved driver-side — one small filtered collect on ``term_stats``
per query (the reference does the same per-term index lookups,
Idx.java:74-77) — and embedded as literals, keeping the scoring
expressions inside whole-stage codegen. Derived operators (NEAR/...)
need their df/ctf computed from the merged list, exactly like the
reference's materialize-then-score discipline (QryIop.java:174-190):
that costs one small Spark action on the (persisted) derived frame,
only when the model actually uses those stats.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

from searchengine_spark.functions.xxh64 import term_bucket
from searchengine_spark.index.build import InvertedIndex
from searchengine_spark.operators.positional import (
    positional_merge_udf,
    syn_union_positions,
)
from searchengine_spark.plans.ast import IopNode, SopNode, TermNode, is_iop
from searchengine_spark.plans.models import BM25, Indri, RankedBoolean, UnrankedBoolean


@dataclass
class IopResult:
    """Compiled positional operator: frame (doc_id, tf, doc_len, positions)."""

    frame: DataFrame
    field: str
    _stats: tuple | None = None  # (df, ctf)
    _persisted: bool = False
    # shared registry (index._temps): persisted derived frames are
    # tracked there so long-lived sessions can trim them — otherwise
    # executor storage grows by one cached NEAR/WINDOW frame per query
    _temps: list | None = None

    def stats(self) -> tuple[int, int]:
        if self._stats is None:
            if not self._persisted:
                self.frame = self.frame.persist()
                self._persisted = True
                if self._temps is not None:
                    self._temps.append(self.frame)
            row = self.frame.agg(
                F.count(F.lit(1)).alias("df"), F.sum("tf").alias("ctf")
            ).first()
            self._stats = (int(row["df"] or 0), int(row["ctf"] or 0))
        return self._stats


@dataclass
class ScoreResult:
    """Compiled score operator.

    ``frame`` holds doc_id, score and (Indri only) ``__dl_<field>``
    doc-length columns for every field under this subtree.
    ``default_fn(dlmap)`` builds the node's default-score Column from
    a {field: doc_len Column} map (Indri only).
    """

    frame: DataFrame
    fields: frozenset
    default_fn: object | None = None


def _dl(f: str) -> str:
    return f"__dl_{f}"


def flat_terms(node) -> list[TermNode] | None:
    """The term args of a *flat* op, else None.

    Flat: #AND/#OR/#WAND/#WSUM over ``#SCORE(term)`` args, or a
    positional op over bare term args — at least two args, all of one
    field, no term repeated. A flat op reads ONE ``term IN (...)``
    postings scan regrouped per doc; this one predicate picks the
    compiler's single-scan strategies and the engine's fused
    ``run_batch`` paths alike."""
    if isinstance(node, SopNode):
        if node.op not in ("and", "or", "wand", "wsum") or not all(
            isinstance(a, SopNode) and a.op == "score" for a in node.args
        ):
            return None
        args = [a.args[0] for a in node.args]
    elif isinstance(node, IopNode):
        args = list(node.args)
    else:
        return None
    if len(args) < 2 or not all(isinstance(a, TermNode) for a in args):
        return None
    fld = args[0].field
    names = [a.term for a in args]
    if any(a.field != fld for a in args) or len(set(names)) != len(names):
        return None
    return args


class Compiler:
    def __init__(self, index: InvertedIndex, model, agg_threshold: int = 1):
        self.index = index
        self.model = model
        self.term_stats: dict[tuple[str, str], tuple[int, int]] = {}
        # bag-of-words #SUM queries longer than this use the batched-scan
        # union+agg physical strategy (ONE term-IN scan per field + one
        # shuffle) instead of k-way joins. The term-order fold makes it
        # bit-identical to the join path (test_agg_strategy pins this),
        # so it is the default for every multi-term query; raise the
        # threshold to force the join shape (plan tests do).
        self.agg_threshold = agg_threshold

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
    # stats prefetch: ONE small filtered collect for all terms in a query
    # ------------------------------------------------------------------

    def _collect_terms(self, node, out):
        if isinstance(node, TermNode):
            out.add((node.term, node.field))
        elif node is not None:
            for a in node.args:
                self._collect_terms(a, out)

    def prefetch_term_stats(self, node) -> None:
        wanted = set()
        self._collect_terms(node, wanted)
        missing = [tf for tf in wanted if tf not in self.term_stats]
        if not missing:
            return
        # term-IN + field-IN push down to the parquet scan (dictionary
        # + min/max row-group skipping); a literal bucket-IN prunes the
        # stats table's partition dirs outright — the old concat_ws key
        # filter was exact but unpushable, so every prefetch read the
        # ENTIRE vocab-sized stats table. Over-selection (term x field
        # cross pairs) is a constant factor; the lookup dict below keeps
        # only the wanted pairs.
        terms = sorted({t for t, _ in missing})
        flds = sorted({f for _, f in missing})
        fr = self.index.term_stats
        cond = F.col("term").isin(terms) & F.col("field").isin(flds)
        if "bucket" in fr.columns and self.index.n_buckets:
            ids = sorted({term_bucket(t, self.index.n_buckets) for t in terms})
            cond = F.col("bucket").isin(ids) & cond
        rows = fr.where(cond).select("term", "field", "df", "ctf").collect()
        found = {(r["term"], r["field"]): (int(r["df"]), int(r["ctf"])) for r in rows}
        for tf in missing:
            self.term_stats[tf] = found.get(tf, (0, 0))

    # ------------------------------------------------------------------
    # Iop compilation
    # ------------------------------------------------------------------

    def compile_iop(self, node, need_positions: bool = True) -> IopResult:
        # need_positions=False when the caller only scores the result
        # (tf/doc_len/stats): the merge kernels skip re-encoding match
        # positions, and #SYN drops its union UDF entirely (pure JVM
        # agg). Nested iop arguments always pass True — their parents
        # consume the position lists.
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
            return IopResult(fr, node.field, _stats=st, _temps=self.index._temps)

        flat = flat_terms(node)
        k = len(node.args)

        if node.op == "syn":
            if flat is not None:
                # ONE term-IN scan feeds the union directly
                u = self._iop_batch_rows(flat).drop("__ti")
            else:
                children = [self.compile_iop(a) for a in node.args]
                u = children[0].frame
                for c in children[1:]:
                    u = u.unionByName(c.frame)
            aggs = [
                F.sum("tf").cast("int").alias("tf"),
                F.max("doc_len").alias("doc_len"),
            ]
            cols = ["doc_id", "tf", "doc_len"]
            if need_positions:
                aggs.append(
                    syn_union_positions(F.collect_list("positions")).alias("positions")
                )
                cols.append("positions")
            fr = u.groupBy("doc_id").agg(*aggs).select(*cols)
            return IopResult(fr, node.field, _temps=self.index._temps)

        # near / window: co-locate the k position lists per doc, then the
        # Arrow merge kernel. Flat distinct-term args: ONE scan + ONE
        # groupBy (map of __ti -> positions, match-ALL via map size);
        # nested args fall back to the k-way inner-join chain.
        if flat is not None:
            rows = self._iop_batch_rows(flat)
            joined = (
                rows.groupBy("doc_id")
                .agg(
                    F.map_from_entries(
                        F.collect_list(F.struct("__ti", "positions"))
                    ).alias("__pm"),
                    F.max("doc_len").alias("doc_len"),
                )
                .where(F.size("__pm") == k)
            )
            pcols = [F.element_at(F.col("__pm"), F.lit(i)) for i in range(k)]
        else:
            children = [self.compile_iop(a) for a in node.args]
            joined = children[0].frame.select(
                "doc_id", "doc_len", F.col("positions").alias("__p0")
            )
            for i, c in enumerate(children[1:], start=1):
                joined = joined.join(
                    c.frame.select("doc_id", F.col("positions").alias(f"__p{i}")),
                    on="doc_id",
                    how="inner",
                )
            pcols = [F.col(f"__p{i}") for i in range(k)]
        merge = positional_merge_udf(node.op, node.dist, k, with_positions=need_positions)
        out_cols = ["doc_id", F.col("__m.tf").alias("tf"), "doc_len"]
        if need_positions:
            out_cols.append(F.col("__m.positions").alias("positions"))
        # project the struct fields BEFORE filtering: a `where` on
        # `__m.tf` followed by a select of `__m.*` duplicates the field
        # accesses into filter and project, and UDF extraction then
        # plans TWO ArrowEvalPython stages — the whole merge ran twice
        # (seen in the 400k PLANS.md). Filtering on the projected alias
        # keeps one Arrow pass.
        fr = (
            joined.withColumn("__m", merge(*pcols))
            .select(*out_cols)
            .where(F.col("tf") > 0)
        )
        return IopResult(fr, node.field, _temps=self.index._temps)

    def _iop_batch_rows(self, terms: list[TermNode]) -> DataFrame:
        """(doc_id, __ti, tf, doc_len, positions) for the distinct terms
        of one field from a single bucket-pruned scan; ``__ti`` is the
        term's arg index."""
        fld = terms[0].field
        names = [t.term for t in terms]
        cond = (F.col("field") == fld) & F.col("term").isin(names)
        bc = self._bucket_cond(names)
        if bc is not None:
            cond = cond & bc
        ti_col = None
        for i, t in enumerate(terms):
            match = F.col("term") == t.term
            ti_col = (
                F.when(match, F.lit(i)) if ti_col is None else ti_col.when(match, F.lit(i))
            )
        return self.index.postings.where(cond).select(
            "doc_id", ti_col.alias("__ti"), "tf", "doc_len", "positions"
        )

    # ------------------------------------------------------------------
    # Sop compilation
    # ------------------------------------------------------------------

    def compile(self, node) -> DataFrame:
        """Top-level: AST -> frame (doc_id long, score double)."""
        if node is None:
            return self.index.spark.createDataFrame([], "doc_id long, score double")
        if is_iop(node):
            node = SopNode("score", (node,))
        self.prefetch_term_stats(node)
        res = self.compile_sop(node)
        return res.frame.select("doc_id", "score")

    def compile_sop(self, node: SopNode) -> ScoreResult:
        m = self.model
        if node.op == "score":
            return self._leaf(node)

        # Scalable path for long bag-of-words BM25: #SUM over pure term
        # leaves is semantically a union + groupBy-sum (missing args
        # contribute 0), ONE shuffle instead of k-1 joins. The join path
        # stays the default for short queries because its fixed operand
        # order is float-reproducible against the SQL oracle.
        if (
            node.op == "sum"
            and isinstance(m, BM25)
            and len(node.args) > self.agg_threshold
            and all(
                a.op == "score" and isinstance(a.args[0], TermNode) for a in node.args
            )
        ):
            return self._sum_by_aggregation(node)

        if isinstance(m, Indri):
            flat = self._indri_flat_strategy(node)
            if flat is not None:
                return flat
        if isinstance(m, (RankedBoolean, UnrankedBoolean)):
            flat = self._bool_flat_strategy(node)
            if flat is not None:
                return flat

        children = [self.compile_sop(a) for a in node.args]
        k = len(children)
        indri = isinstance(m, Indri)

        # Match strategy (QrySop*.docIteratorHasMatch):
        # OR and SUM are match-MIN; AND/WAND/WSUM are match-MIN under
        # Indri, match-ALL otherwise.
        if node.op in ("or", "sum") or indri:
            how = "full_outer"
        else:
            how = "inner"

        def _child_cols(c, i):
            cols = [F.col("doc_id"), F.col("score").alias(f"__s{i}")]
            if indri:  # dl columns only ride along under Indri (defaults)
                cols += [F.col(_dl(f)).alias(f"{_dl(f)}_{i}") for f in sorted(c.fields)]
            return cols

        joined = children[0].frame.select(*_child_cols(children[0], 0))
        for i, c in enumerate(children[1:], start=1):
            joined = joined.join(
                c.frame.select(*_child_cols(c, i)), on="doc_id", how=how
            )

        all_fields = frozenset().union(*[c.fields for c in children])
        dlmap: dict[str, Column] = {}
        if indri:
            # Reassemble one doc-length column per field. With a single
            # field, every surviving doc matched >=1 child, so coalesce
            # across children is total; with mixed fields a doc may have
            # matched no child of some field -> fall back to doc_stats.
            multi = len(all_fields) > 1
            for f in sorted(all_fields):
                cands = [
                    F.col(f"{_dl(f)}_{i}")
                    for i, c in enumerate(children)
                    if f in c.fields
                ]
                if multi:
                    ds = (
                        self.index.doc_stats.where(F.col("field") == f)
                        .select("doc_id", F.col("doc_len").alias(f"__ds_{f}"))
                    )
                    joined = joined.join(ds, on="doc_id", how="left")
                    cands = cands + [F.col(f"__ds_{f}"), F.lit(0)]
                dlmap[f] = F.coalesce(*cands) if len(cands) > 1 else cands[0]

        score, default_fn = self._combine(node, children, dlmap)
        out_cols = [F.col("doc_id"), score.cast("double").alias("score")]
        if indri:
            for f in sorted(all_fields):
                out_cols.append(dlmap[f].alias(_dl(f)))
        return ScoreResult(joined.select(*out_cols), all_fields, default_fn)

    def _sum_by_aggregation(self, node: SopNode) -> ScoreResult:
        """Long bag-of-words BM25 #SUM: ONE postings scan per field with
        ``term IN (...)`` (k-fold less IO than k per-term scans — the
        dominant cost at corpus scale), then one groupBy(doc_id).

        The per-doc sum folds the collected (term_index, score) pairs in
        ascending argument order, NOT in arrival order: a plain ``sum``
        would accumulate in shuffle-dependent order, making %.18f run
        files differ across runs/parallelism. The per-term idf constants
        are selected by a CASE on the term column, so every row's float
        ops are exactly the leaf formula — bit-identical to the
        k-way-join path (interleaved ``+ 0.0`` for missing terms is
        exact in IEEE) and to the SQL oracle."""
        leaves = [(i, a.args[0]) for i, a in enumerate(node.args)]
        by_field: dict[str, list] = {}
        for i, t in leaves:
            by_field.setdefault(t.field, []).append((i, t))

        frames = []
        for fld, items in by_field.items():
            terms = [t.term for _, t in items]
            if len(set(terms)) == len(terms):
                frames.append(self._bm25_batch_scan(fld, items))
            else:
                # duplicate term under one #SUM contributes once per
                # occurrence — fall back to per-leaf frames for this field
                for i, t in items:
                    frames.append(
                        self._leaf(SopNode("score", (t,))).frame.select(
                            "doc_id", F.lit(i).alias("__ti"), F.col("score")
                        )
                    )
        u = frames[0]
        for fr in frames[1:]:
            u = u.unionByName(fr)
        out = u.groupBy("doc_id").agg(
            F.expr(
                "aggregate(array_sort(collect_list(struct(__ti, score))), "
                "cast(0.0 as double), (acc, x) -> acc + x.score)"
            ).alias("score")
        )
        return ScoreResult(out, frozenset(by_field))

    def _indri_flat_strategy(self, node: SopNode) -> ScoreResult | None:
        """Flat single-field Indri #AND/#OR/#WAND/#WSUM over distinct term
        leaves: ONE ``term IN (...)`` scan + ONE groupBy instead of k-1
        full-outer joins. Per-doc, the collected (term_index, score)
        pairs reassemble into a map; a missing term falls back to its
        default-score expression using the doc length carried by any
        present term's row (same field). Every float op replicates the
        join path's operand order, so scores are bit-identical — the
        Indri gate oracles pin this.

        Returns None when ``node`` is not flat (``flat_terms``) or its
        field is empty — the generic join path is the fallback.
        """
        m = self.model
        terms = flat_terms(node)
        if terms is None:
            return None
        fld = terms[0].field
        names = [t.term for t in terms]
        collen = float(self.index.sum_len(fld))
        if collen <= 0:
            return None

        k = len(terms)
        ps, p_defs = [], []
        for t in terms:
            _df, ctf = self.term_stats.get((t.term, fld), (0, 0))
            ps.append(ctf / collen)
            ctf_def = float(ctf) if ctf >= 1.0 else 0.5
            p_defs.append(ctf_def / collen)

        cond = (F.col("field") == fld) & F.col("term").isin(names)
        bc = self._bucket_cond(names)
        if bc is not None:
            cond = cond & bc
        fr = self.index.postings.where(cond)

        tf = F.col("tf").cast("double")
        dl_row = F.col("doc_len").cast("double")
        p_col, ti_col = None, None
        for i, t in enumerate(names):
            match = F.col("term") == t
            p_col = (
                F.when(match, F.lit(ps[i]))
                if p_col is None
                else p_col.when(match, F.lit(ps[i]))
            )
            ti_col = (
                F.when(match, F.lit(i)) if ti_col is None else ti_col.when(match, F.lit(i))
            )
        leaf_score = (
            F.lit(1.0 - m.lam) * (tf + F.lit(m.mu) * p_col) / (dl_row + F.lit(m.mu))
            + F.lit(m.lam) * p_col
        )
        rows = fr.select(
            "doc_id", ti_col.alias("__ti"), leaf_score.alias("__s"), F.col("doc_len")
        )
        grouped = rows.groupBy("doc_id").agg(
            F.map_from_entries(F.collect_list(F.struct("__ti", "__s"))).alias("__m"),
            F.max("doc_len").alias("__gdl"),
        )
        dlc = F.col("__gdl").cast("double")

        def leaf_default(dl_col: Column, i: int) -> Column:
            return (
                F.lit(1.0 - m.lam)
                * (F.lit(0.0) + F.lit(m.mu) * F.lit(p_defs[i]))
                / (dl_col + F.lit(m.mu))
                + F.lit(m.lam) * F.lit(p_defs[i])
            )

        eff = [
            F.coalesce(F.element_at(F.col("__m"), F.lit(i)), leaf_default(dlc, i))
            for i in range(k)
        ]
        weights = list(node.weights) if node.weights else [1.0] * k
        total = sum(weights)

        if node.op == "and":
            prod = eff[0]
            for x in eff[1:]:
                prod = prod * x
            score = F.pow(prod, F.lit(1.0 / k))
        elif node.op == "or":
            prod = F.lit(1.0) - eff[0]
            for x in eff[1:]:
                prod = prod * (F.lit(1.0) - x)
            score = prod
        elif node.op == "wand":
            prod = F.pow(eff[0], F.lit(weights[0] / total))
            for i in range(1, k):
                prod = prod * F.pow(eff[i], F.lit(weights[i] / total))
            score = prod
        else:  # wsum
            score = eff[0] * F.lit(weights[0]) / F.lit(total)
            for i in range(1, k):
                score = score + eff[i] * F.lit(weights[i]) / F.lit(total)

        op = node.op

        def dfn(dlmap, _op=op, _w=weights, _total=total, _k=k):
            d = dlmap[fld].cast("double")
            defs = [leaf_default(d, i) for i in range(_k)]
            if _op == "and":
                prod = defs[0]
                for x in defs[1:]:
                    prod = prod * x
                return F.pow(prod, F.lit(1.0 / _k))
            if _op == "or":
                prod = F.lit(1.0) - defs[0]
                for x in defs[1:]:
                    prod = prod * (F.lit(1.0) - x)
                return prod
            if _op == "wand":
                prod = F.pow(defs[0], F.lit(_w[0] / _total))
                for i in range(1, _k):
                    prod = prod * F.pow(defs[i], F.lit(_w[i] / _total))
                return prod
            acc = defs[0] * F.lit(_w[0]) / F.lit(_total)
            for i in range(1, _k):
                acc = acc + defs[i] * F.lit(_w[i]) / F.lit(_total)
            return acc

        out = grouped.select(
            F.col("doc_id"),
            score.cast("double").alias("score"),
            F.col("__gdl").alias(_dl(fld)),
        )
        return ScoreResult(out, frozenset([fld]), dfn)

    def _bool_flat_strategy(self, node: SopNode) -> ScoreResult | None:
        """Flat Boolean ops over distinct same-field term leaves: one
        scan + one groupBy. match-ALL (#AND/#WAND/#WSUM) filters on the
        per-doc matched-term count; scores are min/max over the
        reassembled tf map — identical values to the join path (min/max
        are order-exact)."""
        m = self.model
        terms = flat_terms(node)
        if terms is None:
            return None
        fld = terms[0].field
        k = len(terms)

        rows = self._iop_batch_rows(terms).select(
            "doc_id", "__ti", F.col("tf").cast("double").alias("__s")
        )
        g = rows.groupBy("doc_id").agg(
            F.map_from_entries(F.collect_list(F.struct("__ti", "__s"))).alias("__m")
        )
        match_all = node.op != "or"
        if match_all:
            g = g.where(F.size("__m") == k)
        e = [F.element_at(F.col("__m"), F.lit(i)) for i in range(k)]
        if isinstance(m, UnrankedBoolean):
            score = F.lit(1.0)
        elif match_all:
            # QrySopAnd/WAnd/WSum: min over args
            score = F.least(*e)
        else:
            cs = [F.coalesce(x, F.lit(0.0)) for x in e]
            score = F.greatest(*cs)
        out = g.select("doc_id", score.cast("double").alias("score"))
        return ScoreResult(out, frozenset([fld]))

    def _bm25_batch_scan(self, fld: str, items: list) -> DataFrame:
        """(doc_id, __ti, score) for several distinct terms of one field
        from a single pushed-down scan. Bucket pruning still applies: the
        OR of constant-foldable per-term bucket equalities prunes to the
        union of the terms' bucket directories."""
        m = self.model
        terms = [t.term for _, t in items]
        cond = (F.col("field") == fld) & F.col("term").isin(terms)
        bc = self._bucket_cond(terms)
        if bc is not None:
            cond = cond & bc
        fr = self.index.postings.where(cond)

        n = float(self.index.n_docs)
        avg = self.index.avg_len(fld)
        tf = F.col("tf").cast("double")
        denom = tf + F.lit(m.k1) * (
            F.lit(1.0 - m.b) + F.lit(m.b) * F.col("doc_len") / F.lit(avg)
        )
        idf_col, ti_col = None, None
        for i, t in items:
            df, _ctf = self.term_stats.get((t.term, fld), (0, 0))
            idf = max(0.0, math.log((n - df + 0.5) / (df + 0.5))) if avg > 0 else 0.0
            match = F.col("term") == t.term
            idf_col = (
                F.when(match, F.lit(idf))
                if idf_col is None
                else idf_col.when(match, F.lit(idf))
            )
            ti_col = (
                F.when(match, F.lit(i)) if ti_col is None else ti_col.when(match, F.lit(i))
            )
        return fr.select(
            "doc_id",
            ti_col.alias("__ti"),
            (idf_col * tf / denom).alias("score"),
        )

    # -- score expressions ---------------------------------------------

    def _combine(self, node, children, dlmap):
        """Score Column + default_fn for a non-leaf Sop (arg order preserved)."""
        m = self.model
        k = len(children)
        op = node.op
        s = [F.col(f"__s{i}") for i in range(k)]

        if isinstance(m, UnrankedBoolean):
            if op in ("and", "or", "wand", "wsum"):
                return F.lit(1.0), None
            raise ValueError(f"#{op} unsupported under UnrankedBoolean")

        if isinstance(m, RankedBoolean):
            # AND/WAND/WSUM: min over args (QrySopAnd.java:61-71,
            # QrySopWAnd.java:72-81, QrySopWSum.java:73-82); OR: max over
            # matching args (QrySopOr.java:61-73).
            if op in ("and", "wand", "wsum"):
                return F.least(*s) if k > 1 else s[0], None
            if op == "or":
                cs = [F.coalesce(x, F.lit(0.0)) for x in s]
                return F.greatest(*cs) if k > 1 else cs[0], None
            raise ValueError(f"#{op} unsupported under RankedBoolean")

        if isinstance(m, BM25):
            # SUM: sum over matching args (QrySopSum.java:44-52).
            # WSUM under BM25 ignores weights and sums matching args,
            # with match-ALL (QrySopWSum.java:116-127) — replicated quirk.
            if op == "sum":
                expr = F.coalesce(s[0], F.lit(0.0))
                for x in s[1:]:
                    expr = expr + F.coalesce(x, F.lit(0.0))
                return expr, None
            if op == "wsum":
                expr = s[0]
                for x in s[1:]:
                    expr = expr + x
                return expr, None
            raise ValueError(f"#{op} unsupported under BM25 (reference throws too)")

        if isinstance(m, Indri):
            weights = list(node.weights) if node.weights else [1.0] * k
            total = sum(weights)
            eff = [
                F.coalesce(s[i], children[i].default_fn(dlmap)) for i in range(k)
            ]

            def _dfn_factory():
                if op == "and":
                    def dfn(dl):
                        prod = children[0].default_fn(dl)
                        for c in children[1:]:
                            prod = prod * c.default_fn(dl)
                        return F.pow(prod, F.lit(1.0 / k))
                    return dfn
                if op == "or":
                    def dfn(dl):
                        prod = F.lit(1.0) - children[0].default_fn(dl)
                        for c in children[1:]:
                            prod = prod * (F.lit(1.0) - c.default_fn(dl))
                        return prod
                    return dfn
                if op == "wand":
                    def dfn(dl):
                        prod = F.pow(children[0].default_fn(dl), F.lit(weights[0] / total))
                        for i, c in enumerate(children[1:], start=1):
                            prod = prod * F.pow(c.default_fn(dl), F.lit(weights[i] / total))
                        return prod
                    return dfn
                if op == "wsum":
                    def dfn(dl):
                        acc = children[0].default_fn(dl) * F.lit(weights[0]) / F.lit(total)
                        for i, c in enumerate(children[1:], start=1):
                            acc = acc + c.default_fn(dl) * F.lit(weights[i]) / F.lit(total)
                        return acc
                    return dfn
                return None

            if op == "and":
                # geometric mean w/ defaults (QrySopAnd.java:73-91)
                prod = eff[0]
                for x in eff[1:]:
                    prod = prod * x
                return F.pow(prod, F.lit(1.0 / k)), _dfn_factory()
            if op == "or":
                # as-implemented reference quirk: returns prod(1 - s_i)
                # WITHOUT the final complement (QrySopOr.java:75-87)
                prod = F.lit(1.0) - eff[0]
                for x in eff[1:]:
                    prod = prod * (F.lit(1.0) - x)
                return prod, _dfn_factory()
            if op == "wand":
                # weighted geometric mean (QrySopWAnd.java:82-98)
                prod = F.pow(eff[0], F.lit(weights[0] / total))
                for i in range(1, k):
                    prod = prod * F.pow(eff[i], F.lit(weights[i] / total))
                return prod, _dfn_factory()
            if op == "wsum":
                # weighted arithmetic mean (QrySopWSum.java:83-100);
                # expression shape (s*w)/total matches the reference's
                # evaluation order for float reproducibility
                acc = eff[0] * F.lit(weights[0]) / F.lit(total)
                for i in range(1, k):
                    acc = acc + eff[i] * F.lit(weights[i]) / F.lit(total)
                return acc, _dfn_factory()
            raise ValueError(f"#{op} unsupported under Indri (reference throws too)")

        raise ValueError(f"unknown model {m!r}")

    # -- leaf (#SCORE) ----------------------------------------------------

    def _leaf(self, node: SopNode) -> ScoreResult:
        m = self.model
        iop = self.compile_iop(node.args[0], need_positions=False)
        f = iop.field
        fr = iop.frame

        if isinstance(m, UnrankedBoolean):
            out = fr.select("doc_id", F.lit(1.0).alias("score"))
            return ScoreResult(out, frozenset([f]))

        if isinstance(m, RankedBoolean):
            # score = tf (QrySopScore.getScoreRankedBoolean)
            out = fr.select("doc_id", F.col("tf").cast("double").alias("score"))
            return ScoreResult(out, frozenset([f]))

        if isinstance(m, BM25):
            # max(0, ln((N-df+.5)/(df+.5))) * tf/(tf+k1*(1-b+b*len/avglen))
            # (QrySopScore.java:114-133; k3 read but unused)
            df, _ctf = iop.stats()
            n = float(self.index.n_docs)
            avg = self.index.avg_len(f)
            idf = max(0.0, math.log((n - df + 0.5) / (df + 0.5))) if avg > 0 else 0.0
            tf = F.col("tf").cast("double")
            denom = tf + F.lit(m.k1) * (
                F.lit(1.0 - m.b) + F.lit(m.b) * F.col("doc_len") / F.lit(avg)
            )
            out = fr.select("doc_id", (F.lit(idf) * tf / denom).alias("score"))
            return ScoreResult(out, frozenset([f]))

        if isinstance(m, Indri):
            # (1-λ)(tf+μp)/(len+μ) + λp, p = ctf/collen
            # (QrySopScore.getScoreIndri); default: tf=0, ctf<1 -> 0.5
            # (getDefaultScore)
            _df, ctf = iop.stats()
            collen = float(self.index.sum_len(f))
            p = (ctf / collen) if collen > 0 else 0.0
            ctf_def = float(ctf) if ctf >= 1.0 else 0.5
            p_def = (ctf_def / collen) if collen > 0 else 0.0
            tf = F.col("tf").cast("double")
            dl = F.col("doc_len").cast("double")
            score = (
                F.lit(1.0 - m.lam) * (tf + F.lit(m.mu) * F.lit(p)) / (dl + F.lit(m.mu))
                + F.lit(m.lam) * F.lit(p)
            )
            out = fr.select(
                "doc_id", score.alias("score"), F.col("doc_len").alias(_dl(f))
            )

            def default_fn(dlmap, _mu=m.mu, _lam=m.lam, _p=p_def):
                dlc = dlmap[f].cast("double")
                return (
                    F.lit(1.0 - _lam)
                    * (F.lit(0.0) + F.lit(_mu) * F.lit(_p))
                    / (dlc + F.lit(_mu))
                    + F.lit(_lam) * F.lit(_p)
                )

            return ScoreResult(out, frozenset([f]), default_fn)

        raise ValueError(f"unknown model {m!r}")
