"""SearchEngine facade — the reference's QryEval loop, Spark-first.

Reference lifecycle (QryEval.java:31-59, 118-195): read params, open
index, per query: wrap with the model's default operator, parse,
optimize, evaluate, sort by (score desc, external id asc), truncate,
write trec lines. Here every step is declarative: parse -> AST ->
DataFrame plan -> TakeOrderedAndProject top-k.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from searchengine_spark.analyzer import get_analyzer
from searchengine_spark.functions.xxh64 import term_bucket
from searchengine_spark.index.build import InvertedIndex
from searchengine_spark.operators.topk import attach_ext_ids, topk, topk_grouped
from searchengine_spark.plans.ast import IopNode, SopNode, TermNode
from searchengine_spark.plans.compiler import Compiler, flat_terms
from searchengine_spark.plans.models import make_model
from searchengine_spark.plans.parser import QueryParser


def _flat_sum_leaves(ast) -> list[TermNode] | None:
    """TermNode leaves when ``ast`` is a bag-of-words BM25 shape —
    ``#SUM`` of ``#SCORE(term)`` args or a single ``#SCORE(term)`` —
    else None (the fused batch path only covers this shape)."""
    if not isinstance(ast, SopNode):
        return None
    if ast.op == "score" and isinstance(ast.args[0], TermNode):
        return [ast.args[0]]
    if ast.op == "sum" and all(
        isinstance(a, SopNode)
        and a.op == "score"
        and isinstance(a.args[0], TermNode)
        for a in ast.args
    ):
        return [a.args[0] for a in ast.args]
    return None


def _flat_positional(ast):
    """The IopNode when ``ast`` is a model-wrapped SINGLE flat positional
    query — ``#SUM(#SCORE(#NEAR/n(t1..tk)))`` (or the unwrapped
    ``#SCORE`` form), flat per ``compiler.flat_terms`` — else None.
    These fuse into one shared postings scan per batch."""
    node = ast
    if isinstance(node, SopNode) and node.op == "sum" and len(node.args) == 1:
        node = node.args[0]
    if not (isinstance(node, SopNode) and node.op == "score"):
        return None
    iop = node.args[0]
    if not isinstance(iop, IopNode) or iop.op not in ("near", "window"):
        return None
    return iop if flat_terms(iop) is not None else None


class SearchEngine:
    def __init__(self, index: InvertedIndex, fields: tuple | None = None):
        self.index = index
        self.fields = tuple(fields) if fields else tuple(index.fields)
        self.analyzer = get_analyzer(index.analyzer)
        self.parser = QueryParser(
            analyzer=self.analyzer,
            fields=self.fields,
            default_field="body" if "body" in self.fields else self.fields[0],
        )
        self._compilers: dict = {}

    # ------------------------------------------------------------------

    def _model(self, model, **params):
        return make_model(model, **params) if isinstance(model, str) else model

    def compiler(self, model) -> Compiler:
        key = model
        if key not in self._compilers:
            comp = Compiler(self.index, model)
            # (term, field) -> (df, ctf) is model-independent: share ONE
            # cache across every compiler this engine creates, so
            # repeated terms across searches/models never re-run the
            # driver-side stats collect (per-query fixed-cost trim,
            # VERDICT r3 item 9)
            if not hasattr(self, "_stats_cache"):
                self._stats_cache = {}
            comp.term_stats = self._stats_cache
            self._compilers[key] = comp
        return self._compilers[key]

    def parse(self, query: str, model) -> object:
        """Wrap with the model default op, parse + optimize -> AST or None."""
        return self.parser.parse(query, default_op=model.default_op)

    def scores(self, query: str, model="bm25", **params) -> DataFrame:
        """Full (doc_id, score) frame for a query (unranked, untruncated)."""
        m = self._model(model, **params)
        ast = self.parse(query, m)
        out = self.compiler(m).compile(ast)
        # derived-operator frames persisted for stats are registered on
        # index._temps; keep only a bounded working set alive
        self.index.trim_temps()
        return out

    def search(
        self,
        query: str,
        model="bm25",
        k: int = 100,
        with_ext_id: bool = True,
        **params,
    ) -> DataFrame:
        """Top-k (doc_id[, ext_id], score, rank), reference tie-break."""
        m = self._model(model, **params)
        ast = self.parse(query, m)
        out = self.compiler(m).compile(ast)
        self.index.trim_temps()
        ranked = topk(out, k)
        if with_ext_id:
            ranked = attach_ext_ids(ranked, self.index.docs).select(
                "doc_id", "ext_id", "score", "rank"
            )
        return ranked.orderBy("rank")

    def run_batch(
        self,
        queries: list[tuple[str, str]],
        model="bm25",
        k: int = 100,
        fused: bool | str = "auto",
        **params,
    ) -> DataFrame:
        """Evaluate (qid, query) pairs -> (qid, doc_id, ext_id, score, rank).

        ``fused="auto"`` (default) compiles every bag-of-words BM25
        query in the batch into ONE plan: a broadcast (qid, term, idf)
        table joined against a single term-IN postings scan, one
        groupBy(qid, doc_id) with the order-fixed fold, one per-qid
        top-k window — batch-size-independent scan count, the shape a
        10k-query batch needs. Scores are bit-identical to the
        per-query path (same leaf float ops, same fold), so rankings
        match exactly. Queries outside the shape (structured operators,
        non-BM25 models) fall back to unioned per-query plans;
        ``fused=False`` forces the union path for everything.
        """
        m = self._model(model, **params)
        comp = self.compiler(m)
        parsed = []
        for qid, q in queries:
            ast = self.parse(q, m)
            if ast is None:
                continue  # empty query (QryEval.java:131)
            parsed.append((qid, ast))
        if parsed:
            # ONE stats collect for every term of every query in the
            # batch — per-query compile()s then hit the compiler's stats
            # cache instead of each running its own driver-side job
            # (SCALING.json showed per-query fixed costs bounding batch
            # scaling at 1.9x from 1->4 cores)
            comp.prefetch_term_stats(SopNode("sum", tuple(a for _, a in parsed)))

        name = getattr(m, "name", "")
        fused_items: list = []
        pos_items: list = []
        rest: list[tuple[str, object]] = []
        if fused and name == "bm25":
            for qid, ast in parsed:
                leaves = _flat_sum_leaves(ast)
                if leaves is not None:
                    fused_items.append((qid, leaves))
                    continue
                iop = _flat_positional(ast)
                if iop is not None:
                    pos_items.append((qid, iop))
                else:
                    rest.append((qid, ast))
        elif fused and name in ("indri", "rankedboolean", "unrankedboolean"):
            for qid, ast in parsed:
                terms = flat_terms(ast) if isinstance(ast, SopNode) else None
                if terms is not None and (
                    name != "indri" or self.index.sum_len(terms[0].field) > 0
                ):
                    weights = list(ast.weights) if ast.weights else None
                    fused_items.append((qid, ast.op, terms, weights))
                else:
                    rest.append((qid, ast))
        else:
            rest = parsed

        frames = []
        if fused_items:
            if name == "bm25":
                frames.append(self._fused_bm25_batch(comp, fused_items, k))
            elif name == "indri":
                frames.append(self._fused_indri_batch(comp, fused_items, k))
            else:
                frames.append(self._fused_bool_batch(comp, fused_items, k))
        if pos_items:
            frames.append(self._fused_bm25_positional_batch(comp, pos_items, k))
        for qid, ast in rest:
            frames.append(topk(comp.compile(ast), k).withColumn("qid", F.lit(qid)))
        if not frames:
            return self.index.spark.createDataFrame(
                [], "qid string, doc_id long, ext_id string, score double, rank int"
            )
        u = frames[0]
        for fr in frames[1:]:
            u = u.unionByName(fr)
        out = attach_ext_ids(u, self.index.docs)
        return out.select("qid", "doc_id", "ext_id", "score", "rank").orderBy(
            "qid", "rank"
        )

    def _terms_scan_cond(self, fld: str, terms: list[str]):
        """Pushed-down scan predicate for a fused batch: term-IN plus a
        literal bucket-IN (resolved with the driver-side XXH64 — zero
        Spark jobs on the compile path — so the partition listing
        prunes no matter how many queries share the scan)."""
        cond = (F.col("field") == fld) & F.col("term").isin(terms)
        if self.index.n_buckets:
            buckets = sorted(
                {term_bucket(t, self.index.n_buckets) for t in terms}
            )
            cond = cond & F.col("bucket").isin(buckets)
        return cond

    def _fused_bm25_batch(
        self, comp: Compiler, items: list[tuple[str, list[TermNode]]], k: int
    ) -> DataFrame:
        """One plan for the whole BM25 bag-of-words batch.

        Per-term idf constants come from ONE driver-side stats collect
        (comp.prefetch_term_stats); the per-(qid, term) rows ship as a
        broadcast table, so the postings scan count is per-FIELD, not
        per-query. Missing terms contribute no row — BM25's absent-term
        score is 0, matching the per-query union of term frames.
        """
        spark = self.index.spark
        m = comp.model
        all_terms = tuple({t for _, leaves in items for t in leaves})
        comp.prefetch_term_stats(SopNode("sum", all_terms))

        n = float(self.index.n_docs)
        by_field: dict[str, list] = {}
        for qid, leaves in items:
            for i, t in enumerate(leaves):
                by_field.setdefault(t.field, []).append((qid, i, t.term))

        frames = []
        for fld, rows in by_field.items():
            avg = self.index.avg_len(fld)
            qt_rows = []
            for qid, i, term in rows:
                df, _ctf = comp.term_stats.get((term, fld), (0, 0))
                idf = (
                    max(0.0, math.log((n - df + 0.5) / (df + 0.5))) if avg > 0 else 0.0
                )
                qt_rows.append((qid, i, term, idf))
            qt = spark.createDataFrame(
                qt_rows, "qid string, __ti int, term string, __idf double"
            )
            terms = sorted({r[2] for r in rows})
            cond = self._terms_scan_cond(fld, terms)
            tf = F.col("tf").cast("double")
            denom = tf + F.lit(m.k1) * (
                F.lit(1.0 - m.b) + F.lit(m.b) * F.col("doc_len") / F.lit(avg)
            )
            frames.append(
                self.index.postings.where(cond)
                .join(F.broadcast(qt), on="term")
                .select(
                    "qid",
                    "doc_id",
                    "__ti",
                    (F.col("__idf") * tf / denom).alias("score"),
                )
            )
        u = frames[0]
        for fr in frames[1:]:
            u = u.unionByName(fr)
        scored = u.groupBy("qid", "doc_id").agg(
            F.expr(
                "aggregate(array_sort(collect_list(struct(__ti, score))), "
                "cast(0.0 as double), (acc, x) -> acc + x.score)"
            ).alias("score")
        )
        return topk_grouped(scored, k).select("qid", "doc_id", "score", "rank")

    def _fused_bm25_positional_batch(
        self, comp: Compiler, items: list, k: int
    ) -> DataFrame:
        """One plan for a batch of BM25 ``#NEAR/n`` / ``#WINDOW/n``
        queries (VERDICT r3 item 5).

        Per field: ONE bucket-pruned term-IN postings scan is shared by
        every query in the batch; a broadcast (qid, term, slot) table
        fans rows out to their queries; one groupBy(qid, doc_id)
        collects the slot-ordered position lists; ONE Arrow pass runs
        each row's merge with that query's (kind, dist) from the
        broadcast params join. The per-query path instead compiles Q
        separate scan+group+merge plans and runs Q stats actions — the
        difference between O(1) and O(Q) jobs for a 10k-query workload.

        BM25 idf for a derived iop needs each query's df over the
        merged postings (QrySopScore semantics): computed for ALL
        queries with one groupBy("qid") action on the persisted merge,
        then joined back as a broadcast — scores stay bit-identical to
        the per-query plans (same merge kernels, same float op order;
        pinned by tests/test_query_engine.py).
        """
        from searchengine_spark.operators.positional import fused_positional_tf_udf

        spark = self.index.spark
        m = comp.model
        by_field: dict[str, list] = {}
        for qid, iop in items:
            by_field.setdefault(iop.args[0].field, []).append((qid, iop))

        merged_frames = []
        for fld, rows in by_field.items():
            qt_rows = [
                (qid, i, t.term)
                for qid, iop in rows
                for i, t in enumerate(iop.args)
            ]
            pr_rows = [
                (qid, 0 if iop.op == "near" else 1, int(iop.dist), len(iop.args))
                for qid, iop in rows
            ]
            qt = spark.createDataFrame(qt_rows, "qid string, __ti int, term string")
            pr = spark.createDataFrame(
                pr_rows, "qid string, __kind int, __dist int, __arity int"
            )
            terms = sorted({r[2] for r in qt_rows})
            cond = self._terms_scan_cond(fld, terms)
            grouped = (
                self.index.postings.where(cond)
                .join(F.broadcast(qt), on="term")
                .groupBy("qid", "doc_id")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("__ti", "positions"))
                    ).alias("__ps"),
                    F.max("doc_len").alias("doc_len"),
                )
                .join(F.broadcast(pr), on="qid")
                # NEAR/WINDOW match only docs containing EVERY arg
                .where(F.size("__ps") == F.col("__arity"))
            )
            merge = fused_positional_tf_udf()
            merged_frames.append(
                grouped.withColumn(
                    "__m", merge(F.col("__ps.positions"), F.col("__kind"), F.col("__dist"))
                )
                .select(
                    "qid",
                    "doc_id",
                    "doc_len",
                    F.col("__m").alias("tf"),
                    F.lit(fld).alias("__fld"),
                )
                .where(F.col("tf") > 0)
            )
        merged = merged_frames[0]
        for fr in merged_frames[1:]:
            merged = merged.unionByName(fr)
        merged = merged.persist()
        if self.index._temps is not None:
            self.index._temps.append(merged)

        # one action computes every query's derived-iop df
        n = float(self.index.n_docs)
        dfs = {
            r["qid"]: int(r["df"])
            for r in merged.groupBy("qid").agg(F.count(F.lit(1)).alias("df")).collect()
        }
        idf_rows = []
        for fld, rows in by_field.items():
            avg = self.index.avg_len(fld)
            for qid, _iop in rows:
                df = dfs.get(qid, 0)
                idf = (
                    max(0.0, math.log((n - df + 0.5) / (df + 0.5))) if avg > 0 else 0.0
                )
                idf_rows.append((qid, idf, avg))
        consts = spark.createDataFrame(
            idf_rows, "qid string, __idf double, __avg double"
        )
        tf = F.col("tf").cast("double")
        denom = tf + F.lit(m.k1) * (
            F.lit(1.0 - m.b) + F.lit(m.b) * F.col("doc_len") / F.col("__avg")
        )
        scored = merged.join(F.broadcast(consts), on="qid").select(
            "qid", "doc_id", (F.col("__idf") * tf / denom).alias("score")
        )
        return topk_grouped(scored, k).select("qid", "doc_id", "score", "rank")

    def _fused_indri_batch(
        self, comp: Compiler, items: list, k: int
    ) -> DataFrame:
        """One plan for a batch of flat Indri #AND/#OR/#WAND/#WSUM
        queries (Compiler._indri_flat_strategy, batched).

        Leaf scores come from the scan ⋈ broadcast (qid, ti, term, p)
        join; per-(qid, doc_id) the (ti -> score) map reassembles and a
        broadcast per-qid meta row (op, k, p-default and weight-fraction
        arrays) drives a left-to-right ``aggregate`` fold whose float
        ops replicate the per-query path exactly (fold inits 1.0/* and
        0.0/+ are IEEE-exact), so scores are bit-identical.
        """
        spark = self.index.spark
        m = comp.model
        all_terms = tuple({t for _, _, leaves, _ in items for t in leaves})
        comp.prefetch_term_stats(SopNode("sum", all_terms))

        by_field: dict[str, list] = {}
        for qid, op, leaves, weights in items:
            by_field.setdefault(leaves[0].field, []).append((qid, op, leaves, weights))

        frames = []
        for fld, f_items in by_field.items():
            collen = float(self.index.sum_len(fld))
            qt_rows, meta_rows = [], []
            for qid, op, leaves, weights in f_items:
                kk = len(leaves)
                w = weights if weights else [1.0] * kk
                total = sum(w)
                pdefs = []
                for i, t in enumerate(leaves):
                    _df, ctf = comp.term_stats.get((t.term, fld), (0, 0))
                    qt_rows.append((qid, i, t.term, ctf / collen))
                    ctf_def = float(ctf) if ctf >= 1.0 else 0.5
                    pdefs.append(ctf_def / collen)
                meta_rows.append((qid, op, kk, pdefs, [wi / total for wi in w]))
            qt = spark.createDataFrame(
                qt_rows, "qid string, __ti int, term string, __p double"
            )
            meta = spark.createDataFrame(
                meta_rows,
                "qid string, __op string, __k int, "
                "__pdefs array<double>, __wf array<double>",
            )
            terms = sorted({r[2] for r in qt_rows})

            tf = F.col("tf").cast("double")
            dl = F.col("doc_len").cast("double")
            leaf = (
                F.lit(1.0 - m.lam) * (tf + F.lit(m.mu) * F.col("__p")) / (dl + F.lit(m.mu))
                + F.lit(m.lam) * F.col("__p")
            )
            rows = (
                self.index.postings.where(self._terms_scan_cond(fld, terms))
                .join(F.broadcast(qt), on="term")
                .select("qid", "doc_id", "__ti", leaf.alias("__s"), "doc_len")
            )
            grouped = rows.groupBy("qid", "doc_id").agg(
                F.map_from_entries(F.collect_list(F.struct("__ti", "__s"))).alias("__m"),
                F.max("doc_len").alias("__gdl"),
            )
            j = grouped.join(F.broadcast(meta), on="qid")

            gdl = F.col("__gdl").cast("double")

            def eff(i):
                pd_i = F.element_at(F.col("__pdefs"), i + F.lit(1))
                default = (
                    F.lit(1.0 - m.lam)
                    * (F.lit(0.0) + F.lit(m.mu) * pd_i)
                    / (gdl + F.lit(m.mu))
                    + F.lit(m.lam) * pd_i
                )
                return F.coalesce(F.element_at(F.col("__m"), i), default)

            seq = F.sequence(F.lit(0), F.col("__k") - F.lit(1))
            one, zero = F.lit(1.0), F.lit(0.0)
            s_and = F.pow(
                F.aggregate(seq, one, lambda acc, i: acc * eff(i)),
                one / F.col("__k").cast("double"),
            )
            s_or = F.aggregate(seq, one, lambda acc, i: acc * (one - eff(i)))
            s_wand = F.aggregate(
                seq,
                one,
                lambda acc, i: acc
                * F.pow(eff(i), F.element_at(F.col("__wf"), i + F.lit(1))),
            )
            s_wsum = F.aggregate(
                seq,
                zero,
                lambda acc, i: acc
                + eff(i) * F.element_at(F.col("__wf"), i + F.lit(1)),
            )
            score = (
                F.when(F.col("__op") == "and", s_and)
                .when(F.col("__op") == "or", s_or)
                .when(F.col("__op") == "wand", s_wand)
                .otherwise(s_wsum)
            )
            frames.append(
                j.select("qid", "doc_id", score.cast("double").alias("score"))
            )
        u = frames[0]
        for fr in frames[1:]:
            u = u.unionByName(fr)
        return topk_grouped(u, k).select("qid", "doc_id", "score", "rank")

    def _fused_bool_batch(
        self, comp: Compiler, items: list, k: int
    ) -> DataFrame:
        """One plan for a batch of flat Boolean queries
        (Compiler._bool_flat_strategy, batched). match-ALL
        (#AND/#WAND/#WSUM) filters on the per-doc matched-term count;
        scores are min/max over the reassembled tf map (order-exact) or
        1.0 for UnrankedBoolean."""
        from searchengine_spark.plans.models import UnrankedBoolean

        spark = self.index.spark
        by_field: dict[str, list] = {}
        for qid, op, leaves, _w in items:
            by_field.setdefault(leaves[0].field, []).append((qid, op, leaves))

        frames = []
        for fld, f_items in by_field.items():
            qt_rows = [
                (qid, i, t.term)
                for qid, _op, leaves in f_items
                for i, t in enumerate(leaves)
            ]
            meta = spark.createDataFrame(
                [(qid, op != "or", len(leaves)) for qid, op, leaves in f_items],
                "qid string, __match_all boolean, __k int",
            )
            qt = spark.createDataFrame(qt_rows, "qid string, __ti int, term string")
            terms = sorted({r[2] for r in qt_rows})
            rows = (
                self.index.postings.where(self._terms_scan_cond(fld, terms))
                .join(F.broadcast(qt), on="term")
                .select(
                    "qid", "doc_id", "__ti", F.col("tf").cast("double").alias("__s")
                )
            )
            g = rows.groupBy("qid", "doc_id").agg(
                F.map_from_entries(F.collect_list(F.struct("__ti", "__s"))).alias("__m")
            )
            j = g.join(F.broadcast(meta), on="qid").where(
                (~F.col("__match_all")) | (F.size("__m") == F.col("__k"))
            )
            vals = F.map_values(F.col("__m"))
            if isinstance(comp.model, UnrankedBoolean):
                score = F.lit(1.0)
            else:
                score = F.when(
                    F.col("__match_all"), F.array_min(vals)
                ).otherwise(F.array_max(vals))
            frames.append(
                j.select("qid", "doc_id", score.cast("double").alias("score"))
            )
        u = frames[0]
        for fr in frames[1:]:
            u = u.unionByName(fr)
        return topk_grouped(u, k).select("qid", "doc_id", "score", "rank")
