"""SearchEngine facade — the reference's QryEval loop, Spark-first.

Reference lifecycle (QryEval.java:31-59, 118-195): read params, open
index, per query: wrap with the model's default operator, parse,
optimize, evaluate, sort by (score desc, external id asc), truncate,
write trec lines. Here every step is declarative: parse -> AST ->
DataFrame plan -> TakeOrderedAndProject top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from searchengine_spark.analyzer import get_analyzer
from searchengine_spark.index.build import InvertedIndex
from searchengine_spark.operators.topk import attach_ext_ids, topk, topk_grouped
from searchengine_spark.plans.ast import SopNode, TermNode
from searchengine_spark.plans.compiler import Compiler
from searchengine_spark.plans.models import make_model
from searchengine_spark.plans.parser import QueryParser
from searchengine_spark.session import arrow_frame


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
        # (term, field) -> (df, ctf) is model-independent: ONE cache
        # shared by every compiler this engine creates and by
        # ``term_stats``, so repeated terms across searches, models and
        # operators never repeat the term-dictionary lookup
        self._stats_cache: dict = {}

    # ------------------------------------------------------------------

    def _model(self, model, **params):
        return make_model(model, **params) if isinstance(model, str) else model

    def compiler(self, model) -> Compiler:
        if model not in self._compilers:
            comp = Compiler(self.index, model)
            comp.term_stats = self._stats_cache
            self._compilers[model] = comp
        return self._compilers[model]

    def term_stats(self, terms, field: str) -> dict[str, tuple[int, int]]:
        """term -> (df, ctf) in ``field``, (0, 0) when absent: the
        compiler's prefetch looks up the terms the shared cache lacks
        (any model's compiler — the stats are the same)."""
        node = SopNode("sum", tuple(TermNode(t, field) for t in terms))
        self.compiler(make_model("bm25")).prefetch_term_stats(node)
        return {t: self._stats_cache[(t, field)] for t in terms}

    def parse(self, query: str, model) -> object:
        """Wrap with the model default op, parse + optimize -> AST or None."""
        return self.parser.parse(query, default_op=model.default_op)

    def scores(self, query: str, model="bm25", **params) -> DataFrame:
        """Full (doc_id, score) frame for a query (unranked, untruncated)."""
        m = self._model(model, **params)
        ast = self.parse(query, m)
        return self.compiler(m).compile(ast)

    def search(
        self,
        query: str,
        model="bm25",
        k: int = 100,
        with_ext_id: bool = True,
        **params,
    ) -> DataFrame:
        """Top-k (doc_id[, ext_id], score, rank), reference tie-break.

        Ranks are unique and at most ``k``, so the closing
        ``orderBy(rank).limit(k)`` keeps every row and plans as one
        TakeOrderedAndProject collect — a bare ``orderBy`` would add a
        range exchange and its sampling job."""
        ranked = topk(self.scores(query, model, **params), k)
        if with_ext_id:
            ranked = attach_ext_ids(ranked, self.index.docs).select(
                "doc_id", "ext_id", "score", "rank"
            )
        return ranked.orderBy("rank").limit(k)

    def run_batch(
        self,
        queries: list[tuple[str, str]],
        model="bm25",
        k: int = 100,
        **params,
    ) -> DataFrame:
        """Evaluate (qid, query) pairs -> (qid, doc_id, ext_id, score, rank).

        The whole batch is one plan from the one scorer
        (``Compiler.score_tree``, which ``search`` runs on one query):
        per field ONE term-IN postings scan, one merge for the batch's
        #NEAR/#WINDOW leaves, per-query constants from map literals (no
        constants table), one groupBy(qid, doc_id), one per-qid top-k
        window. The scan count does not grow with the batch, and every
        qid's rows equal its own ``search``. A qid given twice raises
        ``ValueError``.

        Each query keeps at most ``k`` unique ranks, so the closing
        ``orderBy(qid, rank).limit(k * len(parsed))`` keeps every row
        and plans as one TakeOrderedAndProject, like ``search``: no
        range exchange and no sampling job.
        """
        m = self._model(model, **params)
        parsed, seen = [], set()
        for qid, q in queries:
            if qid in seen:
                raise ValueError(f"run_batch: qid {qid!r} is given more than once")
            seen.add(qid)
            ast = self.parse(q, m)
            if ast is not None:  # an empty query is skipped (QryEval.java:131)
                parsed.append((qid, ast))
        if not parsed:
            return arrow_frame(
                self.index.spark, [],
                "qid string, doc_id long, ext_id string, score double, rank int",
            )
        scored = self.compiler(m).score_tree(parsed)
        ranked = topk_grouped(scored, k).select("qid", "doc_id", "score", "rank")
        return (
            attach_ext_ids(ranked, self.index.docs)
            .select("qid", "doc_id", "ext_id", "score", "rank")
            .orderBy("qid", "rank")
            .limit(k * len(parsed))
        )
