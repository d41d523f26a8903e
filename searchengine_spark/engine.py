"""SearchEngine facade — the reference's QryEval loop, Spark-first.

Reference lifecycle (QryEval.java:31-59, 118-195): read params, open
index, per query: wrap with the model's default operator, parse,
optimize, evaluate, sort by (score desc, external id asc), truncate,
write trec lines. Here every step is declarative: parse -> AST ->
DataFrame plan -> TakeOrderedAndProject top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

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

        Flat queries (``Compiler.flat_scorer``: BM25 bags of words and
        ``#NEAR``/``#WINDOW`` roots, flat Indri and Boolean ops) go to
        their model's flat scorer together: per field ONE term-IN
        postings scan for the whole batch, broadcast per-query
        constants, one groupBy(qid, doc_id), one per-qid top-k window —
        batch-size-independent scan count, the shape a 10k-query batch
        needs. It is the same scorer ``search`` runs on one query, so
        every qid's rows equal its own ``search``. Other queries compile
        one by one and union in.

        Each query keeps at most ``k`` unique ranks, so the closing
        ``orderBy(qid, rank).limit(k * len(parsed))`` keeps every row
        and plans as one TakeOrderedAndProject, like ``search``: no
        range exchange and no sampling job.
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
            # ONE term-dictionary lookup for every term of every query
            # in the batch — the scorers and per-query compile()s then
            # hit the compiler's stats cache instead of each looking up
            # their own terms
            comp.prefetch_term_stats(SopNode("sum", tuple(a for _, a in parsed)))

        flat: dict = {}
        frames = []
        for qid, ast in parsed:
            scorer = comp.flat_scorer(ast)
            if scorer is None:
                frames.append(topk(comp.compile(ast), k).withColumn("qid", F.lit(qid)))
            else:
                flat.setdefault(scorer, []).append((qid, ast))
        for scorer, items in flat.items():
            scored = scorer(items).select("qid", "doc_id", "score")
            frames.append(topk_grouped(scored, k).select("qid", "doc_id", "score", "rank"))
        self.index.trim_temps()
        if not frames:
            return arrow_frame(
                self.index.spark, [],
                "qid string, doc_id long, ext_id string, score double, rank int",
            )
        u = frames[0]
        for fr in frames[1:]:
            u = u.unionByName(fr)
        out = attach_ext_ids(u, self.index.docs)
        return (
            out.select("qid", "doc_id", "ext_id", "score", "rank")
            .orderBy("qid", "rank")
            .limit(k * len(parsed))
        )
