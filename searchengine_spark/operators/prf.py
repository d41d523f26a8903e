"""Pseudo-relevance-feedback query expansion (reference: QryExpand.java).

Semantics replicated from QryExpand.expand (QryExpand.java:68-147):

1. Take the top ``fb_docs`` of an initial ranking (given, or produced
   by the engine).
2. Candidate terms = every body term in those docs, excluding terms
   containing '.' or ',' (QryExpand.java:93-97).
3. Score each candidate:
   ``Σ_d p(t|d) * score(d) * ln(collen/ctf)`` over ALL top docs (the
   smoothing term contributes even when tf=0), with
   ``p(t|d) = (tf + fbMu*ctf/collen) / (doclen + fbMu)``
   (QryExpand.java:100-124).
4. Keep top ``fb_terms`` (score desc; ties on term asc — the reference
   order is hash-map-dependent, we fix it deterministically).
5. Rewrite: ``#wand(fbW #and(orig) 1-fbW #wand(w1 t1 ...))`` with
   expansion weights printed ``%.4f`` and outer weights ``%f``
   (QryExpand.java:133-146); BM25 uses ``#wsum`` (QryExpand.java:21-27).

Spark shape: the per-term sum factors into
``idf_t * (Σ_present tf/(dl+μ)·s_d  +  μ·ctf_t/collen · S0)`` with
``S0 = Σ_topdocs s_d/(dl_d+μ)`` a scalar — so candidate scoring is one
filter on postings (doc_id IN top — broadcast) + one groupBy(term),
never a full-corpus pass.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from searchengine_spark.engine import SearchEngine
from searchengine_spark.session import arrow_frame


@dataclass(frozen=True)
class ExpandParams:
    fb: str = "indri"  # 'indri' -> #wand, 'bm25' -> #wsum
    fb_docs: int = 10
    fb_terms: int = 10
    fb_mu: float = 0.0
    fb_orig_weight: float = 0.5
    field: str = "body"


def candidate_term_scores(
    engine: SearchEngine,
    top_docs: list[tuple[int, float]],
    params: ExpandParams,
) -> DataFrame:
    """(term, fb_score) for all candidate terms of the top docs."""
    idx = engine.index
    f = params.field
    mu = params.fb_mu
    collen = float(idx.sum_len(f))

    doc_ids = [int(d) for d, _ in top_docs]
    spark = idx.spark
    top_df = arrow_frame(
        spark, [(int(d), float(s)) for d, s in top_docs], "doc_id long, fb_doc_score double"
    )

    posts = (
        idx.postings.where((F.col("field") == f) & F.col("doc_id").isin(doc_ids))
        .join(F.broadcast(top_df), on="doc_id")
        .where(~F.col("term").rlike("[.,]"))
    )
    # present part: Σ tf/(dl+μ)·s_d ; smoothing scalar S0 = Σ s_d/(dl_d+μ)
    # over the top docs' lengths (one small collect; 0 when the field
    # is empty)
    dls = {
        int(r["doc_id"]): float(r["doc_len"])
        for r in idx.doc_stats.where((F.col("field") == f) & F.col("doc_id").isin(doc_ids))
        .select("doc_id", "doc_len")
        .collect()
    }
    s0 = sum(float(s) / (dls.get(int(d), 0.0) + mu) for d, s in top_docs)
    present = posts.groupBy("term").agg(
        F.sum(
            F.col("tf").cast("double")
            / (F.col("doc_len").cast("double") + F.lit(mu))
            * F.col("fb_doc_score")
        ).alias("present_sum")
    )
    stats = idx.term_stats.where(F.col("field") == f).select("term", "ctf")
    scored = present.join(stats, on="term", how="left").select(
        "term",
        (
            F.log(F.lit(collen) / F.col("ctf").cast("double"))
            * (
                F.col("present_sum")
                + F.lit(mu) * F.col("ctf").cast("double") / F.lit(collen) * F.lit(s0)
            )
        ).alias("fb_score"),
    )
    return scored


def expand(
    engine: SearchEngine,
    query: str,
    params: ExpandParams,
    model=None,
    initial_ranking: list[tuple[int, float]] | None = None,
) -> tuple[str, str]:
    """-> (expanded_query_line, fb_query). Reference formats replicated."""
    from searchengine_spark.plans.models import make_model

    if model is None:
        model = make_model("bm25" if params.fb == "bm25" else "indri")
    default_op = "#wsum" if params.fb == "bm25" else "#wand"

    if initial_ranking is None:
        rows = (
            engine.scores(query, model=model)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(params.fb_docs)
            .collect()
        )
        initial_ranking = [(int(r["doc_id"]), float(r["score"])) for r in rows]
    top = initial_ranking[: params.fb_docs]

    scored = candidate_term_scores(engine, top, params)
    top_terms = (
        scored.orderBy(F.desc("fb_score"), F.asc("term"))
        .limit(params.fb_terms)
        .collect()
    )
    fb_query = (
        default_op
        + "("
        + "".join(f"{r['fb_score']:.4f} {r['term']} " for r in top_terms)
        + ")"
    )
    w = params.fb_orig_weight
    expanded = f"{default_op}({w:f} #{model.default_op}({query}) {1.0 - w:f} {fb_query})"
    return expanded, fb_query
