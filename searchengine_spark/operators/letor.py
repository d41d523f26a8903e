"""Learning-to-rank: 18-feature featurization + per-query min-max
normalization + pluggable ranker (reference: RetrievalModelLeToR.java).

Feature map (RetrievalModelLeToR.getFeat, :42-96):

  f1  spam score attribute            f2  url depth (count of '/')
  f3  wikipedia-url indicator         f4  PageRank attribute
  f5/f8/f11/f14   BM25 score   for body/title/url/inlink
  f6/f9/f12/f15   Indri score  for body/title/url/inlink
  f7/f10/f13/f16  term overlap for body/title/url/inlink
  f17 date attribute                  f18 position stddev in body (:98-123)

Missing features (absent field/attribute) are NULL here (the reference
uses the Double.MIN_VALUE sentinel, :46-96); per-query min-max
normalization skips NULLs exactly like the reference skips sentinels
(:213-244).

Everything is a join against the postings/doc tables — featurizing the
top-k candidates of Q queries costs Q small broadcast joins, not a
corpus pass. The external svm_rank binary (:336-441) is replaced by a
pluggable pyspark.ml estimator (default LogisticRegression) — same
train-on-qrels / score / re-rank contract.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import DoubleType

from searchengine_spark.engine import SearchEngine

LETOR_FIELDS = ("body", "title", "url", "inlink")
N_FEATURES = 18
FEATURE_COLS = [f"f{i}" for i in range(1, N_FEATURES + 1)]


@F.pandas_udf(DoubleType())
def _pos_std_udf(pos_lists: pd.Series) -> pd.Series:
    """Stddev of query-term positions with the reference's +0.1 smoothing
    (RetrievalModelLeToR.posStd, :98-123)."""

    def calc(lists):
        if lists is None:
            return None
        pos = [p for a in lists for p in a.tolist()]
        n = float(len(pos)) + 0.1
        mean = sum(pos) / n
        var = sum((p - mean) ** 2 for p in pos) / n
        return math.sqrt(var)

    return pos_lists.map(calc)


def _field_features(engine: SearchEngine, terms: list[str], field: str,
                    cand: DataFrame, bm25, indri) -> DataFrame:
    """(doc_id, bm25_<f>, indri_<f>, overlap_<f>[, poslists for body])."""
    idx = engine.index
    # corpus stats
    n = float(idx.n_docs)
    avg = idx.avg_len(field)
    collen = float(idx.sum_len(field))

    stats = engine.term_stats(terms, field)

    posts = idx.postings.where(
        (F.col("field") == field) & F.col("term").isin(list(terms))
    ).join(F.broadcast(cand.select("doc_id")), on="doc_id")

    aggs = []
    for i, t in enumerate(terms):
        aggs.append(F.max(F.when(F.col("term") == t, F.col("tf"))).alias(f"tf{i}"))
    aggs.append(F.max("doc_len").alias("dl"))
    if field == "body":
        aggs.append(F.collect_list("positions").alias("poslists"))
    pv = posts.groupBy("doc_id").agg(*aggs)

    # doc_len for the field even when no query term matches (Indri defaults)
    ds = idx.doc_stats.where(F.col("field") == field).select(
        "doc_id", F.col("doc_len").alias("ds_len")
    )
    pv = cand.select("doc_id").join(pv, "doc_id", "left").join(ds, "doc_id", "left")
    has_field = F.col("ds_len").isNotNull()
    dl = F.coalesce(F.col("dl"), F.col("ds_len")).cast("double")

    bm25_expr = F.lit(0.0)
    indri_expr = F.lit(1.0)
    found = F.lit(False)
    overlap = F.lit(0)
    k_inv = 1.0 / len(terms)
    for i, t in enumerate(terms):
        df_t, ctf_t = stats[t]
        idf = max(0.0, math.log((n - df_t + 0.5) / (df_t + 0.5)))
        tf = F.coalesce(F.col(f"tf{i}"), F.lit(0)).cast("double")
        bm25_expr = bm25_expr + F.when(
            F.col(f"tf{i}").isNotNull(),
            F.lit(idf) * tf / (tf + F.lit(bm25.k1) * (F.lit(1.0 - bm25.b) + F.lit(bm25.b) * dl / F.lit(avg))),
        ).otherwise(F.lit(0.0))
        ctf_eff = float(ctf_t) if ctf_t >= 1 else 0.5
        p = ctf_eff / collen if collen else 0.0
        indri_expr = indri_expr * F.pow(
            F.lit(1.0 - indri.lam) * (tf + F.lit(indri.mu) * F.lit(p)) / (dl + F.lit(indri.mu))
            + F.lit(indri.lam) * F.lit(p),
            F.lit(k_inv),
        )
        found = found | F.col(f"tf{i}").isNotNull()
        overlap = overlap + F.when(F.col(f"tf{i}").isNotNull(), 1).otherwise(0)

    out = pv.select(
        "doc_id",
        F.when(has_field, bm25_expr).alias(f"bm25_{field}"),
        F.when(has_field, F.when(found, indri_expr).otherwise(F.lit(0.0))).alias(
            f"indri_{field}"
        ),
        F.when(has_field, overlap.cast("double") / F.lit(float(len(terms)))).alias(
            f"overlap_{field}"
        ),
        *([F.col("poslists")] if field == "body" else []),
    )
    return out


def featurize(
    engine: SearchEngine,
    qid: str,
    query: str,
    cand: DataFrame,
    bm25=None,
    indri=None,
) -> DataFrame:
    """(qid, doc_id, f1..f18) for candidate docs of one query."""
    from searchengine_spark.plans.models import BM25, Indri

    bm25 = bm25 or BM25()
    indri = indri or Indri()
    terms = engine.analyzer.terms(query)
    cand = cand.select(F.col("doc_id").cast("long").alias("doc_id"))

    docs = engine.index.docs
    attr = docs.select(
        "doc_id",
        (F.col("spam_score").cast("double") if "spam_score" in docs.columns else F.lit(None).cast("double")).alias("f1"),
        (F.length("ext_id") - F.length(F.regexp_replace("ext_id", "/", ""))).cast("double").alias("f2"),
        F.when(F.col("ext_id").contains("wikipedia.org"), 1.0).otherwise(0.0).alias("f3"),
        (F.col("pagerank").cast("double") if "pagerank" in docs.columns else F.lit(None).cast("double")).alias("f4"),
        (F.col("date").cast("double") if "date" in docs.columns else F.lit(None).cast("double")).alias("f17"),
    )
    out = cand.join(attr, "doc_id", "left")

    fmap = {"body": (5, 6, 7), "title": (8, 9, 10), "url": (11, 12, 13), "inlink": (14, 15, 16)}
    for fld in LETOR_FIELDS:
        if fld not in engine.index.fields:
            continue
        ff = _field_features(engine, terms, fld, cand, bm25, indri)
        b, i_, o = fmap[fld]
        cols = [
            F.col(f"bm25_{fld}").alias(f"f{b}"),
            F.col(f"indri_{fld}").alias(f"f{i_}"),
            F.col(f"overlap_{fld}").alias(f"f{o}"),
        ]
        if fld == "body":
            cols.append(_pos_std_udf(F.col("poslists")).alias("f18"))
        out = out.join(ff.select("doc_id", *cols), "doc_id", "left")

    for c in FEATURE_COLS:
        if c not in out.columns:
            out = out.withColumn(c, F.lit(None).cast("double"))
    return out.select(F.lit(qid).alias("qid"), "doc_id", *FEATURE_COLS)


def normalize_per_query(feats: DataFrame) -> DataFrame:
    """Per-qid min-max scale each feature to [0,1]; NULLs pass through
    (RetrievalModelLeToR.normalize, :213-244)."""
    w = Window.partitionBy("qid")
    out = feats
    for c in FEATURE_COLS:
        mn = F.min(c).over(w)
        mx = F.max(c).over(w)
        out = out.withColumn(
            c,
            F.when(F.col(c).isNull(), None)
            .when(mx != mn, (F.col(c) - mn) / (mx - mn))
            .otherwise(F.col(c)),
        )
    return out


def svm_light_lines(feats: DataFrame, rel: DataFrame | None = None) -> DataFrame:
    """SVM-light feature lines (svm_line, :246-257): ``rel qid:Q i:v ...``.

    ``rel``: optional (qid, doc_id, rel) frame; defaults to 0.
    """
    if rel is not None:
        feats = feats.join(rel, ["qid", "doc_id"], "left").withColumn(
            "rel", F.coalesce(F.col("rel"), F.lit(0))
        )
    else:
        feats = feats.withColumn("rel", F.lit(0))
    parts = [F.concat(F.col("rel").cast("string"), F.lit(" qid:"), F.col("qid"))]
    for i, c in enumerate(FEATURE_COLS, start=1):
        parts.append(
            F.when(
                F.col(c).isNotNull(),
                F.concat(F.lit(f" {i}:"), F.col(c).cast("string")),
            ).otherwise(F.lit(""))
        )
    parts.append(F.concat(F.lit("  # "), F.col("doc_id").cast("string")))
    return feats.select(F.concat(*parts).alias("value"))


def train_and_rerank(
    train_feats: DataFrame,
    train_qrels: DataFrame,
    test_feats: DataFrame,
    k: int = 100,
) -> DataFrame:
    """Train a pyspark.ml ranker on qrels, re-rank test candidates.

    Pointwise logistic regression over the normalized features — the
    pluggable stand-in for the external svm_rank process
    (RetrievalModelLeToR.java:336-441). Returns (qid, doc_id, score,
    rank<=k)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    def prep(df):
        filled = df
        for c in FEATURE_COLS:
            filled = filled.withColumn(c, F.coalesce(F.col(c), F.lit(0.0)))
        return VectorAssembler(inputCols=FEATURE_COLS, outputCol="features").transform(filled)

    tr = prep(
        train_feats.join(train_qrels, ["qid", "doc_id"], "left").withColumn(
            "label", F.when(F.coalesce(F.col("rel"), F.lit(0)) > 0, 1.0).otherwise(0.0)
        )
    )
    model = LogisticRegression(featuresCol="features", labelCol="label", maxIter=50).fit(tr)

    from pyspark.ml.functions import vector_to_array

    te = model.transform(prep(test_feats))
    scored = te.select(
        "qid", "doc_id", vector_to_array(F.col("probability"))[1].alias("score")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
