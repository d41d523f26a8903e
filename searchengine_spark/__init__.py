"""searchengine_spark — a from-scratch PySpark-native full-text retrieval engine.

Re-expresses the query and data-processing capabilities of the CMU 11-642
``QryEval`` stack (reference: Jiaqiang-Ruan/SearchEngine) as an idiomatic
Spark DataFrame pipeline:

- :mod:`searchengine_spark.analyzer` — vectorized Arrow/pandas tokenizers
  (lowercase, stopword slots, Krovetz-style stemming).
- :mod:`searchengine_spark.index` — inverted-index build (postings, stats,
  checkpoint-resumable bucketed layout, forward index).
- :mod:`searchengine_spark.plans` — structured-query parser + AST compiler to
  DataFrame plans for ``#AND #OR #SUM #WAND #WSUM #NEAR/n #WINDOW/n #SYN``
  under UnrankedBoolean / RankedBoolean / BM25 / Indri.
- :mod:`searchengine_spark.operators` — positional merges, top-k, PRF
  expansion, xQuAD/PM2 diversification, LeToR, DRMM.
- :mod:`searchengine_spark.pipeline` — training-data operators (dedup,
  similarity search, text stats, multimodal columns, event streams).
- :mod:`searchengine_spark.streaming` — incremental index ingest.
- :mod:`searchengine_spark.sources` — trec/qrels/param files.
- :mod:`searchengine_spark.engine` / :mod:`searchengine_spark.cli` — the
  QryEval-equivalent entry points.

This is NOT a port of the reference's Java document-at-a-time engine; the
logical plans are declared with the DataFrame API and optimized by Catalyst.
"""

__version__ = "0.1.0"
