"""Index inspection helpers (reference: InspectIndex.java:25-57 —
``-list-postings``, ``-list-termvector``, ``-list-stats`` ...).

Driver-side conveniences over the index DataFrames for debugging and
manual verification; each returns plain Python data.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from searchengine_spark.index.build import InvertedIndex


def list_stats(index: InvertedIndex) -> dict:
    """Corpus statistics (InspectIndex -list-stats)."""
    return {
        "n_docs": index.n_docs,
        "fields": list(index.fields),
        "analyzer": index.analyzer,
        "field_stats": index.field_stats,
    }


def list_postings(
    index: InvertedIndex, term: str, field: str = "body", max_docs: int = 20
) -> dict:
    """Posting list head for (term, field) with its positions
    (InspectIndex -list-postings)."""
    df, ctf = index.lookup_term_stats([(term, field)])[(term, field)]
    rows = (
        index.postings.where((F.col("term") == term) & (F.col("field") == field))
        .orderBy("doc_id")
        .limit(max_docs)
        .collect()
    )
    return {
        "term": term,
        "field": field,
        "df": df,
        "ctf": ctf,
        "postings": [
            {
                "doc_id": int(r["doc_id"]),
                "tf": int(r["tf"]),
                "positions": list(r["positions"]),
            }
            for r in rows
        ],
    }


def list_term_vector(index: InvertedIndex, doc_id: int, field: str = "body") -> dict:
    """Doc vector (InspectIndex -list-termvector)."""
    from searchengine_spark.index.forward import term_vector

    return term_vector(index, doc_id, field)


def list_doc(index: InvertedIndex, doc_id: int) -> dict:
    """External id + metadata attributes for a doc (Idx.getAttribute)."""
    row = index.docs.where(F.col("doc_id") == int(doc_id)).first()
    return row.asDict() if row else {}
