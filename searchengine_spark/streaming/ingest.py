"""Incremental index maintenance via Structured Streaming.

The reference is strictly batch (SURVEY.md §2.10) and the north rule
asks for a *checkpoint-resumable* build. Batch resume is handled by
``index.build.write_index`` manifests; this module adds the streaming
path: new page files land in a directory, and a Structured Streaming
job tokenizes each micro-batch and writes it **once**, in the index's
own format, as generation ``seg=d<batch_id>`` of every table through
the index's one writer (``index.build.write_tables``): postings
bucketed, term_stats, doc_stats, and docs as (doc_id, ext_id), which
``read_table`` reads in the live docs schema. The batch's last step is
a small record (``_batch.json`` in its docs dir): its doc count, field
stats and analyzer. Nothing a batch writes is live until a compaction
commits it — the Delta Lake pattern (VLDB 2020): the streaming sink
writes its files once and a log commit makes them visible.

Exactly-once comes from the streaming checkpoint (file-source offsets),
the per-batch seg name (a replayed batch overwrites only its own dirs)
and the ``folded_through`` batch watermark in meta.json: a batch at or
below it is already committed, and a replay of it writes nothing.

Both compactions follow the index's one commit rule (``index.build``):
``write_meta`` replaces meta.json, whose ``segs`` list names the live
generations. A dir without meta.json is an empty index; its first
compaction is a minor one and commits the analyzer the batch records
name; every compaction rejects batches of another analyzer than the
index's.

- **minor** (the default): a commit with **no Spark job**. It reads the
  records of the batches above ``folded_through``, appends their ``d``
  segs to ``segs``, patches n_docs and field_stats arithmetically and
  advances ``folded_through``, in one ``write_meta``. df/ctf are
  additive across generations, so ``read_index`` folds them with a
  vocab-sized aggregate — no live byte is read or rewritten.
- **major** (``full_rewrite=True``): fold every live generation and the
  recorded batches into one fresh generation ``seg=m<digest>``,
  committed as the only live one — bounding segment-count growth and
  compacting row groups. This is the periodic background pass; at
  100 TB it runs rarely and off-peak.

Why not rewrite only touched buckets? Measured at 20k pages / 10%
delta: every one of 32 buckets was touched (zipf vocab ⇒ each doc
spans the term space), making "incremental" 1.45× SLOWER than the full
rewrite. Segment append is the only shape whose cost is O(delta).
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from searchengine_spark.analyzer import analyzer_version
from searchengine_spark.index.build import (
    LAYOUT,
    POSTING_ROW_SCHEMA,
    _doc_postings_gen,
    _write_json,
    batch_id,
    check_layout,
    field_stats_of,
    read_meta,
    read_table,
    seg_name,
    split_rows,
    write_manifests,
    write_meta,
    write_tables,
)

PAGE_SCHEMA = "doc_id long, url string, warc_ts timestamp, html binary, text string, lang string"
# a streamed batch's record, in its docs/seg=d<batch> dir; its last write
BATCH_RECORD = "_batch.json"


def write_batch(
    pages: DataFrame, batch: int, index_dir: str, analyzer: str = "english",
    field: str = "body",
) -> None:
    """Write page batch ``batch`` as generation ``seg=d<batch>`` of every
    table, then its record; a batch at or below the index's
    ``folded_through`` is committed already and writes nothing.

    ``pages`` carries ``doc_id``, ``url`` (the ext id) and ``text``
    (field ``field``); a doc_id delivered twice in the batch is one doc
    (one row kept). The tables are bucketed like the index's (16
    buckets for a dir without meta.json); docs holds (doc_id, ext_id),
    and ``read_table`` reads it in the live docs schema (the metadata
    columns null)."""
    meta = read_meta(index_dir)
    if batch <= int(meta.get("folded_through", -1)):
        return
    seg = f"d{batch}"
    buckets = int(meta.get("buckets") or 16)
    pages = pages.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("url").cast("string").alias("ext_id"),
        F.col("text").cast("string").alias("__src"),
    ).dropDuplicates(["doc_id"]).persist()
    # fused tokenize+positions rows, incl. one term='' doc_len sentinel
    # per doc: the batch build's shuffle-free kernel, for one field
    rows = pages.select("doc_id", "__src").mapInPandas(
        _doc_postings_gen(analyzer, {field: "__src"}), POSTING_ROW_SCHEMA
    ).persist()
    try:
        postings, sentinels, doc_stats = split_rows(rows)
        n_docs, field_stats = field_stats_of(sentinels)
        if not n_docs:
            return
        phases = write_tables(
            index_dir, seg, buckets, field_stats,
            postings, doc_stats, pages.select("doc_id", "ext_id"),
        )
    finally:
        rows.unpersist()
        pages.unpersist()
    _write_json(os.path.join(index_dir, "docs", f"seg={seg}", BATCH_RECORD), {
        "n_docs": n_docs,
        "field_stats": field_stats,
        "analyzer": analyzer,
        "analyzer_version": analyzer_version(analyzer),
        "buckets": buckets,
        "write_s": phases["postings"],
    })


def start_ingest(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    analyzer: str = "english",
    available_now: bool = True,
    field: str = "body",
    reader_options: dict | None = None,
):
    """Stream page parquet files from ``input_dir`` into the index dir,
    each micro-batch through ``write_batch`` as generation ``d<batch_id>``.

    Returns the StreamingQuery. ``available_now=True`` drains what's
    there and stops (the batch-oriented test/ops mode); continuous mode
    just leaves the trigger default.
    """
    # reader_options: file-source knobs, e.g. maxFilesPerTrigger to
    # bound micro-batch size (availableNow then drains in several
    # batches instead of one giant one — the shape a live crawl has)
    reader = spark.readStream.schema(PAGE_SCHEMA)
    for k, v in (reader_options or {}).items():
        reader = reader.option(k, v)
    writer = (
        reader.parquet(input_dir).writeStream
        .foreachBatch(lambda pages, b: write_batch(pages, b, index_dir, analyzer, field))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _records(index_dir: str, after: int) -> dict[int, dict]:
    """The records of the streamed batches above ``after``, by ascending
    batch id. A batch without a record has not finished writing."""
    found = {}
    for d in glob.glob(os.path.join(index_dir, "docs", "seg=d*")):
        b = batch_id(d.rsplit("seg=", 1)[1])
        if b is not None and b > after and os.path.isfile(os.path.join(d, BATCH_RECORD)):
            with open(os.path.join(d, BATCH_RECORD)) as f:
                found[b] = json.load(f)
    return dict(sorted(found.items()))


def _adopt(index_dir: str, records: dict[int, dict], meta: dict) -> None:
    """Check that the recorded batches were tokenized with the index's
    analyzer and bucketed like it (``ValueError`` otherwise: their terms
    would not match the index's or the queries', or a lookup would look
    in the wrong bucket), and record both in ``meta`` when meta.json
    names none — the first compaction of a streamed-only index."""
    seen = {f"batch {b}": (r["analyzer"], r["analyzer_version"]) for b, r in records.items()}
    if meta.get("analyzer"):
        seen["meta.json"] = (meta["analyzer"], meta.get("analyzer_version"))
    if len(set(seen.values())) > 1:
        raise ValueError(
            f"streamed batches under {index_dir} were tokenized with another "
            f"analyzer than the index: {seen}. Re-ingest them with the "
            "index's analyzer."
        )
    buckets = {int(r["buckets"]) for r in records.values()} | (
        {int(meta["buckets"])} if meta.get("buckets") else set()
    )
    if len(buckets) > 1:
        raise ValueError(
            f"streamed batches under {index_dir} were bucketed {sorted(buckets)} "
            "ways, unlike the index. Re-ingest them into the written index."
        )
    if records and not meta.get("analyzer"):
        meta["analyzer"], meta["analyzer_version"] = next(iter(seen.values()))
        meta["buckets"] = buckets.pop()


def compact(spark: SparkSession, index_dir: str, full_rewrite: bool = False) -> dict:
    """Commit the recorded streamed batches (idempotent, replay-safe).

    - MINOR (the default): append their ``d`` segs to the live ones in
      one ``write_meta``, with no Spark job; no live byte is read or
      rewritten. A dir without meta.json is an empty index, and this is
      its first commit;
    - ``full_rewrite=True``: MAJOR fold of every live generation and
      the batches into one fresh generation.

    Returns ``{"mode", "phases"}``; ``phases`` holds the seconds per table
    written (``write_tables``), empty when nothing was written.
    """
    meta = read_meta(index_dir)
    if meta:
        check_layout(meta, index_dir)
    records = _records(index_dir, int(meta.get("folded_through", -1)))
    _adopt(index_dir, records, meta)
    if meta.get("segs") and full_rewrite:
        return {"mode": "major", "phases": _compact_major(spark, index_dir, meta, records)}
    _compact_minor(index_dir, meta, records)
    return {"mode": "minor", "phases": {}}


def _compact_minor(index_dir: str, meta: dict, records: dict[int, dict]) -> None:
    """Seg-append commit: the recorded batches' ``d`` segs join ``segs``;
    n_docs / field_stats are patched from their records (no full-table
    agg) and ``folded_through`` advances to the highest batch id; the
    per-bucket lineage manifests are refreshed for buckets that gained a
    generation.

    Crash-safe: before the commit the batches are pending and a rerun
    recommits them; once meta commits, ``folded_through`` excludes them.
    """
    if not records:
        return
    field_stats = dict(meta.get("field_stats") or {})
    for rec in records.values():
        for fld, delta in rec["field_stats"].items():
            cur = field_stats.get(fld) or {}
            doc_count = int(cur.get("doc_count") or 0) + delta["doc_count"]
            sum_len = int(cur.get("sum_len") or 0) + delta["sum_len"]
            field_stats[fld] = {
                "doc_count": doc_count, "sum_len": sum_len, "avg_len": sum_len / max(1, doc_count),
            }
    n_docs = int(meta.get("n_docs") or 0) + sum(r["n_docs"] for r in records.values())
    n_compactions = int(meta.get("compactions") or 0) + 1
    # a fold onto nothing records the batches' fields
    meta.setdefault("fields", sorted(field_stats))
    fp = (
        f"compact{n_compactions}|ndocs={n_docs}|analyzer={meta['analyzer']}"
        f"|fields={','.join(meta['fields'])}"
    )
    meta.update({
        "n_docs": n_docs,
        "field_stats": field_stats,
        "fingerprint": fp,
        "compactions": n_compactions,
        "layout": LAYOUT,
        "folded_through": max(records),
        "segs": list(meta.get("segs") or []) + [f"d{b}" for b in records],
    })
    write_meta(index_dir, meta)
    for b, rec in records.items():
        seg = f"d{b}"
        touched = [
            k for k in range(int(meta["buckets"]))
            if os.path.isdir(os.path.join(index_dir, "postings", f"bucket={k}", f"seg={seg}"))
        ]
        write_manifests(index_dir, touched, seg, fp, rec["write_s"], compacted=True)


def _compact_major(spark: SparkSession, index_dir: str, meta: dict, records: dict[int, dict]) -> dict:
    """Fold every live generation and the recorded batches into one fresh
    generation ``seg=m<digest>`` (named from the generations folded),
    committed as the only live one. Bounds segment-count growth and
    re-sorts and re-compresses row groups. This is the heavyweight
    periodic pass — minor compactions are the per-crawl-cycle path."""
    buckets = int(meta["buckets"])
    segs = meta["segs"] + [f"d{b}" for b in records]
    seg = seg_name("m", *segs)
    # docs are append-only; the dedups keep one row per key. docs keeps
    # every live metadata column (n_chars/lang/... — getAttribute reads
    # them): read_table merges the generations' docs schemas.
    doc_stats = (
        read_table(spark, index_dir, "doc_stats", segs).select("doc_id", "field", "doc_len")
        .dropDuplicates(["doc_id", "field"]).persist()
    )
    try:
        _, field_stats = field_stats_of(doc_stats, meta.get("fields", []))
        phases = write_tables(
            index_dir, seg, buckets, field_stats,
            read_table(spark, index_dir, "postings", segs).drop("bucket"),
            doc_stats,
            read_table(spark, index_dir, "docs", segs).dropDuplicates(["doc_id"]),
        )
    finally:
        doc_stats.unpersist()
    # count from the merged docs table — doc_stats excludes zero-length
    # docs, so counting its distinct ids would undercount N (and skew idf)
    n_docs = max(int(meta.get("n_docs") or 0), read_table(spark, index_dir, "docs", [seg]).count())

    n_compactions = int(meta.get("compactions") or 0) + 1
    fp = f"compact|ndocs={n_docs}|analyzer={meta.get('analyzer')}|fields={','.join(meta.get('fields', []))}"
    meta.update(
        {"n_docs": n_docs, "field_stats": field_stats, "fingerprint": fp,
         "compactions": n_compactions, "layout": LAYOUT,
         "folded_through": max([int(meta.get("folded_through", -1)), *records]),
         "segs": [seg]}
    )
    write_meta(index_dir, meta)
    write_manifests(index_dir, range(buckets), seg, fp, phases["postings"], compacted=True)
    return phases
