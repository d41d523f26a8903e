"""Incremental index maintenance via Structured Streaming.

The reference is strictly batch (SURVEY.md §2.10) and the north rule
asks for a *checkpoint-resumable* build. Batch resume is handled by
``index.build.write_index`` manifests; this module adds the streaming
path: new page files land in a directory, a Structured Streaming job
tokenizes each micro-batch and appends **delta posting segments** (plus
delta doc_stats / docs side segments); a compaction folds deltas into
the index. Exactly-once comes from the streaming checkpoint
(file-source offsets) + idempotent per-batch output paths
(overwrite-by-batch-id) + a ``folded_through`` batch watermark in
meta.json that makes the fold itself replay-safe.

Both compactions follow the index's one commit rule (``index.build``):
write the new generation through ``write_tables`` as new ``seg=`` dirs,
then commit it with ``write_meta``, whose ``segs`` list names the live
generations. A dir without meta.json is an empty index; its first
compaction is a minor fold onto nothing, and commits the analyzer the
delta batches name; every compaction rejects batches of another
analyzer than the index's.

- **minor** (the default): the delta lands as generation
  ``seg=bLO_HI`` (delta batches LO..HI) of every table, postings
  re-bucketed with the index's partitioner; the commit appends it to
  ``segs``. df/ctf are additive across generations, so ``read_index``
  folds them with a vocab-sized aggregate — **no live byte is read or
  rewritten**. Cost scales with DELTA size.
- **major** (``full_rewrite=True``): fold every live generation and the
  deltas into one fresh generation ``seg=m<digest>``, committed as the
  only live one — bounding segment-count growth and compacting row
  groups. This is the periodic background pass; at 100 TB it runs
  rarely and off-peak, while minor compactions keep the live index
  fresh per crawl cycle.

Why not rewrite only touched buckets? Measured at 20k pages / 10%
delta: every one of 32 buckets was touched (zipf vocab ⇒ each doc
spans the term space), making "incremental" 1.45× SLOWER than the full
rewrite. Segment append is the only shape whose cost is O(delta).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from searchengine_spark.analyzer import analyzer_version
from searchengine_spark.index.build import (
    LAYOUT,
    POSTING_ROW_SCHEMA,
    _doc_postings_gen,
    _write_json,
    check_layout,
    field_stats_of,
    read_meta,
    read_table,
    seg_name,
    write_manifests,
    write_meta,
    write_tables,
)

PAGE_SCHEMA = "doc_id long, url string, warc_ts timestamp, html binary, text string, lang string"
# per delta batch: the analyzer that tokenized it (meta.json's keys)
BATCH_ANALYZER = "_analyzer.json"


def _batch_rows(docs: DataFrame, field: str = "body", src_col: str = "text",
                analyzer: str = "english") -> DataFrame:
    """Fused tokenize+positions rows (incl. term='' doc_len
    sentinels) — the same shuffle-free kernel as the batch build."""
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col(src_col).cast("string").alias("__src"),
    ).mapInPandas(_doc_postings_gen(analyzer, field, "__src"), POSTING_ROW_SCHEMA)


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
    """Stream page parquet files from ``input_dir`` into delta segments.

    Per batch writes three idempotent segments (overwrite-by-batch-id):
    ``delta/batch=N`` postings, ``delta_doc_stats/batch=N`` field
    lengths, ``delta_docs/batch=N`` (doc_id, ext_id) — everything
    ``compact`` needs to fold the docs into the base side tables — and
    ``delta/batch=N/_analyzer.json``, the analyzer name and version the
    batch was tokenized with (the first compaction of a streamed-only
    index commits them; a later one checks them against meta.json).

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
    stream = reader.parquet(input_dir)
    tokenized_by = {"analyzer": analyzer, "analyzer_version": analyzer_version(analyzer)}

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        rows = _batch_rows(batch_df, field=field, analyzer=analyzer).persist()
        try:
            out = os.path.join(index_dir, "delta", f"batch={batch_id}")
            rows.where(F.col("term") != "").write.mode("overwrite").parquet(out)
            # doc_len sentinels from the same pass — no second tokenize
            rows.where((F.col("term") == "") & (F.col("doc_len") > 0)).select(
                "doc_id", "field", "doc_len"
            ).write.mode("overwrite").parquet(
                os.path.join(index_dir, "delta_doc_stats", f"batch={batch_id}")
            )
            batch_df.select(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.col("url").cast("string").alias("ext_id"),
            ).write.mode("overwrite").parquet(
                os.path.join(index_dir, "delta_docs", f"batch={batch_id}")
            )
            _write_json(os.path.join(out, BATCH_ANALYZER), tokenized_by)
        finally:
            rows.unpersist()

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _delta_union(
    spark: SparkSession, index_dir: str, name: str, after: int = -1
) -> DataFrame | None:
    d = os.path.join(index_dir, name)
    if not os.path.isdir(d):
        return None
    df = spark.read.option("basePath", d).parquet(d + "/batch=*")
    if after >= 0:
        df = df.where(F.col("batch") > after)
    return df.drop("batch")


def read_live_postings(spark: SparkSession, index_dir: str) -> DataFrame:
    """Union the committed generations' postings with un-folded deltas.

    Replay-safe: delta batch dirs at or below the meta ``folded_through``
    watermark are already inside a committed generation and are excluded."""
    meta = read_meta(index_dir)
    frames = []
    if meta.get("segs"):
        frames.append(read_table(spark, index_dir, "postings", meta["segs"]).drop("bucket"))
    delta = _delta_union(spark, index_dir, "delta", after=int(meta.get("folded_through", -1)))
    if delta is not None:
        frames.append(delta)
    if not frames:
        raise FileNotFoundError(f"no postings under {index_dir}")
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


def _batch_ids(index_dir: str, after: int) -> list[int]:
    """Delta batch ids above ``after`` on disk, ascending."""
    root = os.path.join(index_dir, "delta")
    if not os.path.isdir(root):
        return []
    ids = (int(d.split("=", 1)[1]) for d in os.listdir(root) if d.startswith("batch="))
    return sorted(i for i in ids if i > after)


def _adopt_analyzer(index_dir: str, batch_ids: list[int], meta: dict) -> None:
    """Check that delta batches ``batch_ids`` were tokenized with the
    index's analyzer (``ValueError`` otherwise: their terms would not
    match the index's or the queries'), and record it in ``meta`` when
    meta.json names none — the first compaction of a streamed-only
    index. A batch without a record names no analyzer."""
    seen = {}
    if meta.get("analyzer"):
        seen["meta.json"] = (meta["analyzer"], meta.get("analyzer_version"))
    for b in batch_ids:
        try:
            with open(os.path.join(index_dir, "delta", f"batch={b}", BATCH_ANALYZER)) as f:
                rec = json.load(f)
        except FileNotFoundError:
            continue
        seen[f"batch {b}"] = (rec["analyzer"], rec["analyzer_version"])
    if len(set(seen.values())) > 1:
        raise ValueError(
            f"delta batches under {index_dir} were tokenized with another "
            f"analyzer than the index: {seen}. Re-ingest them with the "
            "index's analyzer."
        )
    if not meta.get("analyzer"):
        meta["analyzer"], meta["analyzer_version"] = next(iter(seen.values()), (None, None))


def _delta_frames(
    spark: SparkSession, index_dir: str, after: int
) -> tuple[DataFrame, DataFrame, DataFrame] | None:
    """The un-folded delta batches' (postings, doc_stats, docs), or None
    without a delta."""
    postings = _delta_union(spark, index_dir, "delta", after)
    if postings is None:
        return None
    return (
        postings,
        _delta_union(spark, index_dir, "delta_doc_stats", after).select("doc_id", "field", "doc_len"),
        _delta_union(spark, index_dir, "delta_docs", after).select("doc_id", "ext_id"),
    )


def compact(spark: SparkSession, index_dir: str, full_rewrite: bool = False) -> dict:
    """Fold the delta segments into the index (idempotent, replay-safe).

    - MINOR (the default): the delta becomes one new generation appended
      to the live ones; no live byte is read or rewritten, and cost
      scales with delta size (the 100-TB requirement; see the module
      docstring for why per-bucket rewrite was rejected). A dir without
      meta.json is an empty index, and this is its first generation;
    - ``full_rewrite=True``: MAJOR fold of every live generation and
      the deltas into one fresh generation.

    Either way the new generation goes live in one ``write_meta``
    commit; the folded delta batches are deleted after it. Returns
    ``{"mode", "phases"}``; ``phases`` holds the seconds per table
    written (``write_tables``), empty when nothing was written.
    """
    meta = read_meta(index_dir)
    if meta:
        check_layout(meta, index_dir)
    if meta and full_rewrite:
        info = {"mode": "major", "phases": _compact_major(spark, index_dir, meta)}
    else:
        info = {"mode": "minor", "phases": _compact_minor(spark, index_dir, meta)}
    # only the folded batches: one that landed during the compaction
    # waits for the next one
    folded = int(read_meta(index_dir).get("folded_through", -1))
    for name in ("delta", "delta_doc_stats", "delta_docs"):
        root = os.path.join(index_dir, name)
        for d in glob.glob(os.path.join(root, "batch=*")):
            if int(d.rsplit("=", 1)[1]) <= folded:
                shutil.rmtree(d)
        with contextlib.suppress(OSError):  # absent, or a new batch
            os.rmdir(root)
    return info


def _compact_minor(spark: SparkSession, index_dir: str, meta: dict) -> dict:
    """Seg-append fold: delta -> one new generation, live ones untouched.

    Per compaction:

    - the delta's four tables land as generation ``seg=bLO_HI`` through
      ``write_tables``: postings re-bucketed with the index's partitioner
      (bucket pruning on term scans keeps working, and no live file in
      any bucket is read); term_stats as the delta's df/ctf, which
      ``read_index`` folds with the live ones at read time; doc_stats /
      docs are append-only by construction;
    - the meta.json commit appends the seg to ``segs``, patches n_docs /
      field_stats arithmetically from the delta side segments (no
      full-table agg) and advances ``folded_through`` to the highest
      folded batch id; per-bucket lineage manifests are refreshed for
      buckets that gained a segment.

    Crash-safe: a re-run before the commit recomputes the same seg name
    from the same batch-id range and overwrites its own dirs; once meta
    commits, ``folded_through`` excludes the folded batches even if new
    ones have arrived alongside the stale dirs.
    """
    buckets = int(meta.get("buckets") or 16)
    folded_through = int(meta.get("folded_through", -1))
    batch_ids = _batch_ids(index_dir, folded_through)
    if not batch_ids:
        return {}  # everything already folded; caller deletes the stale dirs
    seg = f"b{batch_ids[0]}_{batch_ids[-1]}"
    segs = list(meta.get("segs") or [])
    _adopt_analyzer(index_dir, batch_ids, meta)

    postings, doc_stats, docs = _delta_frames(spark, index_dir, folded_through)
    if segs:
        # align to the live docs schema (metadata cols -> null for delta)
        docs = docs.select(
            *[
                F.col(f.name) if f.name in docs.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in read_table(spark, index_dir, "docs", segs).schema.fields
            ]
        )
    doc_stats = doc_stats.persist()
    try:
        delta_fs = field_stats_of(doc_stats)
        phases = write_tables(index_dir, seg, buckets, delta_fs, postings, doc_stats, docs)
    finally:
        doc_stats.unpersist()
    n_new = docs.select("doc_id").distinct().count()

    # touched buckets come from the dirs the write just created — no
    # extra full-delta distinct pass just to learn them. An empty list
    # (all-empty-body delta) still falls through to the commit: the
    # docs/doc_stats segments above were written and n_docs must advance.
    touched = [
        b for b in range(buckets)
        if os.path.isdir(os.path.join(index_dir, "postings", f"bucket={b}", f"seg={seg}"))
    ]
    field_stats = dict(meta.get("field_stats") or {})
    for fld, delta in delta_fs.items():
        cur = dict(field_stats.get(fld) or {"doc_count": 0, "sum_len": 0})
        cur["doc_count"] = int(cur.get("doc_count") or 0) + delta["doc_count"]
        cur["sum_len"] = int(cur.get("sum_len") or 0) + delta["sum_len"]
        cur["avg_len"] = cur["sum_len"] / max(1, cur["doc_count"])
        field_stats[fld] = cur
    n_docs = int(meta.get("n_docs") or 0) + n_new
    n_compactions = int(meta.get("compactions") or 0) + 1
    # a fold onto nothing records the delta's fields
    meta.setdefault("fields", sorted(field_stats))

    fp = (
        f"compact{n_compactions}|ndocs={n_docs}|analyzer={meta['analyzer']}"
        f"|fields={','.join(meta['fields'])}"
    )
    meta.update(
        {
            "n_docs": n_docs,
            "field_stats": field_stats,
            "fingerprint": fp,
            "buckets": buckets,
            "compactions": n_compactions,
            "layout": LAYOUT,
            "folded_through": batch_ids[-1],
            "segs": segs + [seg],
        }
    )
    write_meta(index_dir, meta)
    write_manifests(index_dir, touched, seg, fp, phases["postings"], compacted=True)
    return phases


def _compact_major(spark: SparkSession, index_dir: str, meta: dict) -> dict:
    """Fold every live generation + un-folded deltas into one fresh
    generation ``seg=m<digest>`` (named from the generations and batches
    folded), committed as the only live one. Bounds segment-count
    growth and re-sorts and re-compresses row groups. This is the
    heavyweight periodic pass — minor compactions are the
    per-crawl-cycle path."""
    buckets = int(meta.get("buckets") or 16)
    folded_through = int(meta.get("folded_through", -1))
    segs = meta["segs"]
    batch_ids = _batch_ids(index_dir, folded_through)
    _adopt_analyzer(index_dir, batch_ids, meta)
    seg = seg_name("m", *segs, *batch_ids)

    # doc-keyed tables: live ∪ delta. Docs are append-only; the dedup
    # keeps one row per key. docs keeps every live metadata column
    # (n_chars/lang/... — getAttribute reads them); delta rows carry
    # only (doc_id, ext_id).
    doc_stats = read_table(spark, index_dir, "doc_stats", segs).select("doc_id", "field", "doc_len")
    docs = read_table(spark, index_dir, "docs", segs)
    delta = _delta_frames(spark, index_dir, folded_through)
    if delta is not None:
        doc_stats = doc_stats.unionByName(delta[1])
        docs = docs.unionByName(delta[2], allowMissingColumns=True)

    doc_stats = doc_stats.dropDuplicates(["doc_id", "field"]).persist()
    try:
        field_stats = field_stats_of(doc_stats, meta.get("fields", []))
        phases = write_tables(
            index_dir, seg, buckets, field_stats,
            read_live_postings(spark, index_dir), doc_stats, docs.dropDuplicates(["doc_id"]),
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
         "buckets": buckets,
         "compactions": n_compactions, "layout": LAYOUT,
         "folded_through": max([folded_through, *batch_ids]), "segs": [seg]}
    )
    write_meta(index_dir, meta)
    write_manifests(index_dir, range(buckets), seg, fp, phases["postings"], compacted=True)
    return phases
