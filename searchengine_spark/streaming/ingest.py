"""Incremental index maintenance via Structured Streaming.

The reference is strictly batch (SURVEY.md §2.10) and the north rule
asks for a *checkpoint-resumable* build. Batch resume is handled by
``index.build.write_index`` manifests; this module adds the streaming
path: new page files land in a directory, a Structured Streaming job
tokenizes each micro-batch and appends **delta posting segments** (plus
delta doc_stats / docs side segments); a compaction merges deltas into
the index. Exactly-once comes from the streaming checkpoint
(file-source offsets) + idempotent per-batch output paths
(overwrite-by-batch-id) + a ``folded_through`` batch watermark in
meta.json that makes the fold itself replay-safe.

Compaction is LSM-shaped. Layout v3 has one writer,
``index.build.write_tables``: ``write_index`` calls it for the
``seg=base`` generation and both compactions below call it too; this
module only decides what goes into a generation and patches meta.json.

- **minor** (the default): the delta is re-bucketed and lands as NEW
  ``bucket=B/seg=bLO_HI`` partition dirs under postings, and as
  append-only ``seg=`` dirs under term_stats / doc_stats / docs. df/ctf
  are additive across segments, so ``read_index`` folds them with a
  vocab-sized aggregate — **no base byte is read or rewritten**. Cost
  scales with DELTA size. (A per-bucket base rewrite was measured first
  and rejected: natural text deltas touch every term bucket, so
  "rewrite touched buckets" degenerates to a full rewrite plus
  overhead.)
- **major** (``full_rewrite=True``, or any pre-v3 layout): fold base +
  all segments + deltas into a fresh ``seg=base`` generation, written
  to a scratch root and swapped in table by table —
  bounding segment-count growth and compacting row groups. This is the
  periodic background pass; at 100 TB it runs rarely and off-peak,
  while minor compactions keep the live index fresh per crawl cycle.

Why not rewrite only touched buckets? Measured at 20k pages / 10%
delta: every one of 32 buckets was touched (zipf vocab ⇒ each doc
spans the term space), making "incremental" 1.45× SLOWER than the full
rewrite. Segment append is the only shape whose cost is O(delta).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from searchengine_spark.index.build import (
    DOC_TABLES,
    POSTING_ROW_SCHEMA,
    TERM_TABLES,
    _doc_postings_gen,
    field_stats_of,
    write_manifests,
    write_meta,
    write_tables,
)

PAGE_SCHEMA = "doc_id long, url string, warc_ts timestamp, html binary, text string, lang string"


def _batch_rows(docs: DataFrame, field: str = "body", src_col: str = "text",
                analyzer: str = "english") -> DataFrame:
    """Fused tokenize+positions+encode rows (incl. term='' doc_len
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
    ``compact`` needs to fold the docs into the base side tables.

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


def _folded_through(index_dir: str) -> int:
    """Highest delta batch id already folded into the index (-1: none).

    Makes the fold replay-safe: if a crash lands between the meta write
    and the delta deletion and NEW batches then arrive, the next
    compaction must skip the already-folded batch dirs or their docs
    would be double-counted (segments cannot be deduped after the fact
    the way the old merge-rewrite could)."""
    meta_path = os.path.join(index_dir, "meta.json")
    if not os.path.exists(meta_path):
        return -1
    with open(meta_path) as fh:
        return int(json.load(fh).get("folded_through", -1))


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
    """Union base postings (all folded segments) with un-folded deltas.

    Replay-safe: delta batch dirs at or below the meta ``folded_through``
    watermark are already inside the base segments and are excluded."""
    frames = []
    base = os.path.join(index_dir, "postings")
    if os.path.isdir(base):
        fr = spark.read.parquet(base)
        for helper in ("bucket", "seg"):
            if helper in fr.columns:
                fr = fr.drop(helper)
        frames.append(fr)
    delta = _delta_union(spark, index_dir, "delta", after=_folded_through(index_dir))
    if delta is not None:
        frames.append(delta)
    if not frames:
        raise FileNotFoundError(f"no postings under {index_dir}")
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


def _swap(tmp: str, final: str) -> None:
    if os.path.isdir(final):
        shutil.rmtree(final)
    os.replace(tmp, final)


def _batch_ids(index_dir: str) -> list[int]:
    """Delta batch ids on disk, ascending."""
    root = os.path.join(index_dir, "delta")
    if not os.path.isdir(root):
        return []
    return sorted(int(d.split("=", 1)[1]) for d in os.listdir(root) if d.startswith("batch="))


def _delta_frames(
    spark: SparkSession, index_dir: str, after: int
) -> tuple[DataFrame, DataFrame, DataFrame] | None:
    """The un-folded delta batches' (postings, doc_stats, docs), or None
    without a delta. Deltas written before the side segments existed
    fall back to what their postings carry: lengths from ``doc_len``,
    the doc_id string as ``ext_id``."""
    postings = _delta_union(spark, index_dir, "delta", after)
    if postings is None:
        return None
    doc_stats = _delta_union(spark, index_dir, "delta_doc_stats", after)
    if doc_stats is None:
        doc_stats = postings.select("doc_id", "field", "doc_len").distinct()
    docs = _delta_union(spark, index_dir, "delta_docs", after)
    if docs is None:
        docs = postings.select("doc_id").distinct().select(
            "doc_id", F.col("doc_id").cast("string").alias("ext_id")
        )
    return (
        postings,
        doc_stats.select("doc_id", "field", "doc_len"),
        docs.select("doc_id", "ext_id"),
    )


def compact(spark: SparkSession, index_dir: str, full_rewrite: bool = False) -> dict:
    """Fold delta segments into the index (idempotent, replay-safe).

    - plain delta-only / unbucketed dir: merged postings rewritten
      term-partitioned (no side tables to maintain);
    - persisted **layout v3**: MINOR seg-append — the delta lands as
      new ``seg=`` partition dirs, base bytes are never read or
      rewritten, and cost scales with delta size (the 100-TB
      requirement; see module docstring for why per-bucket rewrite was
      rejected);
    - ``full_rewrite=True`` or a pre-v3 layout: MAJOR fold of base +
      segments + deltas into a fresh ``seg=base`` generation (also the
      upgrade path — the next compaction runs minor).

    Returns ``{"mode", "phases"}``; ``phases`` holds the seconds per
    table written (``write_tables``), empty when nothing was written.
    """
    meta_path = os.path.join(index_dir, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        if full_rewrite or int(meta.get("layout") or 1) < 3:
            info = {"mode": "major", "phases": _compact_major(spark, index_dir, meta)}
        else:
            info = {"mode": "minor", "phases": _compact_minor(spark, index_dir, meta)}
    else:
        _compact_plain(spark, index_dir)
        info = {"mode": "plain", "phases": {}}
    for name in ("delta", "delta_doc_stats", "delta_docs"):
        d = os.path.join(index_dir, name)
        if os.path.isdir(d):
            shutil.rmtree(d)
    return info


def _compact_plain(spark: SparkSession, index_dir: str) -> None:
    live = read_live_postings(spark, index_dir)
    tmp = os.path.join(index_dir, "postings.compact")
    live.repartition("term").sortWithinPartitions("term", "field", "doc_id").write.mode(
        "overwrite"
    ).parquet(tmp)
    _swap(tmp, os.path.join(index_dir, "postings"))


def _compact_minor(spark: SparkSession, index_dir: str, meta: dict) -> dict:
    """Seg-append fold: delta -> new LSM segments, base untouched.

    Per compaction:

    - the delta's four tables land as generation ``seg=bLO_HI`` through
      ``write_tables``: postings re-bucketed with the base's partitioner
      (bucket pruning on term scans keeps working, and the base seg
      files in each bucket are not read); term_stats as the delta's
      df/ctf, which ``read_index`` folds with the base's at read time;
      doc_stats / docs are append-only by construction;
    - meta.json: n_docs / field_stats patched arithmetically from the
      delta side segments (no full-table agg); ``folded_through``
      advances to the highest folded batch id; per-bucket lineage
      manifests refreshed for buckets that gained a segment.

    Crash-safe: deltas are deleted only after the meta commit; a re-run
    recomputes the same seg name from the same batch-id range and
    dynamic-overwrites the same partition dirs; once meta commits,
    ``folded_through`` excludes the folded batches even if new ones
    have arrived alongside the stale dirs.
    """
    buckets = int(meta.get("buckets") or 16)
    folded_through = int(meta.get("folded_through", -1))
    batch_ids = [b for b in _batch_ids(index_dir) if b > folded_through]
    if not batch_ids:
        return {}  # everything already folded; caller deletes the stale dirs
    seg = f"b{batch_ids[0]}_{batch_ids[-1]}"

    postings, doc_stats, docs = _delta_frames(spark, index_dir, folded_through)
    # align to the base docs schema (metadata cols -> null for delta)
    base_docs_schema = spark.read.parquet(os.path.join(index_dir, "docs")).schema
    aligned = docs.select(
        *[
            F.col(f.name) if f.name in docs.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in base_docs_schema.fields
            if f.name != "seg"
        ]
    )
    doc_stats = doc_stats.persist()
    try:
        delta_fs = field_stats_of(doc_stats)
        phases = write_tables(index_dir, seg, buckets, delta_fs, postings, doc_stats, aligned)
    finally:
        doc_stats.unpersist()
    n_new = docs.select("doc_id").distinct().count()

    # touched buckets come from the dirs the write just created — no
    # extra full-delta distinct pass just to learn them. An empty list
    # (all-empty-body delta) still falls through to the meta patch: the
    # docs/doc_stats segments above were written and n_docs must advance.
    post_dir = os.path.join(index_dir, "postings")
    touched = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(post_dir)
        if d.startswith("bucket=")
        and os.path.isdir(os.path.join(post_dir, d, f"seg={seg}"))
    )
    field_stats = dict(meta.get("field_stats") or {})
    for fld, delta in delta_fs.items():
        cur = dict(field_stats.get(fld) or {"doc_count": 0, "sum_len": 0})
        cur["doc_count"] = int(cur.get("doc_count") or 0) + delta["doc_count"]
        cur["sum_len"] = int(cur.get("sum_len") or 0) + delta["sum_len"]
        cur["avg_len"] = cur["sum_len"] / max(1, cur["doc_count"])
        field_stats[fld] = cur
    n_docs = int(meta.get("n_docs") or 0) + n_new
    n_compactions = int(meta.get("compactions") or 0) + 1

    fp = (
        f"compact{n_compactions}|ndocs={n_docs}|analyzer={meta.get('analyzer')}"
        f"|fields={','.join(meta.get('fields', []))}"
    )
    meta.update(
        {
            "n_docs": n_docs,
            "field_stats": field_stats,
            "fingerprint": fp,
            "buckets": buckets,
            "compactions": n_compactions,
            "layout": 3,
            "folded_through": batch_ids[-1],
            # observability: which minor segments the base carries (a
            # major compaction folds them away and resets the list)
            "segs": (list(meta.get("segs") or []) + [seg])[-64:],
        }
    )
    write_meta(index_dir, meta)
    write_manifests(index_dir, touched, fp, phases["postings"], compacted=True)
    return phases


def _compact_major(spark: SparkSession, index_dir: str, meta: dict) -> dict:
    """Fold base + every minor segment + un-folded deltas into a fresh
    ``seg=base`` generation (layout v3). Bounds segment-count growth,
    re-sorts and re-compresses row groups, and upgrades pre-v3 layouts.
    This is the heavyweight periodic pass — minor compactions are the
    per-crawl-cycle path."""
    buckets = int(meta.get("buckets") or 16)
    folded_through = int(meta.get("folded_through", -1))

    # doc-keyed tables: base ∪ delta. Docs are append-only; the dedup
    # keeps one row per key. docs keeps every base metadata column
    # (n_chars/lang/... — getAttribute reads them); delta rows carry
    # only (doc_id, ext_id). Flat legacy and seg layouts both read.
    doc_stats = spark.read.parquet(os.path.join(index_dir, "doc_stats")).select(
        "doc_id", "field", "doc_len"
    )
    docs = spark.read.parquet(os.path.join(index_dir, "docs"))
    if "seg" in docs.columns:
        docs = docs.drop("seg")
    delta = _delta_frames(spark, index_dir, folded_through)
    if delta is not None:
        doc_stats = doc_stats.unionByName(delta[1])
        docs = docs.unionByName(delta[2], allowMissingColumns=True)

    # one generation into a scratch root, then swapped in table by table
    tmp = os.path.join(index_dir, "_compact")
    shutil.rmtree(tmp, ignore_errors=True)
    doc_stats = doc_stats.dropDuplicates(["doc_id", "field"]).persist()
    try:
        field_stats = field_stats_of(doc_stats, meta.get("fields", []))
        phases = write_tables(
            tmp, "base", buckets, field_stats,
            read_live_postings(spark, index_dir), doc_stats, docs.dropDuplicates(["doc_id"]),
        )
    finally:
        doc_stats.unpersist()
    # count from the merged docs table — doc_stats excludes zero-length
    # docs, so counting its distinct ids would undercount N (and skew idf)
    n_docs = max(
        int(meta.get("n_docs") or 0),
        spark.read.parquet(os.path.join(tmp, "docs")).count(),
    )
    # highest delta batch folded by this pass (if any deltas existed)
    folded_through = max([folded_through, *_batch_ids(index_dir)])

    for table in TERM_TABLES + DOC_TABLES:
        _swap(os.path.join(tmp, table), os.path.join(index_dir, table))
    shutil.rmtree(tmp)

    n_compactions = int(meta.get("compactions") or 0) + 1
    fp = f"compact|ndocs={n_docs}|analyzer={meta.get('analyzer')}|fields={','.join(meta.get('fields', []))}"
    meta.update(
        {"n_docs": n_docs, "field_stats": field_stats, "fingerprint": fp,
         "buckets": buckets,
         "compactions": n_compactions, "layout": 3,
         "folded_through": folded_through, "segs": []}
    )
    write_meta(index_dir, meta)
    write_manifests(index_dir, range(buckets), fp, phases["postings"], compacted=True)
    return phases
