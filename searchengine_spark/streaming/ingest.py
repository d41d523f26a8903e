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

Compaction is LSM-shaped (layout v3, written by ``write_index``):

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
  all segments + deltas into a fresh ``seg=base`` generation —
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
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, functions as F

from searchengine_spark.index.build import (
    POSTING_ROW_SCHEMA,
    _bucket_entry,
    _dir_parquet_bytes,
    _doc_postings_gen,
    _manifest_dir,
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


def batch_postings(docs: DataFrame, field: str = "body", src_col: str = "text",
                   analyzer: str = "english") -> DataFrame:
    """Same tokenize->postings transform as the batch build, per batch."""
    return _batch_rows(docs, field, src_col, analyzer).where(F.col("term") != "")


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
    """
    meta_path = os.path.join(index_dir, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        v3 = int(meta.get("layout") or 1) >= 3
        if full_rewrite or not v3:
            _compact_major(spark, index_dir, meta)
            info = {"mode": "major"}
        else:
            info = {"mode": "minor", "phases": _compact_minor(spark, index_dir, meta)}
    else:
        _compact_plain(spark, index_dir)
        info = {"mode": "plain"}
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


def _write_manifest_entries(index_dir: str, touched, fp: str, wall: float) -> None:
    os.makedirs(_manifest_dir(index_dir), exist_ok=True)
    for b in touched:
        bdir = os.path.join(index_dir, "postings", f"bucket={b}")
        rec = {
            "bucket": int(b),
            "fingerprint": fp,
            "status": "ok",
            "bytes": _dir_parquet_bytes(bdir),
            "wall_sec_total_job": wall,
            "compacted": True,
        }
        tmp = _bucket_entry(index_dir, int(b)) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(rec, fh)
        os.replace(tmp, _bucket_entry(index_dir, int(b)))


def _write_meta(index_dir: str, meta: dict) -> None:
    meta_path = os.path.join(index_dir, "meta.json")
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh, indent=1)
    os.replace(tmp, meta_path)


def _append_seg(df: DataFrame, table_dir: str, seg: str, partition_cols: list[str]) -> None:
    """Land ``df`` as new ``seg=<seg>`` partition dirs under a live
    table. Dynamic partition overwrite replaces ONLY the partitions
    present in the data — i.e. this exact seg from a crashed previous
    attempt — and never touches base or other segments, so a replayed
    minor compaction is byte-idempotent."""
    (
        df.withColumn("seg", F.lit(seg))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols, "seg")
        .parquet(table_dir)
    )


def _compact_minor(spark: SparkSession, index_dir: str, meta: dict) -> dict:
    """Seg-append fold: delta -> new LSM segments, base untouched.

    Per compaction:

    - postings: delta rows re-bucketed with the base's partitioner (one
      ``xxhash64``) and written as ``bucket=B/seg=bLO_HI`` dirs — bucket
      pruning on term scans keeps working, and the base seg files in
      each bucket are not read;
    - term_stats: df/ctf sums are additive across disjoint doc sets, so
      the delta's stats land as their own seg dirs and ``read_index``
      folds them at read time;
    - doc_stats / docs: append-only by construction — new seg dirs;
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
    t0 = time.time()
    phases: dict[str, float] = {}

    def _mark(name: str) -> None:
        nonlocal t0
        now = time.time()
        phases[name] = round(now - t0, 3)
        t0 = now

    folded_through = int(meta.get("folded_through", -1))
    delta_root = os.path.join(index_dir, "delta")
    if not os.path.isdir(delta_root):
        return phases
    batch_ids = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(delta_root)
        if d.startswith("batch=")
    )
    batch_ids = [b for b in batch_ids if b > folded_through]
    if not batch_ids:
        return phases  # everything already folded; caller deletes the stale dirs
    seg = f"b{batch_ids[0]}_{batch_ids[-1]}"

    delta = _delta_union(spark, index_dir, "delta", after=folded_through)
    delta = delta.withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(buckets)).cast("int")
    ).persist()

    # The four output tables are independent of each other, and at crawl
    # deltas the doc-keyed side jobs are tiny — run them from concurrent
    # threads so their per-job fixed costs (scheduling, dynamic-overwrite
    # commit listing) overlap the postings/stats shuffles instead of
    # serializing onto the wall clock. Concurrent first-touch of the
    # persisted delta is safe: BlockManager serializes per-partition
    # cache materialization.
    salt = int(os.environ.get("SPARK_GRAFT_WRITE_SALT", "8"))
    stats_width = min(buckets, 8)

    def _postings_work() -> float:
        # new seg dirs under each touched bucket
        t = time.time()
        _append_seg(
            delta.repartition(
                buckets * salt, "bucket", F.pmod(F.col("doc_id"), F.lit(salt))
            ).sortWithinPartitions("term", "field", "doc_id"),
            os.path.join(index_dir, "postings"),
            seg,
            ["bucket"],
        )
        return round(time.time() - t, 3)

    def _stats_work() -> float:
        t = time.time()
        _append_seg(
            delta.groupBy("bucket", "term", "field")
            .agg(
                F.count(F.lit(1)).cast("long").alias("df"),
                F.sum("tf").cast("long").alias("ctf"),
            )
            .select("term", "field", "df", "ctf", "bucket")
            .repartition(stats_width, "bucket"),
            os.path.join(index_dir, "term_stats"),
            seg,
            ["bucket"],
        )
        return round(time.time() - t, 3)

    def _doc_stats_work() -> tuple[float, dict]:
        t = time.time()
        delta_ds = _delta_union(
            spark, index_dir, "delta_doc_stats", after=folded_through
        )
        if delta_ds is None:
            delta_ds = delta.select("doc_id", "field", "doc_len").distinct()
        delta_ds = delta_ds.select("doc_id", "field", "doc_len").persist()
        _append_seg(delta_ds, os.path.join(index_dir, "doc_stats"), seg, [])
        fs = {
            r["field"]: (int(r["dc"]), int(r["sl"]))
            for r in delta_ds.groupBy("field")
            .agg(F.count(F.lit(1)).alias("dc"), F.sum("doc_len").alias("sl"))
            .collect()
        }
        delta_ds.unpersist()
        return round(time.time() - t, 3), fs

    def _docs_work() -> tuple[float, int]:
        t = time.time()
        delta_docs = _delta_union(spark, index_dir, "delta_docs", after=folded_through)
        if delta_docs is None:
            delta_docs = delta.select("doc_id").distinct().select(
                "doc_id", F.col("doc_id").cast("string").alias("ext_id")
            )
        # align to the base docs schema (metadata cols -> null for delta)
        base_docs_schema = spark.read.parquet(os.path.join(index_dir, "docs")).schema
        aligned = delta_docs.select(
            *[
                F.col(f.name) if f.name in delta_docs.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in base_docs_schema.fields
                if f.name != "seg"
            ]
        )
        _append_seg(aligned, os.path.join(index_dir, "docs"), seg, [])
        n_new = delta_docs.select("doc_id").distinct().count()
        return round(time.time() - t, 3), n_new

    with ThreadPoolExecutor(max_workers=4) as pool:
        f_post = pool.submit(_postings_work)
        f_stats = pool.submit(_stats_work)
        f_ds = pool.submit(_doc_stats_work)
        f_docs = pool.submit(_docs_work)
        phases["postings_seg_write"] = f_post.result()
        phases["stats_seg_write"] = f_stats.result()
        ds_sec, delta_fs = f_ds.result()
        docs_sec, n_new = f_docs.result()
        phases["doc_side_seg_write"] = round(max(ds_sec, docs_sec), 3)
    _mark("concurrent_wall")
    delta.unpersist()

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
    for fld, (dc, sl) in delta_fs.items():
        cur = dict(field_stats.get(fld) or {"doc_count": 0, "sum_len": 0})
        cur["doc_count"] = int(cur.get("doc_count") or 0) + dc
        cur["sum_len"] = int(cur.get("sum_len") or 0) + sl
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
    _mark("meta_patch_aggs")
    _write_meta(index_dir, meta)
    _write_manifest_entries(index_dir, touched, fp, sum(phases.values()))
    _mark("publish")
    return phases


def _compact_major(spark: SparkSession, index_dir: str, meta: dict) -> None:
    """Fold base + every minor segment + un-folded deltas into a fresh
    ``seg=base`` generation (layout v3). Bounds segment-count growth,
    re-sorts and re-compresses row groups, and upgrades pre-v3 layouts.
    This is the heavyweight periodic pass — minor compactions are the
    per-crawl-cycle path."""
    buckets = int(meta.get("buckets") or 16)
    folded_through = int(meta.get("folded_through", -1))
    t0 = time.time()

    ts_tmp = os.path.join(index_dir, "term_stats.compact")
    ds_tmp = os.path.join(index_dir, "doc_stats.compact")
    docs_tmp = os.path.join(index_dir, "docs.compact")

    def _doc_stats_work() -> None:
        # doc_stats: base ∪ delta (docs are append-only; dedup keeps one
        # row per (doc_id, field)); flat legacy and seg layouts both read
        ds_frames = []
        base_ds = os.path.join(index_dir, "doc_stats")
        if os.path.isdir(base_ds):
            ds_frames.append(
                spark.read.parquet(base_ds).select("doc_id", "field", "doc_len")
            )
        delta_ds = _delta_union(
            spark, index_dir, "delta_doc_stats", after=folded_through
        )
        if delta_ds is None:
            # legacy deltas without side segments: lengths from postings
            delta_post = _delta_union(spark, index_dir, "delta", after=folded_through)
            if delta_post is not None:
                delta_ds = delta_post.select("doc_id", "field", "doc_len").distinct()
        if delta_ds is not None:
            ds_frames.append(delta_ds.select("doc_id", "field", "doc_len"))
        doc_stats = ds_frames[0]
        for fr in ds_frames[1:]:
            doc_stats = doc_stats.unionByName(fr)
        doc_stats = doc_stats.dropDuplicates(["doc_id", "field"])
        (
            doc_stats.withColumn("seg", F.lit("base"))
            .write.mode("overwrite")
            .partitionBy("seg")
            .parquet(ds_tmp)
        )

    def _docs_work() -> None:
        # docs table: base ∪ delta_docs, keeping every base metadata
        # column (n_chars/lang/... — getAttribute reads them); delta rows
        # carry only (doc_id, ext_id) and ext_id falls back to the doc_id
        # string for legacy deltas that carried no docs segment
        docs_frames = []
        base_docs = os.path.join(index_dir, "docs")
        if os.path.isdir(base_docs):
            fr = spark.read.parquet(base_docs)
            if "seg" in fr.columns:
                fr = fr.drop("seg")
            docs_frames.append(fr)
        delta_docs = _delta_union(spark, index_dir, "delta_docs", after=folded_through)
        if delta_docs is None:
            delta_post = _delta_union(spark, index_dir, "delta", after=folded_through)
            if delta_post is not None:
                delta_docs = delta_post.select("doc_id").distinct().select(
                    "doc_id", F.col("doc_id").cast("string").alias("ext_id")
                )
        if delta_docs is not None:
            docs_frames.append(delta_docs.select("doc_id", "ext_id"))
        docs = docs_frames[0]
        for fr in docs_frames[1:]:
            docs = docs.unionByName(fr, allowMissingColumns=True)
        docs = docs.dropDuplicates(["doc_id"])
        (
            docs.withColumn("seg", F.lit("base"))
            .write.mode("overwrite")
            .partitionBy("seg")
            .parquet(docs_tmp)
        )

    def _term_stats_work(merged: DataFrame) -> None:
        (
            merged.groupBy("bucket", "term", "field")
            .agg(
                F.count(F.lit(1)).cast("long").alias("df"),
                F.sum("tf").cast("long").alias("ctf"),
            )
            .select("term", "field", "df", "ctf", "bucket")
            .withColumn("seg", F.lit("base"))
            .repartition(buckets, "bucket")
            .write.mode("overwrite")
            .partitionBy("bucket", "seg")
            .parquet(ts_tmp)
        )

    # doc-keyed rebuilds are independent of the postings fold; the
    # term_stats rebuild depends only on the folded postings. Same
    # threaded shape as the minor path, so minor-vs-major comparisons
    # stay fair.
    with ThreadPoolExecutor(max_workers=4) as pool:
        f_ds = pool.submit(_doc_stats_work)
        f_docs = pool.submit(_docs_work)

        live = read_live_postings(spark, index_dir)
        salt = int(os.environ.get("SPARK_GRAFT_WRITE_SALT", "8"))
        bucketed = live.withColumn(
            "bucket", F.pmod(F.xxhash64("term"), F.lit(buckets)).cast("int")
        ).withColumn("seg", F.lit("base"))
        post_tmp = os.path.join(index_dir, "postings.compact")
        (
            bucketed.repartition(
                buckets * salt, "bucket", F.pmod(F.col("doc_id"), F.lit(salt))
            )
            .sortWithinPartitions("term", "field", "doc_id")
            .write.mode("overwrite")
            .partitionBy("bucket", "seg")
            .parquet(post_tmp)
        )
        merged = spark.read.parquet(post_tmp)

        # side tables rebuilt in layout v3 (bucket+seg partitioned) so
        # the next compaction can run minor
        f_ts = pool.submit(_term_stats_work, merged)
        for f in (f_ts, f_ds, f_docs):
            f.result()

    new_ds = spark.read.parquet(ds_tmp)
    # count from the merged docs table — doc_stats excludes zero-length
    # docs, so counting its distinct ids would undercount N (and skew idf)
    n_docs = max(
        int(meta.get("n_docs") or 0),
        spark.read.parquet(docs_tmp).count(),
    )
    field_stats = {
        r["field"]: {
            "doc_count": int(r["doc_count"]),
            "sum_len": int(r["sum_len"]),
            "avg_len": float(r["sum_len"]) / max(1, int(r["doc_count"])),
        }
        for r in new_ds.groupBy("field")
        .agg(F.count(F.lit(1)).alias("doc_count"), F.sum("doc_len").alias("sum_len"))
        .collect()
    }
    for fld in meta.get("fields", []):
        field_stats.setdefault(fld, {"doc_count": 0, "sum_len": 0, "avg_len": 0.0})

    # highest delta batch folded by this pass (if any deltas existed)
    delta_root = os.path.join(index_dir, "delta")
    if os.path.isdir(delta_root):
        ids = [
            int(d.split("=", 1)[1])
            for d in os.listdir(delta_root)
            if d.startswith("batch=")
        ]
        if ids:
            folded_through = max(folded_through, max(ids))

    # swap everything in, then refresh meta + manifests
    _swap(post_tmp, os.path.join(index_dir, "postings"))
    _swap(ts_tmp, os.path.join(index_dir, "term_stats"))
    _swap(ds_tmp, os.path.join(index_dir, "doc_stats"))
    _swap(docs_tmp, os.path.join(index_dir, "docs"))

    n_compactions = int(meta.get("compactions") or 0) + 1
    fp = f"compact|ndocs={n_docs}|analyzer={meta.get('analyzer')}|fields={','.join(meta.get('fields', []))}"
    meta.update(
        {"n_docs": n_docs, "field_stats": field_stats, "fingerprint": fp,
         "buckets": buckets,
         "compactions": n_compactions, "layout": 3,
         "folded_through": folded_through, "segs": []}
    )
    _write_meta(index_dir, meta)
    _write_manifest_entries(
        index_dir, list(range(buckets)), fp, round(time.time() - t0, 3)
    )
