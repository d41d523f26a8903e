"""Inverted-index build: docs -> positional postings DataFrames.

The reference consumed prebuilt Lucene indexes; this module is the half
Lucene did for it, re-expressed as a Spark job (cf. SURVEY.md §1.4, §7.3).

Layout (chosen for 100 TB scale, not translated from the reference):

- ``postings``   — one row per (term, field, doc): ``term string, field
  string, doc_id long, tf int, doc_len int, positions array<int>``. The
  positions are the ascending token slots of the term in the doc, stored as
  a plain Parquet list: its dictionary/RLE encoding compresses the small
  ints, and every reader (merge kernels, ``#SYN``, LeToR) takes the lists
  as they are, with no codec. ``doc_len`` is denormalized
  onto the posting row so BM25/Indri leaf scoring needs **no join** — the
  whole scorer is a column expression over one scan. Parquet dictionary/RLE
  encoding makes the duplication cheap; the join it removes would shuffle
  the full candidate set per query.
- ``term_stats`` — per (term, field): ``df long, ctf long`` (InvList.java
  header equivalents), the term dictionary: queries look df/ctf up
  driver-side (``InvertedIndex.lookup_term_stats``).
- ``doc_stats``  — per (doc_id, field): ``doc_len int`` (Idx.getFieldLength).
- ``meta``       — the commit (meta.json): corpus scalars (n_docs,
  per-field doc_count / sum_len / avg_len, analyzer name) and the live
  generations (``segs``; see "Layout v5" below).

Skew note: posting rows are produced entirely task-locally (one
mapInPandas pass over every field — a doc's postings never cross an exchange),
so the only wide op in the build is ``groupBy(term, field)`` for df/ctf
(partial aggregation map-side combines head terms before the shuffle).
We never ``collect_list`` a full posting list per term, so
stopword-grade terms cannot blow a single reducer.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field as dc_field

import pandas as pd
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession, functions as F

from searchengine_spark.analyzer import analyzer_version, get_analyzer
from searchengine_spark.functions.xxh64 import term_bucket

DEFAULT_FIELDS = ("body",)


POSTING_ROW_SCHEMA = (
    "term string, field string, doc_id long, tf int, doc_len int, positions array<int>"
)


def _doc_postings_gen(analyzer_name: str, fields: dict[str, str]):
    """mapInPandas kernel: one doc in -> its complete posting rows out,
    for every field (``fields``: index field -> input column).

    Postings are a per-(doc, term) quantity, so tokenize, position
    collection and tf all happen inside ONE Arrow
    batch pass with NO shuffle — the posexplode->groupBy alternative
    ships one row per token occurrence (~corpus token count) through an
    exchange just to reassemble what each doc already knew. Every field
    rides the same pass, so each doc crosses the Python boundary once.
    A sentinel row (term='') per (doc, field) carries doc_len for
    doc_stats and the corpus stats, 0 for an empty or null field.
    """
    from searchengine_spark.analyzer import get_analyzer

    an = get_analyzer(analyzer_name)

    def gen(batches):
        for pdf in batches:
            terms, flds, dids, tfs, dls, plists = [], [], [], [], [], []
            for fld, src in fields.items():
                for did, text in zip(pdf["doc_id"], pdf[src]):
                    did = int(did)
                    toks = an.tokens(text if isinstance(text, str) else "")
                    dl = len(toks)
                    bypos: dict[str, list[int]] = {}
                    for pos, t in enumerate(toks):
                        if t:
                            bypos.setdefault(t, []).append(pos)
                    terms.append("")
                    flds.append(fld)
                    dids.append(did)
                    tfs.append(0)
                    dls.append(dl)
                    plists.append([])
                    for t, plist in bypos.items():
                        terms.append(t)
                        flds.append(fld)
                        dids.append(did)
                        tfs.append(len(plist))
                        dls.append(dl)
                        plists.append(plist)
            yield pd.DataFrame(
                {
                    "term": terms,
                    "field": flds,
                    "doc_id": dids,
                    "tf": tfs,
                    "doc_len": dls,
                    "positions": plists,
                }
            )

    return gen


def split_rows(rows: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The kernel's rows as (postings, sentinels, doc_stats): doc_stats
    holds the (doc_id, field, doc_len) of the non-empty fields."""
    sentinels = rows.where(F.col("term") == "")
    doc_stats = sentinels.where(F.col("doc_len") > 0).select("doc_id", "field", "doc_len")
    return rows.where(F.col("term") != ""), sentinels, doc_stats


@dataclass
class InvertedIndex:
    """Handle to the built index (lazy DataFrames + broadcast scalars)."""

    spark: SparkSession
    postings: DataFrame
    term_stats: DataFrame
    doc_stats: DataFrame
    docs: DataFrame  # doc_id, ext_id (+ any metadata attribute columns)
    n_docs: int
    field_stats: dict  # field -> {doc_count, sum_len, avg_len}
    analyzer: str
    fields: tuple = dc_field(default=DEFAULT_FIELDS)
    # set when postings carry the persisted bucket partition column:
    # term scans add a constant-foldable ``pmod(xxhash64(term), n) =
    # bucket`` predicate so only 1/n of the files are read.
    n_buckets: int | None = None
    # set by ``read_index``: the index dir and the committed generations
    # this handle reads — one fixed generation set
    path: str | None = None
    segs: tuple = ()

    # the one build cache (``build_index``'s rows: postings, doc_stats
    # and the corpus stats all filter it; freed by ``release`` only)
    _build: DataFrame | None = None

    def materialize(self) -> int:
        """Force the build cache and return the posting count. Frees
        nothing: postings and doc_stats read that cache until
        ``release``."""
        return self.postings.count()

    def release(self) -> None:
        """Unpersist EVERYTHING this handle cached (the build cache and
        the stats). For when the in-memory index is
        done serving — e.g. after ``write_index`` when queries move to
        the persisted copy; a 55M-posting cache left behind evicts
        later pipeline stages' caches into silent recompute (measured
        4x on the 1M-page minhash run)."""
        for fr in [self.postings, self.term_stats, self.doc_stats, self.docs, self._build]:
            try:
                if fr is not None:
                    fr.unpersist()
            except Exception:
                pass
        self._build = None

    def lookup_term_stats(self, pairs) -> dict[tuple[str, str], tuple[int, int]]:
        """(term, field) -> (df, ctf) for each of ``pairs``, (0, 0) when
        absent — the reference's term-dictionary lookup
        (Idx.getDocFreq/getTotalTermFreq).

        A persisted index reads, driver-side with pyarrow and no Spark
        job, only the term_stats files of the pairs' buckets in the
        handle's generations, and sums df/ctf over the generations as
        ``read_index``'s fold does. An index never written runs one
        filtered collect on ``term_stats``."""
        out = dict.fromkeys(pairs, (0, 0))
        if not out:
            return out
        terms = sorted({t for t, _ in out})
        flds = sorted({f for _, f in out})
        if self.path is None:
            rows = (
                self.term_stats.where(F.col("term").isin(terms) & F.col("field").isin(flds))
                .select("term", "field", "df", "ctf")
                .collect()
            )
        else:
            rows = self._read_term_stats(terms, flds)
        for term, fld, df, ctf in rows:
            if (term, fld) in out:
                d0, c0 = out[(term, fld)]
                out[(term, fld)] = (d0 + int(df), c0 + int(ctf))
        return out

    def _read_term_stats(self, terms: list[str], flds: list[str]) -> list[tuple]:
        """(term, field, df, ctf) rows of ``terms`` x ``flds`` in each of
        the handle's generations. Raises, as a Spark scan of the handle
        would, when a generation is gone (a handle that outlived two
        commits); every generation has a ``docs`` dir, while a bucket's
        term_stats dir exists only where the generation has terms."""
        for s in self.segs:
            if not os.path.isdir(os.path.join(self.path, "docs", f"seg={s}")):
                raise FileNotFoundError(
                    f"generation {s} of the index at {self.path} is gone: a "
                    "later commit replaced it. Reopen the index with read_index."
                )
        files = []
        for b in sorted({term_bucket(t, self.n_buckets) for t in terms}):
            for s in self.segs:
                d = os.path.join(self.path, "term_stats", f"bucket={b}", f"seg={s}")
                if os.path.isdir(d):
                    files += [
                        os.path.join(d, f) for f in sorted(os.listdir(d))
                        if f.endswith(".parquet") and not f.startswith(("_", "."))
                    ]
        if not files:
            return []
        cols = ["term", "field", "df", "ctf"]
        tbl = pads.dataset(files, format="parquet").to_table(
            columns=cols,
            filter=pads.field("term").isin(terms) & pads.field("field").isin(flds),
        )
        return list(zip(*(tbl.column(c).to_pylist() for c in cols)))

    def avg_len(self, fld: str) -> float:
        return self.field_stats[fld]["avg_len"]

    def sum_len(self, fld: str) -> int:
        return self.field_stats[fld]["sum_len"]

    def doc_count(self, fld: str) -> int:
        return self.field_stats[fld]["doc_count"]


def df_ctf(postings: DataFrame, *keys: str) -> DataFrame:
    """Per-(term, field) document and collection frequency (the InvList
    header), grouped by ``keys`` first."""
    return postings.groupBy(*keys, "term", "field").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("ctf"),
    )


def field_stats_of(lens: DataFrame, fields=()) -> tuple[int, dict]:
    """``(n_docs, {field: {doc_count, sum_len, avg_len}})`` of a frame of
    (field, doc_len) rows, one per (doc, field), in one small collect.
    ``doc_count`` counts the rows with ``doc_len > 0`` (an empty field
    has no doc_stats row); ``n_docs`` is the largest field's row count,
    the doc count when ``lens`` holds the build's sentinels (one per doc
    and field, empty ones included). ``fields`` absent from ``lens`` get
    zeros."""
    rows = (
        lens.groupBy("field")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("doc_len") > 0, 1)).alias("doc_count"),
            F.sum("doc_len").alias("sum_len"),
        )
        .collect()
    )
    stats = {
        r["field"]: {
            "doc_count": int(r["doc_count"]),
            "sum_len": int(r["sum_len"]),
            "avg_len": float(r["sum_len"]) / max(1, int(r["doc_count"])),
        }
        for r in rows
    }
    for fld in fields:
        stats.setdefault(fld, {"doc_count": 0, "sum_len": 0, "avg_len": 0.0})
    return max((int(r["n"]) for r in rows), default=0), stats


def build_index(
    docs: DataFrame,
    fields: dict[str, str] | None = None,
    doc_id_col: str = "doc_id",
    ext_id_col: str | None = None,
    analyzer: str = "english",
) -> InvertedIndex:
    """Tokenize ``docs`` and build the postings/stats DataFrames.

    ``fields`` maps index field name -> source column (e.g. ``{"body":
    "text", "title": "title"}``). Docs must carry a unique numeric
    ``doc_id`` (dense ids are the caller's job — e.g. ``row_number`` over
    url — so rebuilds are deterministic).
    """
    spark = docs.sparkSession
    fields = fields or {"body": "text"}
    get_analyzer(analyzer)  # fail fast on unknown analyzer names
    ext = ext_id_col or doc_id_col

    # ONE Arrow pass over every field: tokenize + position-collect inside
    # the task that owns the doc — postings never cross an exchange (the
    # posexplode->groupBy alternative shuffles one row per token
    # occurrence), and each doc is read and tokenized once per build.
    # Sentinel term='' rows carry doc_len.
    cols = {fld: f"__src{i}" for i, fld in enumerate(fields)}
    rows = docs.select(
        F.col(doc_id_col).cast("long").alias("doc_id"),
        *[F.col(src).cast("string").alias(cols[fld]) for fld, src in fields.items()],
    ).mapInPandas(_doc_postings_gen(analyzer, cols), POSTING_ROW_SCHEMA)
    # the one build cache: postings, doc_stats and the stats collect
    # below all filter it, so the tokenize pass runs once
    rows = rows.persist()
    postings, sentinels, doc_stats = split_rows(rows)
    term_stats = df_ctf(postings).persist()

    # corpus scalars (one small action; broadcast by value afterwards):
    # every doc has a sentinel per field, so no separate docs count
    n_docs, field_stats = field_stats_of(sentinels, fields)

    doc_cols = [F.col(doc_id_col).cast("long").alias("doc_id"), F.col(ext).cast("string").alias("ext_id")]
    extra = [c for c in docs.columns if c not in (doc_id_col, ext)]
    docs_meta = docs.select(*doc_cols, *[F.col(c) for c in extra])

    return InvertedIndex(
        spark=spark,
        postings=postings,
        term_stats=term_stats,
        doc_stats=doc_stats,
        docs=docs_meta,
        n_docs=n_docs,
        field_stats=field_stats,
        analyzer=analyzer,
        fields=tuple(fields),
        _build=rows,
    )


# ---------------------------------------------------------------------------
# Layout v5: immutable generations, one commit
# ---------------------------------------------------------------------------
#
# Since v5 the postings' positions are ``array<int>``; ``check_layout``
# rejects an index in an older layout.
#
# Every table is a set of ``seg=S`` generation dirs. The term-keyed
# tables (postings, term_stats) nest them in ``bucket=B`` dirs, with
# ``bucket = pmod(xxhash64(term), n)``, so term scans and stats lookups
# prune to 1/n of the files. Every mutation follows one rule:
#
# - write: ``write_tables`` writes the mutation's tables as NEW seg dirs,
#   named deterministically from the operation and its input
#   (``w<digest>`` for ``write_index``, ``d<batch>`` for a streamed
#   micro-batch, ``m<digest>`` for a major compaction), so a replayed
#   write overwrites only its own dirs;
# - commit: ``write_meta`` replaces meta.json atomically; its ``segs``
#   list names the live generations (a minor compaction only appends
#   recorded ``d`` segs to it);
# - read: ``read_table`` reads exactly the named segs;
# - clean up: the commit then deletes every seg dir that neither it nor
#   the commit it replaced names, so a reader opened before a commit
#   keeps working until the next one; a ``d`` seg above the commit's
#   ``folded_through`` is a batch still waiting for a compaction and
#   is kept.
#
# df/ctf are sums over disjoint doc sets, so ``read_index`` folds the
# term_stats generations with a vocab-sized aggregate and nobody
# rewrites a generation to add a delta.

LAYOUT = 5
TERM_TABLES = ("postings", "term_stats")
DOC_TABLES = ("doc_stats", "docs")


def seg_name(prefix: str, *inputs) -> str:
    """Deterministic generation name for an operation and its input."""
    return prefix + hashlib.sha1("|".join(map(str, inputs)).encode()).hexdigest()[:12]


def _dir_parquet_bytes(root: str) -> int:
    """Total parquet bytes under ``root``."""
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _bucket_entry(path: str, bucket: int) -> str:
    return os.path.join(path, "_manifest", f"bucket-{bucket:05d}.json")


def _write_json(path: str, obj: dict, indent: int | None = None) -> None:
    """Atomic replace: a reader sees the old file or the new one."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=indent)
    os.replace(tmp, path)


def write_manifests(path: str, buckets, seg: str, fp: str, wall: float,
                    compacted: bool = False) -> None:
    """Per-bucket lineage entries (input fingerprint, bytes of generation
    ``seg``, wall seconds); ``write_index`` resume skips buckets whose
    entry matches its fingerprint."""
    os.makedirs(os.path.join(path, "_manifest"), exist_ok=True)
    for b in buckets:
        _write_json(_bucket_entry(path, int(b)), {
            "bucket": int(b),
            "fingerprint": fp,
            "status": "ok",
            "bytes": _dir_parquet_bytes(os.path.join(path, "postings", f"bucket={b}", f"seg={seg}")),
            "wall_sec_total_job": wall,
            "compacted": compacted,
        })


def read_meta(path: str) -> dict:
    """The committed meta.json; ``{}`` for a dir without one (an empty index)."""
    try:
        with open(os.path.join(path, "meta.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def check_layout(meta: dict, path: str) -> None:
    """Reject an index written in an older layout."""
    if int(meta.get("layout") or 1) < LAYOUT:
        raise ValueError(
            f"index at {path} has layout {meta.get('layout')} but this code "
            f"reads layout {LAYOUT} (generations named by meta.json, "
            "positions as array<int>). "
            "Rebuild the index with write_index."
        )


def batch_id(seg: str) -> int | None:
    """The micro-batch id of a streamed generation ``d<batch>``, else None."""
    return int(seg[1:]) if seg[:1] == "d" and seg[1:].isdigit() else None


def write_meta(path: str, meta: dict) -> None:
    """Commit: replace ``meta.json`` atomically — the only commit of every
    write and compaction; ``meta["segs"]`` names the live generations.
    Then delete every seg dir named by neither this commit nor the one
    it replaced, except the streamed batches above its
    ``folded_through`` (not yet compacted)."""
    replaced = read_meta(path).get("segs") or []
    _write_json(os.path.join(path, "meta.json"), meta, indent=1)
    _drop_segs(path, set(meta["segs"]) | set(replaced), int(meta.get("folded_through", -1)))


def _drop_segs(path: str, keep: set, folded_through: int) -> None:
    for table in TERM_TABLES + DOC_TABLES:
        nest = "bucket=*" if table in TERM_TABLES else ""
        for d in glob.glob(os.path.join(path, table, nest, "seg=*")):
            seg = d.rsplit("seg=", 1)[1]
            pending = batch_id(seg) is not None and batch_id(seg) > folded_through
            if seg not in keep and not pending:
                shutil.rmtree(d, ignore_errors=True)


def read_table(spark: SparkSession, path: str, table: str, segs) -> DataFrame:
    """The rows of ``table`` in generations ``segs`` (no ``seg`` column)."""
    root = os.path.join(path, table)
    if table == "docs":
        # the named dirs only, their schemas merged: docs' columns vary
        # by generation (a streamed batch holds doc_id and ext_id only;
        # the others read null there), and schema inference must neither
        # pick one generation's columns nor read a dead one's file
        dirs = [os.path.join(root, f"seg={s}") for s in segs]
        df = (
            spark.read.option("basePath", root).option("mergeSchema", "true")
            .parquet(*[d for d in dirs if os.path.isdir(d)])
        )
    else:
        df = spark.read.parquet(root).where(F.col("seg").isin(list(segs)))
    return df.drop("seg")


def writers_per_bucket(tokens: int, buckets: int) -> int:
    """Postings writer tasks per bucket: one per 500k tokens of the
    bucket (from field_stats, no extra job). Partitioning by bucket
    alone funnels a stopword-heavy bucket's whole posting mass through
    one writer, and a fixed count lets the per-writer sort grow with the
    corpus until the external sorter falls off the in-memory cliff (the
    4M-page run measured 7.4x write cost for 4x the postings with 8
    writers); a small generation gets one file per bucket."""
    return max(1, -(-tokens // (buckets * 500_000)))


def write_tables(
    path: str,
    seg: str,
    buckets: int,
    field_stats: dict,
    postings: DataFrame | None = None,
    doc_stats: DataFrame | None = None,
    docs: DataFrame | None = None,
    term_stats: DataFrame | None = None,
    only_buckets: list[int] | None = None,
) -> dict[str, float]:
    """Write generation ``seg`` of the tables given (``None``: not written)
    under ``path``; returns wall seconds per table.

    ``postings`` and ``term_stats`` are written to ``bucket=B/seg=S`` dirs,
    only for ``only_buckets`` when given; ``term_stats`` defaults to the
    df/ctf of ``postings``. ``doc_stats`` and ``docs`` go to ``seg=S``.
    Every write is a dynamic partition overwrite: only the partition dirs
    present in the data are replaced, so a replayed write of the same seg
    is idempotent and other generations are never touched. Nothing is
    live until ``write_meta`` names ``seg``.
    """
    salt = writers_per_bucket(
        sum(int(v.get("sum_len", 0)) for v in field_stats.values()), buckets
    )

    def by_bucket(df: DataFrame) -> DataFrame:
        # the term-hash partitioner; functions.xxh64 mirrors it driver-side
        df = df.withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(buckets)).cast("int"))
        return df if only_buckets is None else df.where(F.col("bucket").isin(only_buckets))

    frames: dict[str, DataFrame] = {}
    cached = []
    if term_stats is not None:
        term_stats = by_bucket(term_stats)
    if postings is not None:
        bucketed = by_bucket(postings)
        if term_stats is None:
            # postings and df/ctf both read it: compute the input once
            bucketed = bucketed.persist()
            cached.append(bucketed)
            term_stats = df_ctf(bucketed, "bucket")
        # a doc-id salt spreads each bucket over `salt` writers, each file
        # (term, field, doc_id)-sorted: the sort leads with the write's
        # partition columns, so the planned write adds no (bucket, seg)
        # sort of its own that would put the rows back in build order
        frames["postings"] = (
            bucketed.withColumn("seg", F.lit(seg))
            .repartition(
                (buckets if only_buckets is None else len(only_buckets)) * salt,
                "bucket",
                F.pmod(F.col("doc_id"), F.lit(salt)),
            )
            .sortWithinPartitions("bucket", "seg", "term", "field", "doc_id")
        )
    if term_stats is not None:
        frames["term_stats"] = term_stats.select(
            "term", "field", "df", "ctf", "bucket", F.lit(seg).alias("seg")
        ).repartition(buckets, "bucket")
    for name, df in (("doc_stats", doc_stats), ("docs", docs)):
        if df is not None:
            frames[name] = df.withColumn("seg", F.lit(seg))

    def write(name: str) -> float:
        t0 = time.time()
        (
            frames[name]
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*(["bucket"] if name in TERM_TABLES else []), "seg")
            .parquet(os.path.join(path, name))
        )
        return round(time.time() - t0, 3)

    # The writes are independent Spark jobs: run them concurrently so
    # their per-job fixed costs (scheduling, dynamic-overwrite commit,
    # parquet footer fsyncs) and straggler tails overlap instead of
    # adding. Concurrent first touch of a persisted input is safe: the
    # BlockManager serializes per-partition cache materialization.
    try:
        with ThreadPoolExecutor(max_workers=4) as pool:
            futures = {name: pool.submit(write, name) for name in frames}
            return {name: fut.result() for name, fut in futures.items()}
    finally:
        for fr in cached:
            fr.unpersist()


def write_index(
    index: InvertedIndex,
    path: str,
    buckets: int = 16,
    fingerprint: str | None = None,
    resume: bool = True,
) -> dict:
    """Persist the index as one new generation, with a lineage manifest
    per bucket, and commit it with ``write_meta``.

    The generation is named from the fingerprint and the generations it
    replaces, so a rerun after a failed write reuses its own dirs.
    Resume skips each bucket whose manifest matches the fingerprint and
    whose seg dir exists; the rest is written in one ``write_tables``
    call (a filter on the bucket column, not one job per bucket). A
    rerun of a committed write (meta.json records the fingerprint)
    keeps that generation and its doc-keyed tables, and rewrites in it
    only the buckets whose manifest is missing.
    """
    fp = fingerprint or f"ndocs={index.n_docs}|analyzer={index.analyzer}|fields={','.join(index.fields)}"
    meta = read_meta(path)  # the commit this write replaces
    live = meta.get("segs") or []
    # a committed write of the same input is this generation; rewriting
    # its doc-keyed tables would also self-clobber when `index` was read
    # from this very path
    sides_done = resume and meta.get("fingerprint") == fp and len(live) == 1
    seg = live[0] if sides_done else seg_name("w", fp, *live)

    def _fingerprint(file: str) -> str | None:
        try:
            with open(file) as f:
                return json.load(f).get("fingerprint")
        except (json.JSONDecodeError, OSError):
            return None

    done = [
        b for b in range(buckets)
        if resume and _fingerprint(_bucket_entry(path, b)) == fp
        and os.path.isdir(os.path.join(path, "postings", f"bucket={b}", f"seg={seg}"))
    ]
    todo = [b for b in range(buckets) if b not in done]
    result = {
        "buckets": buckets, "skipped": done, "written": todo, "fingerprint": fp,
        "sides_skipped": sides_done,
    }
    result["phase_sec"] = write_tables(
        path, seg, buckets, index.field_stats,
        postings=index.postings if todo else None,
        term_stats=index.term_stats if todo else None,
        doc_stats=None if sides_done else index.doc_stats,
        docs=None if sides_done else index.docs,
        only_buckets=todo if done else None,
    )
    write_manifests(path, todo, seg, fp, result["phase_sec"].get("postings", 0.0))
    write_meta(path, {
        "n_docs": index.n_docs,
        "field_stats": index.field_stats,
        "analyzer": index.analyzer,
        # behavior hash of the analyzer's rule tables: read_index fails
        # loudly if the code's stemmer/stopword rules drifted since this
        # index was written (silent index/query tokenize mismatch otherwise)
        "analyzer_version": analyzer_version(index.analyzer),
        "fields": list(index.fields),
        "buckets": buckets,
        "fingerprint": fp,
        "layout": LAYOUT,
        "segs": [seg],
        # the streamed batches already committed stay committed: a
        # later compaction must not append them again
        **({"folded_through": meta["folded_through"]} if "folded_through" in meta else {}),
    })
    return result


def read_index(spark: SparkSession, path: str) -> InvertedIndex:
    """Open the generations the committed meta.json names."""
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    check_layout(meta, path)
    persisted_ver = meta.get("analyzer_version")
    if persisted_ver is not None:
        current = analyzer_version(meta["analyzer"])
        if current != persisted_ver:
            raise ValueError(
                f"index at {path} was written with analyzer "
                f"{meta['analyzer']!r} version {persisted_ver} but this "
                f"code's rule tables hash to {current}: query-time "
                "tokenization would silently mismatch the persisted terms. "
                "Rebuild the index (or check out the matching code)."
            )
    segs = meta["segs"]
    # df/ctf are sums: fold the generations at read time (the frame
    # PRF reads; query df/ctf come from ``lookup_term_stats``). ``bucket``
    # is functionally determined by term, so keeping it in the keys
    # changes no group — and lets a term filter prune partition dirs.
    term_stats = read_table(spark, path, "term_stats", segs).groupBy("bucket", "term", "field").agg(
        F.sum("df").cast("long").alias("df"),
        F.sum("ctf").cast("long").alias("ctf"),
    )
    return InvertedIndex(
        spark=spark,
        postings=read_table(spark, path, "postings", segs),
        term_stats=term_stats,
        doc_stats=read_table(spark, path, "doc_stats", segs),
        docs=read_table(spark, path, "docs", segs),
        n_docs=meta["n_docs"],
        field_stats=meta["field_stats"],
        analyzer=meta["analyzer"],
        fields=tuple(meta["fields"]),
        n_buckets=int(meta["buckets"]),
        path=path,
        segs=tuple(segs),
    )


def assign_doc_ids(
    docs: DataFrame, ext_id_col: str = "url", partitions: int | None = None
) -> DataFrame:
    """Deterministic dense doc ids, ascending in external-id order.

    A naive ``row_number() over (order by url)`` funnels the whole
    corpus through ONE task — and everything downstream (tokenization,
    posting build) inherits that single partition. Instead:

    1. one seeded sample of urls (a small collect) gives p-1 literal
       range bounds; a doc's range is the number of bounds below its url,
    2. count rows per range (tiny collect) -> cumulative offsets,
    3. doc_id = range offset + (row_number within range) - 1.

    The bounds are literals, so the count and the numbering see the
    same ranges with no cache to hold the layout still (nothing is
    left persisted). A doc's id is exactly the number of urls before
    it, whatever the bounds, so rebuilds are reproducible; each range
    numbers itself in parallel.
    """
    from pyspark.sql import Window

    spark = docs.sparkSession
    p = partitions or spark.sparkContext.defaultParallelism * 2
    url = F.col(ext_id_col)
    sample = sorted(
        {r[0] for r in docs.select(url).orderBy(F.rand(42)).limit(20 * p).collect()} - {None}
    )
    bounds = sorted({sample[len(sample) * j // p] for j in range(1, p)} if sample else ())
    rng = F.lit(0)
    for j, b in enumerate(bounds, 1):
        rng = F.when(url > F.lit(b), j).otherwise(rng)
    with_pid = docs.withColumn("__pid", rng)
    counts = {
        int(r["__pid"]): int(r["cnt"])
        for r in with_pid.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    omap = F.create_map(
        *[x for pid, off in offsets.items() for x in (F.lit(pid), F.lit(off))]
    )
    w = Window.partitionBy("__pid").orderBy(url)
    return (
        with_pid.withColumn(
            "doc_id",
            (F.row_number().over(w).cast("long") - 1 + omap[F.col("__pid")]).cast("long"),
        )
        .drop("__pid")
    )
