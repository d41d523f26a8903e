"""Multimodal plumbing + streaming incremental index tests."""

import os

import pytest
from pyspark.sql import functions as F

from searchengine_spark.pipeline import multimodal as mm
from searchengine_spark.streaming import ingest


def test_media_table_deterministic(spark):
    a = mm.make_media(spark, 30).collect()
    b = mm.make_media(spark, 30).collect()
    assert [(r["media_id"], bytes(r["payload"])) for r in a] == [
        (r["media_id"], bytes(r["payload"])) for r in b
    ]
    assert {r["kind"] for r in a} == {"image", "audio", "video"}


def test_extract_features_shapes(spark):
    feats = mm.extract_features(mm.make_media(spark, 30)).collect()
    assert len(feats) == 30
    for r in feats:
        assert len(r["feature"]) == mm.FEATURE_DIM
        if r["kind"] == "image":
            assert r["n_frames"] == 1


def test_png_codec_roundtrip_all_filters():
    import numpy as np

    from searchengine_spark.pipeline import media_codecs as mc

    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(11, 7, 3), dtype=np.uint8)
    w, h, out = mc.decode_png(mc.encode_png(px))
    assert (w, h) == (7, 11) and (out == px).all()

    # exercise the Sub/Up/Average/Paeth unfilter paths with a
    # hand-assembled PNG (encoder writes filter 0 only)
    import struct
    import zlib

    raw = b""
    for y, ftype in enumerate([0, 1, 2, 3, 4, 2, 1, 3, 4, 0, 2]):
        line = px[y].tobytes()
        if ftype == 0:
            enc = line
        else:
            prev = px[y - 1] if y > 0 else np.zeros((7, 3), dtype=np.uint8)
            cur = px[y].astype(int).reshape(-1)
            pr = prev.astype(int).reshape(-1)
            enc_arr = []
            for x in range(len(cur)):
                left = cur[x - 3] if x >= 3 else 0
                ul = pr[x - 3] if x >= 3 else 0
                if ftype == 1:
                    pred = left
                elif ftype == 2:
                    pred = pr[x]
                elif ftype == 3:
                    pred = (left + pr[x]) >> 1
                else:
                    pred = mc._paeth(left, pr[x], ul)
                enc_arr.append((cur[x] - pred) & 0xFF)
            enc = bytes(enc_arr)
        raw += bytes([ftype]) + enc
    ihdr = struct.pack(">IIBBBBB", 7, 11, 8, 2, 0, 0, 0)
    data = (
        mc.PNG_SIG
        + mc._chunk(b"IHDR", ihdr)
        + mc._chunk(b"IDAT", zlib.compress(raw))
        + mc._chunk(b"IEND", b"")
    )
    w2, h2, out2 = mc.decode_png(data)
    assert (w2, h2) == (7, 11) and (out2 == px).all()


def test_wav_codec_roundtrip():
    import numpy as np

    from searchengine_spark.pipeline import media_codecs as mc

    s = np.random.default_rng(5).integers(-30000, 30000, size=777, dtype=np.int16)
    rate, nch, out = mc.decode_wav(mc.encode_wav(s, sample_rate=16000))
    assert rate == 16000 and nch == 1 and (out == s).all()


def test_avi_codec_roundtrip():
    import numpy as np

    from searchengine_spark.pipeline import media_codecs as mc

    rng = np.random.default_rng(9)
    # w=7 forces nonzero row padding (21 -> 24 bytes/row)
    frames = rng.integers(0, 256, size=(4, 5, 7, 3), dtype=np.uint8)
    w, h, out = mc.decode_avi(mc.encode_avi(frames, fps=12))
    assert (w, h) == (7, 5) and (out == frames).all()


def test_avi_compressed_raises():
    import numpy as np

    from searchengine_spark.pipeline import media_codecs as mc

    data = bytearray(
        mc.encode_avi(np.zeros((1, 2, 2, 3), dtype=np.uint8))
    )
    # biCompression lives 16 bytes into the BITMAPINFOHEADER in 'strf'.
    # MJPG is decoded natively now, so the plug point only covers codecs
    # beyond baseline JPEG (H264 etc.)
    i = data.find(b"strf")
    data[i + 8 + 16 : i + 8 + 20] = b"H264"
    with pytest.raises(NotImplementedError, match="codec"):
        mc.decode_avi(bytes(data))
    # an MJPG stream whose frame payload is not actually JPEG must fail
    # loudly (not fall through to the DIB path)
    data[i + 8 + 16 : i + 8 + 20] = b"MJPG"
    with pytest.raises(ValueError, match="JPEG"):
        mc.decode_avi(bytes(data))


def test_real_decode_all_kinds_end_to_end(spark):
    """extract_features runs the real PNG/WAV/AVI kernels inside
    mapInPandas; dimensions come from the actual encoded payloads."""
    media = mm.make_media(spark, 30)
    rows = mm.extract_features(media).collect()
    assert len(rows) == 30
    for r in rows:
        i = int(r["media_id"])
        if r["kind"] == "image":
            assert (r["width"], r["height"]) == (16 + i % 16, 16 + i % 8)
            assert r["n_frames"] == 1
        elif r["kind"] == "audio":
            assert r["width"] == 8  # 8000 Hz -> 8
            assert r["n_frames"] == 256 + i % 512
        else:  # video: make_media's AVI geometry
            assert (r["width"], r["height"]) == (8 + i % 8, 8 + i % 4)
            assert r["n_frames"] == 2 + i % 6
        assert abs(sum(r["feature"]) - 1.0) < 1e-5  # mass-normalized hist


def test_resize_and_frame_sample_plans(spark):
    media = mm.make_media(spark, 30)
    for r in mm.resize_plan(media, max_side=64).collect():
        assert max(r["target_w"], r["target_h"]) <= 65
    fs = mm.frame_sample_plan(media, every_n=4).collect()
    assert all(r["frame_index"] % 4 == 0 for r in fs)
    # the plan samples the decoded AVI frame counts
    by_id = {}
    for r in mm.frame_sample_plan(media, every_n=2).collect():
        by_id.setdefault(int(r["media_id"]), []).append(r["frame_index"])
    for i, idxs in by_id.items():
        nf = 2 + i % 6
        assert sorted(idxs) == list(range(0, nf, 2))


@pytest.fixture()
def stream_dirs(tmp_path):
    d = {
        "in": str(tmp_path / "incoming"),
        "idx": str(tmp_path / "index"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(d["in"])
    return d


def _write_pages(spark, path, start, n):
    from searchengine_spark.corpus import make_pages

    pages = make_pages(spark, n, seed=start)  # distinct seeds -> distinct text
    df = pages.withColumn("doc_id", F.monotonically_increasing_id() + start)
    df.select("doc_id", "url", "warc_ts", "html", "text", "lang").coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_streaming_windowed_counts_match_batch(spark, tmp_path):
    """Structured Streaming watermarked windows == batch aggregation."""
    from searchengine_spark.pipeline import events as ev

    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir, ckpt, out = str(tmp_path / "in"), str(tmp_path / "ck"), str(tmp_path / "out")
    src.coalesce(1).write.parquet(in_dir)

    q = ev.streaming_windowed_counts(spark, in_dir, ckpt, out, watermark="0 seconds")
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.read.parquet(out).collect()
    }
    expected = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in ev.windowed_event_counts(src).collect()
    }
    # append mode emits only windows the watermark closed; with
    # availableNow + 0s watermark that is all but the final window(s)
    assert got
    for k, v in got.items():
        assert expected[k] == v


def test_streaming_ingest_and_resume(spark, stream_dirs):
    from searchengine_spark.index.build import read_index

    _write_pages(spark, stream_dirs["in"], 0, 40)
    q = ingest.start_ingest(spark, stream_dirs["in"], stream_dirs["idx"], stream_dirs["ckpt"])
    q.awaitTermination(120)
    ingest.compact(spark, stream_dirs["idx"])
    live1 = read_index(spark, stream_dirs["idx"])
    assert live1.segs == ("d0",) and live1.n_docs == 40
    assert live1.postings.count() > 0 and live1.postings.select("doc_id").distinct().count() == 40

    # second drop of files -> only the new batch is processed (checkpoint)
    _write_pages(spark, stream_dirs["in"], 1000, 20)
    q2 = ingest.start_ingest(spark, stream_dirs["in"], stream_dirs["idx"], stream_dirs["ckpt"])
    q2.awaitTermination(120)
    assert read_index(spark, stream_dirs["idx"]).segs == ("d0",)  # not live yet

    # compaction commits the new batch and stays queryable
    ingest.compact(spark, stream_dirs["idx"])
    live2 = read_index(spark, stream_dirs["idx"])
    assert live2.segs == ("d0", "d1") and live2.n_docs == 60
    assert live2.postings.select("doc_id").distinct().count() == 60
    assert live2.postings.where(F.col("term") == "barim").count() > 0


def test_compact_persisted_layout_rebuilds_side_tables(spark, stream_dirs, tmp_path):
    """Compacting a write_index layout must re-bucket the merged postings
    and refresh term_stats/doc_stats/meta.json so read_index serves the
    delta docs (previously it dropped the bucket column and left stale
    stats — AnalysisException + wrong df/ctf)."""
    from searchengine_spark.corpus import extract_fields, make_pages
    from searchengine_spark.index.build import assign_doc_ids, build_index, read_index, write_index

    base_docs = assign_doc_ids(extract_fields(make_pages(spark, 40, seed=9)), ext_id_col="url")
    idx0 = build_index(base_docs, fields={"body": "body"}, ext_id_col="url", analyzer="english")
    write_index(idx0, stream_dirs["idx"], buckets=4)
    old_n = idx0.n_docs
    old_sum = idx0.field_stats["body"]["sum_len"]

    _write_pages(spark, stream_dirs["in"], 5000, 25)
    q = ingest.start_ingest(spark, stream_dirs["in"], stream_dirs["idx"], stream_dirs["ckpt"])
    q.awaitTermination(120)

    ingest.compact(spark, stream_dirs["idx"])
    idx = read_index(spark, stream_dirs["idx"])
    # bucket column survives -> pruned term scans still work
    assert idx.n_buckets == 4 and "bucket" in idx.postings.columns
    assert idx.postings.select("doc_id").distinct().count() == 65
    # stats include delta docs
    assert idx.n_docs == 65
    assert idx.field_stats["body"]["sum_len"] > old_sum and old_n == 40
    # a pruned engine query over base+delta docs
    from searchengine_spark.engine import SearchEngine

    eng = SearchEngine(idx)
    rows = eng.search("barim batok", model="bm25", k=70).collect()
    assert rows and any(int(r["doc_id"]) >= 5000 for r in rows)
    # delta docs resolve real ext ids (delta_docs segment)
    assert all(r["ext_id"].startswith("http://") for r in rows)
    # base docs-table metadata columns survive compaction (getAttribute)
    base_cols = set(idx0.docs.columns)
    assert base_cols <= set(idx.docs.columns), (base_cols, idx.docs.columns)
    meta_row = idx.docs.where(F.col("doc_id") == 0).first()
    assert meta_row is not None and meta_row["ext_id"].startswith("http://")


def test_stateful_streaming_sessionize_matches_batch(spark, tmp_path):
    """applyInPandasWithState gap sessions == batch sessionize aggregates
    for every session the watermark closed; only each user's final open
    session may be withheld."""
    from searchengine_spark.streaming import sessions as ss

    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir, ckpt, out = str(tmp_path / "in"), str(tmp_path / "ck"), str(tmp_path / "out")
    src.coalesce(1).write.parquet(in_dir)

    q = ss.streaming_sessionize(spark, in_dir, ckpt, out, gap_minutes=30)
    q.awaitTermination(180)

    got = {
        (r["user_id"], r["session_seq"]): (
            r["n_events"], r["session_start"], r["session_end"]
        )
        for r in spark.read.parquet(out).collect()
    }
    expected = {
        (r["user_id"], r["session_seq"]): (
            r["n_events"], r["session_start"], r["session_end"]
        )
        for r in ss.batch_session_aggregates(src, gap_minutes=30).collect()
    }
    assert got, "no sessions emitted"
    for k, v in got.items():
        assert expected[k] == v, (k, v, expected[k])
    # everything except (at most) one open session per user was emitted
    missing = set(expected) - set(got)
    per_user_max = {}
    for u, seq in expected:
        per_user_max[u] = max(per_user_max.get(u, 0), seq)
    assert all(seq == per_user_max[u] for u, seq in missing), missing


def test_avi_top_down_dib_decodes_upright():
    """Spec-valid top-down DIB AVIs carry negative biHeight and rows in
    top-first order — decode must NOT vertical-flip those (ADVICE r3)."""
    import struct

    import numpy as np

    from searchengine_spark.pipeline import media_codecs as mc

    rng = np.random.default_rng(31)
    frames = rng.integers(0, 256, size=(2, 5, 7, 3), dtype=np.uint8)
    data = bytearray(mc.encode_avi(frames, fps=10))

    # negate biHeight in the BITMAPINFOHEADER (offset 8 into strf payload)
    i = data.find(b"strf") + 8
    (h,) = struct.unpack_from("<i", data, i + 8)
    struct.pack_into("<i", data, i + 8, -h)

    # rewrite every 00db payload with rows reversed (bottom-up -> top-down)
    w, row_pad = 7, (-(7 * 3)) % 4
    stride = 7 * 3 + row_pad
    pos = 0
    while True:
        j = data.find(b"00db", pos)
        if j < 0:
            break
        (ln,) = struct.unpack_from("<I", data, j + 4)
        start = j + 8
        rows = np.frombuffer(bytes(data[start : start + ln]), dtype=np.uint8)
        flipped = rows.reshape(h, stride)[::-1].tobytes()
        data[start : start + ln] = flipped
        pos = start + ln

    ww, hh, out = mc.decode_avi(bytes(data))
    assert (ww, hh) == (7, 5) and (out == frames).all()


def test_incremental_compact_touches_only_delta_buckets(spark, tmp_path):
    """A streamed batch lands as NEW seg partition dirs and the minor
    (seg-append) compaction commits it without reading or rewriting a
    single base posting byte (verdict r3 #1: compaction cost scales with
    delta size, not index size), patches stats arithmetically, and stays
    idempotent across a simulated crash-rerun."""
    import json

    from searchengine_spark.engine import SearchEngine
    from searchengine_spark.index.build import build_index, read_index, write_index

    buckets = 8
    idx_dir = str(tmp_path / "incidx")
    rows = [(i, f"alpha bravo charlie delta{i % 3} common", f"u{i:04d}") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, url string")
    idx0 = build_index(docs, fields={"body": "text"}, ext_id_col="url", analyzer="simple")
    write_index(idx0, idx_dir, buckets=buckets)
    meta0 = json.load(open(os.path.join(idx_dir, "meta.json")))
    assert meta0["layout"] == 5 and len(meta0["segs"]) == 1

    # the persisted layout: four tables, the manifests and meta.json
    # (checked after the write and after each compaction mode below)
    layout = ["_manifest", "doc_stats", "docs", "meta.json", "postings", "term_stats"]
    write_keys = {
        "n_docs", "field_stats", "analyzer", "analyzer_version", "fields",
        "buckets", "fingerprint", "layout", "segs",
    }
    compact_keys = write_keys | {"compactions", "folded_through"}
    assert sorted(os.listdir(idx_dir)) == layout
    assert set(meta0) == write_keys

    def _base_seg_state(table: str) -> dict:
        """(path -> (size, mtime)) of every parquet file of the
        generation write_index committed."""
        out = {}
        root = os.path.join(idx_dir, table)
        for dirpath, _dirs, files in os.walk(root):
            if f"seg={meta0['segs'][0]}" not in dirpath:
                continue
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    st = os.stat(p)
                    out[p] = (st.st_size, st.st_mtime_ns)
        return out

    base_before = {t: _base_seg_state(t) for t in ("postings", "term_stats", "doc_stats", "docs")}

    # one-term delta -> exactly one touched bucket
    term = "zzzqterm"
    tb = int(
        spark.range(1)
        .select(F.pmod(F.xxhash64(F.lit(term)), F.lit(buckets)).cast("int").alias("b"))
        .first()["b"]
    )
    ddocs = spark.createDataFrame(
        [(1000, f"{term} {term} {term}", "http://new.example/1")],
        "doc_id long, text string, url string",
    )
    ingest.write_batch(ddocs, 0, idx_dir, analyzer="simple")
    # the batch's own generation; no base-generation dir gained a file
    assert os.path.isdir(os.path.join(idx_dir, "postings", f"bucket={tb}", "seg=d0"))

    before = {
        b: json.load(open(os.path.join(idx_dir, "_manifest", f"bucket-{b:05d}.json")))
        for b in range(buckets)
    }
    ingest.compact(spark, idx_dir)

    after = {
        b: json.load(open(os.path.join(idx_dir, "_manifest", f"bucket-{b:05d}.json")))
        for b in range(buckets)
    }
    # untouched buckets keep their original lineage entries verbatim
    for b in range(buckets):
        if b == tb:
            assert after[b]["compacted"] and after[b] != before[b]
        else:
            assert after[b] == before[b], b

    # the LSM invariant itself: NO base-generation file of ANY table was
    # rewritten — the delta landed purely as new seg dirs
    for t, before_files in base_before.items():
        assert _base_seg_state(t) == before_files, t
    assert json.load(open(os.path.join(idx_dir, "meta.json")))["segs"][-1] == "d0"

    idx = read_index(spark, idx_dir)
    assert idx.n_docs == 31
    ts = {
        (r["term"]): (r["df"], r["ctf"])
        for r in idx.term_stats.where(F.col("term").isin(term, "common")).collect()
    }
    assert ts[term] == (1, 3) and ts["common"] == (30, 30)
    assert idx.field_stats["body"]["sum_len"] == idx0.field_stats["body"]["sum_len"] + 3
    eng = SearchEngine(idx)
    got = eng.search(term, model="bm25", k=5).collect()
    assert [r["doc_id"] for r in got] == [1000]
    assert got[0]["ext_id"] == "http://new.example/1"

    # crash-rerun simulation: the batch redelivered AFTER a committed
    # compaction (the stream died before its checkpoint) -> ledger no-ops
    meta1 = json.load(open(os.path.join(idx_dir, "meta.json")))
    ingest.write_batch(ddocs, 0, idx_dir, analyzer="simple")
    ingest.compact(spark, idx_dir)
    meta2 = json.load(open(os.path.join(idx_dir, "meta.json")))
    assert meta2 == meta1  # no double count, no extra seg
    idx2 = read_index(spark, idx_dir)
    assert idx2.n_docs == 31
    assert idx2.doc_stats.where(F.col("doc_id") == 1000).count() == 1
    assert sorted(os.listdir(idx_dir)) == layout
    assert set(meta2) == compact_keys

    # a major compaction folds the segments into a fresh base and keeps
    # the same four-table layout and ranking
    assert ingest.compact(spark, idx_dir, full_rewrite=True)["mode"] == "major"
    assert sorted(os.listdir(idx_dir)) == layout
    meta3 = json.load(open(os.path.join(idx_dir, "meta.json")))
    # one fresh generation replaces every minor segment
    assert set(meta3) == compact_keys and len(meta3["segs"]) == 1
    assert meta3["segs"][0] not in meta2["segs"]
    idx3 = read_index(spark, idx_dir)
    assert idx3.n_docs == 31
    assert SearchEngine(idx3).search(term, model="bm25", k=5).collect() == got


def test_three_write_paths_agree(spark, stream_dirs):
    """write_index, a minor compaction and a major compaction all write
    through index.build.write_tables: base + one streamed delta, folded
    minor then major, must read back exactly like a fresh build of the
    union docs — corpus stats, the whole term_stats table and %.18f
    top-10 rankings under BM25, #near/2 and Indri."""
    import random

    from searchengine_spark.engine import SearchEngine
    from searchengine_spark.index.build import build_index, read_index, write_index

    rng = random.Random(5)
    vocab = ["ant", "bee", "cat", "dog", "eel", "fox", "gnu", "hen", "ibis", "jay"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 14))), f"u{i:04d}")
        for i in range(55)
    ]
    schema = "doc_id long, text string, url string"
    base = spark.createDataFrame(rows[:40], schema)
    write_index(
        build_index(base, fields={"body": "text"}, ext_id_col="url", analyzer="simple"),
        stream_dirs["idx"], buckets=4,
    )
    spark.createDataFrame(rows[40:], schema).select(
        "doc_id", "url", F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"), "text", F.lit("en").alias("lang"),
    ).coalesce(1).write.parquet(stream_dirs["in"], mode="append")
    ingest.start_ingest(
        spark, stream_dirs["in"], stream_dirs["idx"], stream_dirs["ckpt"], analyzer="simple"
    ).awaitTermination(120)

    fresh_dir = os.path.join(os.path.dirname(stream_dirs["idx"]), "fresh")
    write_index(
        build_index(spark.createDataFrame(rows, schema), fields={"body": "text"},
                    ext_id_col="url", analyzer="simple"),
        fresh_dir, buckets=4,
    )
    queries = [("bm25", "cat dog ibis"), ("bm25", "#near/2(cat dog)"), ("indri", "cat fox jay")]

    def snapshot(path):
        idx = read_index(spark, path)
        eng = SearchEngine(idx)
        return {
            "n_docs": idx.n_docs,
            "field_stats": idx.field_stats,
            "term_stats": sorted(
                (r["term"], r["field"], r["df"], r["ctf"])
                for r in idx.term_stats.select("term", "field", "df", "ctf").collect()
            ),
            "top10": [
                [(r["doc_id"], r["ext_id"], "%.18f" % r["score"])
                 for r in eng.search(q, model=m, k=10).collect()]
                for m, q in queries
            ],
        }

    want = snapshot(fresh_dir)
    assert want["n_docs"] == 55 and all(want["top10"])
    assert ingest.compact(spark, stream_dirs["idx"])["mode"] == "minor"
    assert snapshot(stream_dirs["idx"]) == want
    assert ingest.compact(spark, stream_dirs["idx"], full_rewrite=True)["mode"] == "major"
    assert snapshot(stream_dirs["idx"]) == want
