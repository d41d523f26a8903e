"""Word-embedding store: word2vec file loaders + parquet side table.

Reference parity: IdxWordvec.java:60-100 memory-maps a word2vec file,
keeps a term->offset map, reads the raw floats on demand and
L2-NORMALIZES ON READ. Spark-first re-expression:

- **loaders** parse the two public word2vec formats (Mikolov tool
  output): the text format (``vocab dim`` header then one
  ``term v1 .. vDIM`` line per term) and the binary format (same
  header line, then ``term<space>`` + dim little-endian float32 per
  entry). Text parsing is fully distributed (``spark.read.text`` +
  ``split``/``transform`` — each line is independent); the binary
  format is a single undelimited stream: small files parse as a
  driver-side generator feeding ``arrow_frame`` in chunks,
  large files go through a two-pass distributed parse (driver offset
  scan reading only term bytes, executors decode their byte ranges —
  a 3M x 300 file never materializes driver-side).
- **VectorStore** persists ``term -> array<float>`` as a parquet side
  table. Query-term vectors (k-bounded) are collected driver-side;
  doc-term vectors flow through either a broadcast map (small vocab)
  or a term equi-join against the store (web-scale vocab) — the
  switch is automatic on vocab size, mirroring how the reference's
  mmap never loads the whole file per lookup.

Normalization discipline: vectors are L2-normalized AT LOAD TIME
(float64 math, like IdxWordvec's read path) and stored normalized, so
every downstream cosine is a plain dot product.
"""

from __future__ import annotations

import os
import struct
from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from searchengine_spark.session import arrow_frame

# Above this vocab size the store joins instead of broadcasting
# (3M x 300 float32 ~ 3.6 GB would wreck executors as a broadcast).
BROADCAST_VOCAB_MAX = 200_000


def _normalize_expr(col: str) -> F.Column:
    """L2-normalize an array<double|float> column JVM-side."""
    norm = F.sqrt(F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.when(norm > 0, F.transform(col, lambda x: (x / norm).cast("float"))).otherwise(
        F.transform(col, lambda x: x.cast("float"))
    )


def load_word2vec_text(spark: SparkSession, path: str) -> DataFrame:
    """Distributed parse of word2vec TEXT format -> (term, vec).

    Every vector line is independent, so this scales with input splits;
    the (optional) ``vocab dim`` header line is recognized by shape
    (exactly 2 whitespace tokens) and dropped.
    """
    lines = spark.read.text(path)
    parts = F.split(F.trim(F.col("value")), r"\s+")
    df = (
        lines.where(F.length(F.trim("value")) > 0)
        .select(parts.alias("p"))
        .where(F.size("p") > 2)  # header has 2 fields; vectors have 1+dim
        .select(
            F.element_at("p", 1).alias("term"),
            F.slice("p", 2, F.size("p") - 1).cast("array<double>").alias("raw"),
        )
    )
    return df.select("term", _normalize_expr("raw").alias("vec"))


def _iter_word2vec_bin(path: str) -> Iterator[tuple[str, list[float]]]:
    """Stream (term, normalized vec) from word2vec BINARY format."""
    with open(path, "rb") as fh:
        header = b""
        while not header.endswith(b"\n"):
            ch = fh.read(1)
            if not ch:
                raise ValueError(f"{path}: truncated word2vec header")
            header += ch
        vocab, dim = (int(x) for x in header.split())
        fmt = "<" + "f" * dim
        width = 4 * dim
        for _ in range(vocab):
            term = b""
            while True:
                ch = fh.read(1)
                if not ch:
                    raise ValueError(f"{path}: truncated vocab entry")
                if ch == b" ":
                    break
                if ch != b"\n":  # the tool writes \n between entries
                    term += ch
            raw = np.asarray(struct.unpack(fmt, fh.read(width)), dtype=np.float64)
            n = float(np.linalg.norm(raw))
            vec = (raw / n if n > 0 else raw).astype(np.float32)
            yield term.decode("utf-8", errors="replace"), vec.tolist()


def load_word2vec_binary(
    spark: SparkSession,
    path: str,
    chunk_rows: int = 50_000,
    distributed: bool | None = None,
) -> DataFrame:
    """word2vec BINARY format -> (term, vec).

    Two parse paths, identical output (pinned by tests/test_wordvec.py):

    - driver streaming (default for small files): generator feeding
      ``arrow_frame`` in ``chunk_rows`` chunks;
    - distributed (default above ~64 MB, or ``distributed=True``):
      two-pass — a cheap driver OFFSET scan reads only the term bytes
      and ``seek``s over every 4*dim payload (a few MB of reads for a
      3M-vocab file), yielding (byte offset, record count) chunk
      boundaries; executors then each parse their byte range with one
      numpy frombuffer per chunk. A 3M x 300 file never materializes
      driver-side. Requires ``path`` on storage every executor can
      open (same contract as spark.read binary sources).
    """
    if distributed is None:
        distributed = os.path.getsize(path) > 64 * 1024 * 1024
    if distributed:
        return _load_word2vec_binary_distributed(spark, path, chunk_rows)
    frames = []
    buf: list[tuple[str, list[float]]] = []
    schema = "term string, vec array<float>"
    for row in _iter_word2vec_bin(path):
        buf.append(row)
        if len(buf) >= chunk_rows:
            frames.append(arrow_frame(spark, buf, schema))
            buf = []
    if buf or not frames:
        frames.append(arrow_frame(spark, buf, schema))
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


def _scan_word2vec_bin_chunks(
    path: str, chunk_rows: int
) -> tuple[int, list[tuple[int, int]]]:
    """Pass 1: walk record boundaries reading ONLY term bytes.

    Each record is ``term<space>`` + 4*dim payload (with an optional
    ``\\n`` separator before the term). The payload is ``seek``ed over,
    so the scan reads ~vocab * avg_term_len bytes total. Returns
    (dim, [(start_offset, n_records), ...]).
    """
    chunks: list[tuple[int, int]] = []
    with open(path, "rb") as fh:
        header = b""
        while not header.endswith(b"\n"):
            ch = fh.read(1)
            if not ch:
                raise ValueError(f"{path}: truncated word2vec header")
            header += ch
        vocab, dim = (int(x) for x in header.split())
        width = 4 * dim
        done = 0
        while done < vocab:
            start = fh.tell()
            n = min(chunk_rows, vocab - done)
            for _ in range(n):
                while True:
                    ch = fh.read(1)
                    if not ch:
                        raise ValueError(f"{path}: truncated vocab entry")
                    if ch == b" ":
                        break
                fh.seek(width, 1)
            chunks.append((start, n))
            done += n
    return dim, chunks


def _load_word2vec_binary_distributed(
    spark: SparkSession, path: str, chunk_rows: int = 50_000
) -> DataFrame:
    dim, chunks = _scan_word2vec_bin_chunks(path, chunk_rows)

    def parse(batches):
        for pdf in batches:
            for start, n in zip(pdf["start"], pdf["n"]):
                terms: list[str] = []
                raws = np.empty((int(n), dim), dtype=np.float32)
                with open(path, "rb") as fh:
                    fh.seek(int(start))
                    for i in range(int(n)):
                        term = b""
                        while True:
                            ch = fh.read(1)
                            if ch == b" ":
                                break
                            if ch != b"\n":
                                term += ch
                        raws[i] = np.frombuffer(fh.read(4 * dim), dtype="<f4")
                        terms.append(term.decode("utf-8", errors="replace"))
                # same float64 normalize as the streaming path
                r64 = raws.astype(np.float64)
                norms = np.linalg.norm(r64, axis=1, keepdims=True)
                normed = np.where(norms > 0, r64 / np.where(norms == 0, 1.0, norms), r64)
                yield pd.DataFrame(
                    {"term": terms, "vec": [v.astype(np.float32).tolist() for v in normed]}
                )

    bounds = arrow_frame(spark, chunks, "start long, n long").repartition(
        max(1, min(len(chunks), spark.sparkContext.defaultParallelism))
    )
    return bounds.mapInPandas(parse, "term string, vec array<float>")


def load_word2vec(spark: SparkSession, path: str) -> DataFrame:
    """Auto-detect text vs binary word2vec format and load -> (term, vec)."""
    with open(path, "rb") as fh:
        header = fh.readline()
        probe = fh.read(4096)
    try:
        vocab, dim = (int(x) for x in header.split())
    except ValueError:
        return load_word2vec_text(spark, path)  # no header -> glove-style text
    # Text bodies are printable (digits, signs, whitespace, UTF-8 terms);
    # binary bodies are raw float32 and virtually always contain NUL or
    # other control bytes within the first few KB. NOTE: a strict
    # probe.decode("utf-8") misroutes TEXT files whose multibyte term
    # straddles the 4096-byte probe boundary (UnicodeDecodeError on a
    # valid file), so detect binary by control-byte presence instead.
    _TEXT_CTRL = {0x09, 0x0A, 0x0D}  # tab / newline / CR are fine in text
    if any(b < 0x20 and b not in _TEXT_CTRL for b in probe):
        return load_word2vec_binary(spark, path)
    return load_word2vec_text(spark, path)


class VectorStore:
    """Parquet-backed ``term -> array<float>`` store (normalized vectors).

    The scale contract: ``lookup`` is k-bounded (query terms only);
    ``as_map_or_none`` returns a driver dict only when the vocab is
    broadcast-sized, else callers must use ``join_terms`` (shuffle on
    the term key — vocab-bounded, never corpus-bounded).
    """

    def __init__(self, df: DataFrame, dim: int | None = None):
        self.df = df.select("term", "vec")
        self._dim = dim
        self._count: int | None = None

    # -- lifecycle -----------------------------------------------------
    @classmethod
    def from_word2vec(cls, spark: SparkSession, path: str) -> "VectorStore":
        return cls(load_word2vec(spark, path))

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "VectorStore":
        return cls(spark.read.parquet(path))

    def save(self, path: str) -> "VectorStore":
        self.df.write.mode("overwrite").parquet(path)
        return self

    # -- introspection ---------------------------------------------------
    @property
    def dim(self) -> int:
        if self._dim is None:
            row = self.df.select(F.size("vec").alias("d")).head()
            self._dim = int(row["d"]) if row else 0
        return self._dim

    def vocab_size(self) -> int:
        if self._count is None:
            self._count = self.df.count()
        return self._count

    # -- access patterns ---------------------------------------------------
    def lookup(self, terms: Iterable[str]) -> dict[str, np.ndarray]:
        """Driver-side vectors for a k-bounded term list (query terms)."""
        terms = list(dict.fromkeys(terms))
        rows = self.df.where(F.col("term").isin(terms)).collect()
        return {r["term"]: np.asarray(r["vec"], dtype=np.float64) for r in rows}

    def as_map_or_none(self) -> dict[str, np.ndarray] | None:
        """Full vocab as a dict IF broadcast-sized, else None."""
        if self.vocab_size() > BROADCAST_VOCAB_MAX:
            return None
        return {
            r["term"]: np.asarray(r["vec"], dtype=np.float64) for r in self.df.collect()
        }

    def join_terms(self, df: DataFrame, term_col: str = "term") -> DataFrame:
        """Left-join ``vec`` onto ``df`` by term (the web-scale path)."""
        store = self.df.withColumnRenamed("term", term_col)
        if self.vocab_size() <= BROADCAST_VOCAB_MAX:
            store = F.broadcast(store)
        return df.join(store, on=term_col, how="left")
