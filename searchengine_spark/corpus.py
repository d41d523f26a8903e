"""Deterministic synthetic Common-Crawl-style page corpus.

Schema per BASELINE.json input_hint: ``url string, warc_ts timestamp,
html binary, text string, lang string``. Generation is a distributed
``mapInPandas`` over ``spark.range(n)`` with a per-row RNG seeded by
``(seed, row_id)`` — byte-identical output for any partitioning/parallelism
(the per-row invariant the driver checks). Vocabulary is ~500 content words
with a zipf(1.1) head plus the Lucene stopword list, so head terms create
genuine build-side skew; 1% of pages are near-duplicates of an earlier page.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from searchengine_spark.analyzer import LUCENE_STOPWORDS

_SYL_A = ["ba", "ce", "di", "fo", "gu", "ha", "je", "ki", "lo", "mu",
          "na", "pe", "qi", "ro", "su", "ta", "ve", "wi", "xo", "yu"]
_SYL_B = ["rim", "tok", "lan", "ser", "vex", "nod", "pik", "qua", "zel",
          "mor", "dex", "fin", "gor", "hul", "jat", "keb", "lum", "nib",
          "pax", "rud", "sil", "tez", "vob", "wyn", "yil"]

VOCAB: list[str] = []
for a in _SYL_A:
    for b in _SYL_B:
        VOCAB.append(a + b)
        if len(VOCAB) >= 500:
            break
    if len(VOCAB) >= 500:
        break

STOPLIST = sorted(LUCENE_STOPWORDS)

_ZIPF_P = 1.0 / np.arange(1, len(VOCAB) + 1) ** 1.1
_ZIPF_P /= _ZIPF_P.sum()

PAGE_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
EPOCH = np.datetime64("2024-01-01T00:00:00", "us")


def _gen_words(rng: np.random.Generator, n: int) -> list[str]:
    """n token slots: ~30% stopwords interleaved with zipf content words."""
    is_stop = rng.random(n) < 0.30
    content = rng.choice(len(VOCAB), size=n, p=_ZIPF_P)
    stops = rng.integers(0, len(STOPLIST), size=n)
    return [STOPLIST[stops[i]] if is_stop[i] else VOCAB[content[i]] for i in range(n)]


def _page_record(seed: int, i: int) -> tuple:
    # near-duplicate: every 100th page reuses page (i-99)'s body + one word
    src = i - 99 if (i % 100 == 99 and i >= 99) else i
    rng = np.random.default_rng((seed << 32) + src)
    n_body = int(50 + rng.integers(0, 200))
    body_words = _gen_words(rng, n_body)
    title_words = _gen_words(rng, int(3 + rng.integers(0, 6)))
    kw_words = [VOCAB[j] for j in rng.choice(len(VOCAB), size=5, p=_ZIPF_P)]
    if src != i:
        body_words = body_words + ["nearduplicate"]
    text = " ".join(body_words)
    title = " ".join(title_words)
    kw = " ".join(kw_words)
    html = (
        f'<html><head><title>{title}</title>'
        f'<meta name="keywords" content="{kw}"></head>'
        f"<body>{text}</body></html>"
    ).encode("utf-8")
    url = f"http://site{i % 97:02d}.example/p{i:010d}"
    ts = (EPOCH + np.timedelta64(i, "s")).astype("datetime64[us]").item()
    lang = "xx" if i % 37 == 13 else "en"
    return (url, ts, html, text, lang)


def make_pages(spark: SparkSession, n: int, seed: int = 42, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic corpus of ``n`` pages."""
    base = spark.range(0, n, 1, partitions or max(8, n // 50_000 + 1))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [_page_record(seed, int(i)) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    return base.mapInPandas(gen, schema=PAGE_SCHEMA)


EMB_SCHEMA = "vec_id bigint, embedding array<float>, label int"


def make_embeddings(
    spark: SparkSession,
    n: int,
    dim: int = 64,
    seed: int = 42,
    partitions: int | None = None,
    dup_eps: float = 0.02,
    n_clusters: int = 0,
    cluster_spread: float = 0.35,
) -> DataFrame:
    """Distributed deterministic embedding corpus (testdata schema:
    ``vec_id bigint, embedding array<float>, label int``).

    Pure codegen — every component is ``hash(anchor, j, seed)`` scaled
    to [-1, 1], so output is byte-identical for any partitioning and no
    Python runs per row. Near-dups mirror ``make_pages``: every 100th
    vector reuses vector ``i-99``'s anchor plus ``dup_eps`` hash noise
    (cos ≈ 0.999 vs ~N(0, 1/sqrt(dim)) for unrelated pairs), giving
    n//100 planted pairs for recall accounting at any scale.

    ``n_clusters > 0`` switches to the clustered regime real embedding
    corpora live in: each vector = its cluster's centroid +
    ``cluster_spread`` hash noise, so same-cluster cosines sit near
    ``1/(1+spread^2)`` (~0.89 at the default) and a vector's true
    nearest neighbours are its cluster-mates — the regime approximate
    top-k is meant for (isotropic n_clusters=0 is its worst case).
    ``label`` becomes the cluster id.
    """
    base = spark.range(0, n, 1, partitions or max(8, n // 50_000 + 1)).select(
        F.col("id").alias("vec_id")
    )
    dup_anchor = (
        "CASE WHEN vec_id % 100 = 99 AND vec_id >= 99 "
        "THEN vec_id - 99 ELSE vec_id END"
    )
    if n_clusters > 0:
        anchor = f"pmod(hash({dup_anchor}, {seed + 3}), {n_clusters})"
        eps = cluster_spread
        label = "cast(__a as int)"
    else:
        anchor = dup_anchor
        eps = dup_eps
        label = f"cast(pmod(hash(__a, {seed + 2}), 16) as int)"
    comp = (
        f"(pmod(hash(__a, j, {seed}), 2001) - 1000) / 1000.0"
        f" + {eps!r} * (pmod(hash(vec_id, j, {seed + 1}), 2001) - 1000) / 1000.0"
    )
    return (
        base.withColumn("__a", F.expr(anchor))
        .select(
            "vec_id",
            F.expr(
                f"transform(sequence(0, {dim - 1}), j -> cast({comp} as float))"
            ).alias("embedding"),
            F.expr(label).alias("label"),
        )
    )


def extract_fields(pages: DataFrame) -> DataFrame:
    """Derive the reference's five searchable fields (QryParser.java:162-166).

    ``body`` = extracted text (per-row invariant column), ``title`` /
    ``keywords`` parsed from html JVM-side (regexp, no Python), ``url_text``
    = the url with separators spaced for tokenization, ``inlink`` =
    deterministic anchor text (hash-derived, stands in for link graph).
    """
    html_s = F.decode(F.col("html"), "UTF-8")
    return pages.select(
        "url",
        "warc_ts",
        "lang",
        F.col("text").alias("body"),
        F.regexp_extract(html_s, r"<title>(.*?)</title>", 1).alias("title"),
        F.regexp_extract(html_s, r'content="(.*?)"', 1).alias("keywords"),
        F.regexp_replace(F.col("url"), r"[^0-9A-Za-z]+", " ").alias("url_text"),
        F.concat(
            F.lit("anchor "),
            F.substring(F.regexp_extract(html_s, r"<title>(.*?)</title>", 1), 1, 20),
        ).alias("inlink"),
    )
