"""Seeded input generator for the benchmark.

Everything a workload feeds the engine is made here from ``--seed`` and
written to parquet with pyarrow before the engine sees it; nothing is
taken from the package's own synthetic corpus, so editing program code
cannot change a workload.

Vocabulary: consonant-vowel syllable words ending in a vowel, which the
``english`` analyzer (KStem + Lucene stopwords) maps to themselves, so
the generator knows every indexed token without calling the analyzer.
Term frequencies are zipf over tens of thousands of words; a few real
stopwords are sprinkled in so position slots are exercised.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONSONANTS = "bdfgklmnprstvz"
VOWELS = "aiou"
STOPWORDS = ("the", "of", "and")
STOP_RATE = 0.06
VOCAB_SIZE = 40_000
ZIPF_S = 1.05
# df bands by zipf rank, for drawing query terms
BANDS = {"head": (0, 60), "torso": (60, 1500), "tail": (1500, 12_000)}


class Corpus:
    """Generated docs plus the token lists the oracle needs.

    ``tokens[i]`` is doc i's body as the english analyzer indexes it:
    one slot per word, '' where a stopword was.
    """

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.vocab = _vocab(self.rng)
        p = 1.0 / np.arange(1, len(self.vocab) + 1) ** ZIPF_S
        self.p = p / p.sum()
        self.doc_ids: list[int] = []
        self.bodies: list[str] = []
        self.titles: list[str] = []
        self.tokens: list[list[str]] = []
        self.title_tokens: list[list[str]] = []

    def _words(self, n: int) -> list[str]:
        ids = self.rng.choice(len(self.vocab), size=n, p=self.p)
        words = [self.vocab[i] for i in ids]
        stop = np.nonzero(self.rng.random(n) < STOP_RATE)[0]
        for j, s in zip(stop, self.rng.integers(0, len(STOPWORDS), len(stop))):
            words[j] = STOPWORDS[s]
        return words

    def add_docs(self, n: int, min_len: int, max_len: int) -> range:
        """Append ``n`` docs with body lengths in [min_len, max_len)."""
        start = len(self.doc_ids)
        lens = self.rng.integers(min_len, max_len, n)
        words = self._words(int(lens.sum()))
        tlens = self.rng.integers(3, 9, n)
        twords = self._words(int(tlens.sum()))
        o = t = 0
        for i in range(n):
            body = words[o:o + lens[i]]
            title = twords[t:t + tlens[i]]
            o += lens[i]
            t += tlens[i]
            self._append(body, title)
        return range(start, start + n)

    def add_near_duplicates(self, n: int, words: int = 300) -> list[tuple[int, int]]:
        """Append ``n`` docs of ``words`` words, each followed by a copy
        whose last word differs.

        That swaps one 3-shingle of ``words - 2`` (jaccard 0.993 at 300
        words), so the package's banded MinHash (4 bands of 4 rows)
        misses a planted pair with probability about 5e-7. Returns
        (source id, copy id) pairs.
        """
        pairs = []
        for _ in range(n):
            body = self._words(words)
            title = self._words(5)
            self._append(body, title)
            body = body[:-1] + [self.vocab[int(self.rng.integers(5000, VOCAB_SIZE))]]
            self._append(body, title)
            pairs.append((len(self.doc_ids) - 2, len(self.doc_ids) - 1))
        return pairs

    def _append(self, body: list[str], title: list[str]) -> None:
        self.doc_ids.append(len(self.doc_ids))
        self.bodies.append(" ".join(body))
        self.titles.append(" ".join(title))
        self.tokens.append(["" if w in STOPWORDS else w for w in body])
        self.title_tokens.append(["" if w in STOPWORDS else w for w in title])

    def band_terms(self, band: str, n: int, rng: np.random.Generator) -> list[str]:
        lo, hi = BANDS[band]
        return [self.vocab[i] for i in rng.integers(lo, hi, n)]

    def write_docs(self, path: str, ids) -> int:
        """Write docs ``ids`` as (doc_id, url, body, title) parquet."""
        ids = list(ids)
        table = pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "url": [url(i) for i in ids],
                "body": [self.bodies[i] for i in ids],
                "title": [self.titles[i] for i in ids],
            }
        )
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path)
        return os.path.getsize(path)

    def write_pages(self, path: str, ids) -> int:
        """Write docs ``ids`` in the streaming page schema."""
        ids = list(ids)
        ts = dt.datetime(2024, 1, 1)
        table = pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "url": [url(i) for i in ids],
                "warc_ts": pa.array([ts] * len(ids), pa.timestamp("us")),
                "html": pa.array([b""] * len(ids), pa.binary()),
                "text": [self.bodies[i] for i in ids],
                "lang": ["en"] * len(ids),
            }
        )
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path)
        return os.path.getsize(path)


def url(doc_id: int) -> str:
    # zero-padded so doc ids ascend in external-id order, as the engine's
    # tie-break requires
    return f"http://bench.example/d{doc_id:08d}"


def _vocab(rng: np.random.Generator) -> list[str]:
    syllables = [c + v for c in CONSONANTS for v in VOWELS]
    words: set[str] = set()
    while len(words) < VOCAB_SIZE:
        picks = rng.integers(0, len(syllables), (VOCAB_SIZE, 4)).tolist()
        lens = rng.integers(2, 5, VOCAB_SIZE).tolist()
        words.update("".join(syllables[j] for j in row[:n]) for row, n in zip(picks, lens))
    out = sorted(words)[:VOCAB_SIZE]
    rng.shuffle(out)  # zipf rank order
    return out


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

# (shape, model): the structured-query mix, QryEval syntax
SHAPES = (
    ("bow3", "bm25"),
    ("bow7", "bm25"),
    ("near", "bm25"),
    ("window", "rankedboolean"),
    ("and", "indri"),
    ("wand", "indri"),
    ("booland", "rankedboolean"),
    ("syn", "rankedboolean"),
)


def query_rng(seed: int, stream: str) -> np.random.Generator:
    """A query generator of its own per query stream, so how many
    queries one phase draws never changes another phase's queries."""
    return np.random.default_rng([seed, sum(map(ord, stream))])


def make_query(c: Corpus, shape: str, rng: np.random.Generator) -> str:
    def band(name: str, n: int = 1) -> list[str]:
        return c.band_terms(name, n, rng)

    def mixed(n: int) -> list[str]:
        bands = rng.choice(["head", "torso", "tail"], size=n, p=[0.3, 0.5, 0.2])
        return [band(str(b))[0] for b in bands]

    if shape == "bow3":
        return " ".join(mixed(3))
    if shape == "bow7":
        return " ".join(mixed(7))
    if shape in ("near", "window"):
        # two distinct head terms, so many docs hold both and the
        # positional UDF has candidates to check
        a, b = (c.vocab[int(i)] for i in rng.choice(BANDS["head"][1], 2, replace=False))
        if shape == "near":
            return f"#near/{int(rng.integers(1, 4))}({a} {b})"
        return f"#window/{int(rng.integers(4, 9))}({a} {b})"
    if shape == "and":
        return "#and(" + " ".join(mixed(3)) + ")"
    if shape == "wand":
        a, b = mixed(2)
        w = round(float(rng.uniform(0.2, 0.8)), 2)
        return f"#wand({w} {a} {round(1 - w, 2)} {b})"
    if shape == "booland":
        return "#and(" + " ".join(band("head") + band("torso")) + ")"
    if shape == "syn":
        return "#syn(" + " ".join(band("torso", 2)) + ")"
    raise ValueError(shape)


def warm_up_query(c: Corpus) -> str:
    """A ``#near`` query from fixed ranks (no draw from a seeded stream,
    so warming up leaves the measured queries as they are)."""
    v = c.vocab
    return f"#near/2({v[1]} {v[10]})"


def query_mix(c: Corpus, n: int, rng: np.random.Generator) -> list[tuple[str, str, str]]:
    """``n`` fresh (shape, model, query) triples, shapes round-robin."""
    return [
        (shape, model, make_query(c, shape, rng))
        for shape, model in (SHAPES[i % len(SHAPES)] for i in range(n))
    ]


def query_stream(
    c: Corpus, rounds: int, per_shape: int, rng: np.random.Generator, s: float = 1.1
) -> list[tuple[str, str]]:
    """``rounds * len(SHAPES)`` (model, query) pairs for one client.

    Every round holds each shape once, in a shuffled order; within a
    shape the query is drawn zipf-skewed from a pool of ``per_shape``,
    so popular queries repeat and meet a warm term-stats cache.
    """
    pools = {shape: [make_query(c, shape, rng) for _ in range(per_shape)] for shape, _ in SHAPES}
    p = 1.0 / np.arange(1, per_shape + 1) ** s
    p /= p.sum()
    out = []
    for _ in range(rounds):
        for i in rng.permutation(len(SHAPES)):
            shape, model = SHAPES[i]
            out.append((model, pools[shape][int(rng.choice(per_shape, p=p))]))
    return out


# ---------------------------------------------------------------------------
# embeddings
# ---------------------------------------------------------------------------


def write_embeddings(path: str, seed: int, n: int, dim: int, clusters: int) -> np.ndarray:
    """Clustered unit-ish vectors (vec_id, embedding array<float>).

    Points sit around ``clusters`` random centres so every query has
    true neighbours in its own cell. Returns the float32 matrix the
    parquet holds, for the brute-force recall check.
    """
    rng = np.random.default_rng(seed + 7919)
    centres = rng.normal(size=(clusters, dim))
    assign = rng.integers(0, clusters, n)
    vecs = (centres[assign] + 0.35 * rng.normal(size=(n, dim))).astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return vecs
