"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale notes (the whole point of these implementations):

- **exact**: one groupBy on md5(text) — partial aggregation handles
  head keys; no full-text shuffle (only the 32-hex key + id).
- **jaccard vs seeds**: seeds are broadcast; the corpus streams through
  a broadcast nested-loop only against the (small) seed set.
- **MinHash+LSH**: the self-join happens ONLY on LSH band keys
  (equi-join, shuffle on band hash) — never all-pairs. Bucket sizes
  are bounded by near-dup cluster sizes, not corpus size. Candidate
  pairs are then verified with exact shingle Jaccard.
- **SimHash**: per-token hashing + one partial+final aggregation to a
  64->32-bit signature; banding the signature gives the same equi-join
  candidate generation.

All hashes are md5-derived (functions.hashing) so results are
reproducible in the DuckDB oracle value-for-value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from searchengine_spark.functions.hashing import band_key, shingles, tokens

# 16 hashes / 4 bands = 4-hash band keys (S-curve threshold ~0.71).
# 2-hash band keys are far too permissive on zipf-headed shingle
# distributions (candidate blowup — measured numbers at the MinHash
# family definition below). Mirrored in gate.minhash_lsh_sql — change
# both or neither.
DEFAULT_HASHES = 16
DEFAULT_BANDS = 4


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", key_col: str = "text") -> DataFrame:
    """Clusters of byte-identical ``key_col``: (key_md5, rep_id, n_dups).

    Only clusters with >1 member are duplicates; rep = min id.
    """
    return (
        df.select(F.md5(F.col(key_col)).alias("key_md5"), F.col(id_col).cast("long").alias("id"))
        .groupBy("key_md5")
        .agg(F.min("id").alias("rep_id"), F.count(F.lit(1)).cast("long").alias("n_dups"))
        .where(F.col("n_dups") > 1)
    )


def _with_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    # filter on token count (== nonempty shingles, and the oracle's
    # ``len(toks) >= n``) BEFORE building shingles: a size(__sh) filter
    # would inline and re-evaluate the whole shingle expression
    return (
        df.select(F.col(id_col).cast("long").alias("id"), F.col(text_col).alias("__text"))
        .withColumn("__toks", tokens("__text"))
        .where(F.size("__toks") >= n)
        .withColumn("__sh", shingles("__toks", n))
        .select("id", "__sh")
    )


def _jaccard(a: F.Column, b: F.Column) -> F.Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / (F.size(a) + F.size(b) - F.size(F.array_intersect(a, b))).cast("double")


def jaccard_pairs_vs_seeds(
    df: DataFrame,
    seed_ids: list[int],
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(seed_id, doc_id, jaccard) for corpus docs near any seed doc.

    Seed set is broadcast — the corpus never shuffles.
    """
    sh = _with_shingles(df, id_col, text_col, n)
    seeds = sh.where(F.col("id").isin([int(s) for s in seed_ids])).select(
        F.col("id").alias("seed_id"), F.col("__sh").alias("__sh_seed")
    )
    pairs = sh.join(F.broadcast(seeds), on=F.col("id") != F.col("seed_id"))
    j = _jaccard(F.col("__sh_seed"), F.col("__sh"))
    return (
        pairs.select(
            "seed_id", F.col("id").alias(id_col), F.round(j, 6).alias("jaccard")
        )
        .where(F.col("jaccard") >= threshold)
    )


# 15 md5 hex chars = 60 bits: fits a signed int64 in Spark (conv) AND
# DuckDB ('0x…'::UBIGINT::BIGINT) with no overflow; identical values on
# both engines, so the oracle reproduces the hashed-set Jaccard exactly.
SHINGLE_HASH = "transform({col}, s -> cast(conv(substr(md5(s), 1, 15), 16, 10) as bigint))"
# The same 60-bit hash for an already-exploded shingle row (codegen,
# no interpreted HOF lambda). MH_H (the 40-bit MinHash base) is the
# 10-hex-char prefix of the same md5, i.e. EXACTLY this value >> 20 —
# pinned by test_shingle_hash_prefix_identity — which lets the LSH
# paths md5 each shingle ONCE and derive both hashes from it.
SHINGLE_HASH_SCALAR = "cast(conv(substr(md5({s}), 1, 15), 16, 10) as bigint)"


# MinHash family: ONE md5 per shingle row -> 40-bit base hash h, then
# per-index multiply permutations mh_i = min((a_i * h) mod 2^40) with
# fixed odd 22-bit multipliers a_i (odd multiply mod a power of two is
# a bijection of the 40-bit space, so each index is an independent
# random permutation; 22*40 bits keeps every product < 2^62 — no
# overflow in Spark OR DuckDB BIGINT, even under ANSI mode).
#
# History, because both endpoints failed at 400k pages: round 2's
# per-index SALTED md5s (true independence, n_hashes md5 calls per
# shingle) made signatures the bottleneck (227s of 570s); the round-3
# Kirsch-Mitzenmacher replacement min(h1 + i*h2) is one md5 but has
# only TWO degrees of freedom — every index's argmin lies on the
# Pareto frontier of the same (h1, h2) point set, so docs sharing a
# couple of corpus-hot shingles agreed on whole bands at once and the
# band join emitted 56M candidate pairs for 4k true dups no matter how
# many hashes per band. Independent permutations of one shared base
# hash keep the one-md5 cost AND decorrelate the argmins.
MH_H = "cast(conv(substr(md5(s), 1, 10), 16, 10) as bigint)"
MH_MASK = (1 << 40) - 1


def _mh_multipliers(n_hashes: int) -> list[int]:
    """Deterministic odd 22-bit multipliers, identical in the oracle."""
    import hashlib

    return [
        (int(hashlib.md5(f"mh:{i}".encode()).hexdigest()[:6], 16) & ((1 << 22) - 1)) | 1
        for i in range(n_hashes)
    ]


def _signature_aggs(n_hashes: int) -> list:
    """The one place the MinHash definition lives: ``min((a_i * h) &
    MH_MASK)`` over a frame carrying the 40-bit base hash ``__h``
    (``MH_H``; mirrored verbatim by the gate oracle's mh_cols SQL)."""
    return [
        F.min((F.lit(a) * F.col("__h")).bitwiseAND(F.lit(MH_MASK))).alias(f"mh_{i}")
        for i, a in enumerate(_mh_multipliers(n_hashes))
    ]


def _hashed_sig(sh: DataFrame, n_hashes: int) -> DataFrame:
    """ONE pass from the shingle frame to a compact
    ``(id, __hh, mh_0..mh_{n-1})`` frame: exploded shingles are md5'd
    once per shingle (codegen scalar, not an interpreted HOF lambda),
    the 40-bit MinHash base is the 60-bit verify hash shifted right 20
    bits (both are hex prefixes of the same md5 — bit-identical to
    MH_H / SHINGLE_HASH, pinned by test_shingle_hash_prefix_identity),
    and a single groupBy carries the signature mins AND the
    hashed-shingle list the verify stage needs. ``__sh`` is
    array_distinct and ``_jaccard`` is set/size-based, so the
    collect_list order is immaterial to the exposed jaccard values.

    This replaces persisting corpus-wide shingle STRING arrays for the
    verify stage (~10x the cached bytes at 4M pages — the dominant
    cache pressure in MINHASH_PROFILE.jsonl) and removes the second
    md5 pass the signature aggregation used to pay.
    """
    ex = (
        sh.select("id", F.explode("__sh").alias("s"))
        .withColumn("hh", F.expr(SHINGLE_HASH_SCALAR.format(s="s")))
        .withColumn("__h", F.shiftright("hh", 20))
    )
    return ex.groupBy("id").agg(
        F.collect_list("hh").alias("__hh"), *_signature_aggs(n_hashes)
    )


def _minhash_lsh(
    df: DataFrame, threshold: float, id_col: str, text_col: str,
    n_hashes: int, n_bands: int, n: int, candidates,
) -> DataFrame:
    """The banded-MinHash pipeline around one candidate generator:
    shingles -> ``_hashed_sig`` -> one ``(id, band, bkey)`` row per band;
    ``candidates(banded)`` returns an ``(id_a, id_b)`` frame and the
    frames it cached; then each candidate is verified with exact
    shingle Jaccard (no LSH false positives — false negatives only).

    Scale discipline in the verify stage: the band join carries ONLY
    (id, band, bkey); exact Jaccard runs on 8-byte shingle hashes (not
    the raw shingle strings), and only for docs that appear in some
    candidate pair (semi-join first) — the corpus-wide shingle payload
    never enters a shuffle.
    """
    rows_per_band = n_hashes // n_bands
    sh = _with_shingles(df, id_col, text_col, n)
    # persist: the band join reads the banded rows from BOTH sides, and
    # the verify reads the hashed shingles — without the cache the
    # explode+md5+groupBy signature pass re-runs on every read
    # (measured 8x at 400k pages: 377s -> 86s total from this line).
    # ONE compact cache (ids + hashed shingles + signature) — see
    # _hashed_sig for why no shingle-string frame is persisted.
    sig = _hashed_sig(sh, n_hashes).persist()

    # one (id, band, bkey) row per band from ONE scan of the signature
    # cache: a posexplode of the band keys
    keys = [
        band_key([F.col(f"mh_{i}") for i in range(b * rows_per_band, (b + 1) * rows_per_band)])
        for b in range(n_bands)
    ]
    banded = sig.select("id", F.posexplode(F.array(*keys)).alias("band", "bkey"))
    cand, cached = candidates(banded)
    cand = cand.persist()

    cand_ids = cand.select(F.explode(F.array("id_a", "id_b")).alias("id")).distinct()
    shh = sig.join(cand_ids, on="id", how="leftsemi").select("id", "__hh")
    a = shh.select(F.col("id").alias("id_a"), F.col("__hh").alias("__hh_a"))
    b_ = shh.select(F.col("id").alias("id_b"), F.col("__hh").alias("__hh_b"))
    verified = (
        cand.join(a, "id_a")
        .join(b_, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(_jaccard(F.col("__hh_a"), F.col("__hh_b")), 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    # materialize the (tiny) verified pair set through the normal AQE
    # path (localCheckpoint would run the un-adapted RDD plan — measured
    # 10x slower), then release the cached corpus-sized signature/candidate
    # frames; only the small cached result outlives the call
    verified = verified.persist()
    verified.count()
    for fr in (sig, *cached, cand):
        try:
            fr.unpersist()
        except Exception:
            pass
    return verified


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = DEFAULT_HASHES,
    n_bands: int = DEFAULT_BANDS,
    n: int = 3,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard) via banded MinHash.

    Candidates = pairs agreeing on >=1 band (equi-join on band key),
    verified by ``_minhash_lsh``.
    """

    def candidates(banded: DataFrame):
        pairs = (
            banded.alias("x")
            .join(banded.alias("y"), on=["band", "bkey"])
            .where(F.col("x.id") < F.col("y.id"))
            .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
            .distinct()
        )
        return pairs, []

    return _minhash_lsh(df, threshold, id_col, text_col, n_hashes, n_bands, n, candidates)


def minhash_lsh_star_edges(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = DEFAULT_HASHES,
    n_bands: int = DEFAULT_BANDS,
    n: int = 3,
) -> DataFrame:
    """Near-duplicate STAR edges (bucket-min -> member) for clustering.

    The all-pairs band join of ``minhash_lsh_pairs`` is exact but
    inherently O(m^2) per bucket — a 16k-copy boilerplate template (the
    hostile web shape) puts 128M candidate pairs in ONE bucket. For dedup clustering the pairs themselves are
    not needed, only connectivity: per (band, bucket) this emits ONLY
    the (bucket-min, member) star — O(m) per bucket — then verifies
    exact shingle Jaccard on those edges. Connected components over
    star edges reproduce the pair-based components whenever bucket
    co-members are mutually above threshold (true for boilerplate
    near-dup clusters; pinned vs the pairs path in
    tests/test_clustering.py). This is the standard production
    MinHash-dedup topology (one linear pass, no quadratic bucket).
    """

    def candidates(banded: DataFrame):
        banded = banded.persist()  # read by the bucket agg and the join
        reps = (
            banded.groupBy("band", "bkey")
            .agg(F.min("id").alias("id_a"), F.count(F.lit(1)).alias("__m"))
            .where(F.col("__m") > 1)
            .drop("__m")
        )
        edges = (
            banded.join(reps, on=["band", "bkey"])
            .where(F.col("id") != F.col("id_a"))
            .select("id_a", F.col("id").alias("id_b"))
            .distinct()
        )
        return edges, [banded]

    return _minhash_lsh(df, threshold, id_col, text_col, n_hashes, n_bands, n, candidates)


def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """(id, component) from an undirected pair list — min-label
    propagation with per-round POINTER DOUBLING, so convergence is
    O(log diameter) rounds, not O(diameter).

    Each iteration does two steps:

    1. every node adopts the minimum label in its closed neighborhood
       (one groupBy over the symmetrized edge list);
    2. pointer jump: ``label(v) <- label(label(v))`` (one self-join on
       the label table). Labels are node ids, so the jump halves the
       remaining chain length every round — a 10k-doc boilerplate
       chain (the pathological near-dup shape: page1~page2~...~pageN)
       converges in ~log2(N) rounds where pure propagation needed N
       and silently hit max_iter.

    With max_iter=20 this handles components of diameter up to ~2^20.
    The driver only sees one change-count per round.
    """
    edges = (
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .unionByName(pairs.select(F.col("id_b").alias("a"), F.col("id_a").alias("b")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .persist()
    )
    for it in range(max_iter):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("id", "b"), on="b")
            .groupBy("a")
            .agg(F.min("component").alias("nmin"))
            .withColumnRenamed("a", "id")
        )
        # localCheckpoint (NOT just persist): the pointer jump below
        # self-joins this frame, and Catalyst's constraint propagation
        # over round-on-round nested least/coalesce self-joins blows up
        # super-linearly — measured as a driver-side optimizer hang
        # (minutes, zero executor load) on a 28-pair input by round 3.
        # Truncating the logical plan every round keeps optimization
        # O(1) per round; the frame is (id, component) — tiny — so the
        # un-adapted RDD write is cheap here, unlike the corpus-sized
        # frames where CLAUDE.md bans localCheckpoint.
        propagated = labels.join(neighbor_min, on="id", how="left").select(
            "id",
            F.least(F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))).alias(
                "component"
            ),
        ).localCheckpoint(eager=True)
        # pointer doubling: component values ARE node ids, so jumping to
        # the component's own label shortcuts v->p->q into v->q. Labels
        # only shrink, so label(component) <= component always.
        jump = propagated.select(
            F.col("id").alias("component"), F.col("component").alias("cc2")
        )
        new_labels = propagated.join(jump, on="component", how="left").select(
            "id",
            F.least(F.col("component"), F.coalesce(F.col("cc2"), F.col("component"))).alias(
                "component"
            ),
        )
        # truncate lineage every few rounds (localCheckpoint materializes),
        # otherwise the plan grows two joins per iteration
        if (it + 1) % 4 == 0:
            new_labels = new_labels.localCheckpoint(eager=True)
        else:
            new_labels = new_labels.persist()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), on="id")
            .where(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels.unpersist()  # executor storage stays O(1) across rounds
        propagated.unpersist()
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    return labels


def near_dup_clusters(
    df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    edges: str = "pairs",
) -> DataFrame:
    """(component, doc_id) near-duplicate clusters: MinHash-LSH edges ->
    connected components; component id = min doc id in the cluster.
    Singletons (no near-dup) are excluded.

    ``edges="pairs"`` (default, the oracle-gated exact path) verifies
    every band-bucket pair — O(bucket^2) candidates, fine for organic
    ~1% dup density. ``edges="star"`` emits only bucket-min stars —
    O(bucket) — the shape that survives boilerplate mega-clusters at
    web scale (SCALEBENCH_SKEW.json measures both)."""
    gen = minhash_lsh_star_edges if edges == "star" else minhash_lsh_pairs
    pairs = gen(df, threshold=threshold, id_col=id_col, text_col=text_col)
    cc = connected_components(pairs)
    return cc.select(F.col("component"), F.col("id").alias(id_col))


SIMHASH_BITS = 64  # two 32-bit halves (signed-overflow-safe everywhere)
_HALF = 32
SIMHASH_BAND_BITS = 16  # 4 bands x 16 bits -> 2^16 bucket keys per band


def simhash_values(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash_hi, simhash_lo) — 64-bit tf-weighted SimHash.

    The 64-bit signature is built as two salted 32-bit md5 halves so
    every value stays < 2^32 (no signed-long overflow in Spark, DuckDB,
    or parquet) — identical bit definitions to the DuckDB oracle.

    A signature is a per-doc quantity, so the whole computation runs in
    ONE shuffle-free Arrow pass (tokenize + tf + per-bit ±tf sums inside
    the task that owns the doc); the explode->groupBy alternative
    shuffles token-level rows twice. Per-token ±1 bit vectors are
    memoized per batch — the corpus vocabulary is tiny relative to the
    token stream.

    32 bits banded into 8-bit keys caps LSH at 256 buckets/band — a
    quadratic self-join at web scale; 64 bits with 16-bit bands keeps
    the pigeonhole guarantee for hamming<=3 with 65536x more buckets.
    """
    import hashlib
    from collections import Counter

    import numpy as np
    import pandas as pd

    from searchengine_spark.analyzer import get_analyzer

    weights = np.power(2, np.arange(_HALF, dtype=np.int64))

    def gen(batches):
        an = get_analyzer("simple")  # the ONE tokenizer (CLAUDE.md invariant)
        cache: dict[str, np.ndarray] = {}
        for pdf in batches:
            ids, his, los = [], [], []
            for i, text in zip(pdf["id"], pdf["__text"]):
                toks = an.terms(text) if isinstance(text, str) else []
                if not toks:
                    continue  # explode semantics: token-less docs have no row
                sums = np.zeros(2 * _HALF, dtype=np.int64)
                for t, c in Counter(toks).items():
                    vec = cache.get(t)
                    if vec is None:
                        h_lo = int(hashlib.md5(("0:" + t).encode()).hexdigest()[:8], 16)
                        h_hi = int(hashlib.md5(("1:" + t).encode()).hexdigest()[:8], 16)
                        bits = [(h_lo >> j) & 1 for j in range(_HALF)] + [
                            (h_hi >> j) & 1 for j in range(_HALF)
                        ]
                        vec = np.array(bits, dtype=np.int64) * 2 - 1
                        cache[t] = vec
                    sums += c * vec
                lo = int(((sums[:_HALF] > 0).astype(np.int64) * weights).sum())
                hi = int(((sums[_HALF:] > 0).astype(np.int64) * weights).sum())
                ids.append(int(i))
                his.append(hi)
                los.append(lo)
            yield pd.DataFrame({"id": ids, "simhash_hi": his, "simhash_lo": los})

    return df.select(
        F.col(id_col).cast("long").alias("id"), F.col(text_col).alias("__text")
    ).mapInPandas(gen, "id long, simhash_hi long, simhash_lo long")


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Candidate near-dup pairs by SimHash banding + hamming verify.

    The 64-bit signature splits into 4 disjoint 16-bit bands; pairs
    agreeing on any band are candidates (pigeonhole: hamming<=3 over 4
    disjoint groups leaves >=1 group identical), verified with
    bit_count(xor) over both halves. 2^16 keys per band keeps bucket
    sizes ~N/65536 — the self-join stays near-linear at corpus scale.
    """
    sig = simhash_values(df, id_col, text_col).persist()
    # bands 0-1 are the low half's 16-bit groups, 2-3 the high half's:
    # one posexplode over the cached signatures, as in _minhash_lsh
    keys = [
        F.shiftright(F.col("simhash_lo" if b < 2 else "simhash_hi"), (b % 2) * SIMHASH_BAND_BITS)
        .bitwiseAND(F.lit(65535))
        for b in range(4)
    ]
    banded = sig.select(
        "id", "simhash_hi", "simhash_lo", F.posexplode(F.array(*keys)).alias("band", "bkey")
    )
    # hamming filter runs BEFORE the distinct: it's computable per
    # candidate row, so filtering first shrinks the distinct's shuffle
    pairs = (
        banded.alias("x")
        .join(banded.alias("y"), on=["band", "bkey"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            (
                F.bit_count(F.expr("x.simhash_lo ^ y.simhash_lo"))
                + F.bit_count(F.expr("x.simhash_hi ^ y.simhash_hi"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    # materialize the (tiny) pair set, then release the corpus-sized
    # cached signature frame (same discipline as minhash_lsh_pairs)
    pairs = pairs.persist()
    pairs.count()
    sig.unpersist()
    return pairs
