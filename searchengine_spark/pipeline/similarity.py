"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: exact brute-force top-k for a (small, broadcast)
  query set — the correctness baseline. Dot products run as SQL
  higher-order functions (zip_with + aggregate) entirely JVM-side,
  summed left-to-right so an ANSI-SQL oracle reproduces the doubles
  bit-for-bit.
- ``ivf_topk``: the approximate top-k — IVF-flat coarse quantization
  (``ivf_assign`` builds the inverted lists once, ``write_ivf_index``
  persists them partitioned by cell); a query probes its ``n_probe``
  nearest cells and exact cosine re-ranks their members. Verified
  value-for-value against a DuckDB oracle that re-derives the same
  centroids from the table (gate ``ann_ivf_topk``). It replaced a
  hyperplane-LSH top-k that matched or lost to it at every measured
  recall level (COVERAGE.md).
- ``embedding_near_dup_pairs``: all pairs above a cosine threshold via
  random-hyperplane LSH buckets (deterministic planes from a seeded
  RNG); pairs share >=1 of ``n_tables`` bucket keys, then exact cosine
  verifies them (gate ``emb_near_dup``).

Plane shipping auto-switches on dimension (``PLANE_LITERAL_MAX_DIM``):
at dim<=128 the literal arrays are a few hundred KB of plan text and
the sign bits are replayable term-for-term in the DuckDB oracle (the
gate path). At word2vec-scale dims (768+) — or whenever
``plane_udf=True`` forces it — the bucket step becomes an
Arrow-batched pandas UDF whose closure captures the
(n_tables, bits, dim) plane tensor: Spark broadcasts the serialized
closure once per executor and all n_tables x bits signs come from ONE
numpy matmul per batch. The UDF is the row-count scale path too, not
just the dim path: Spark evaluates higher-order-function lambdas
interpreted (never codegen-vectorized), so the literal dot products
cost tables*bits*dim lambda steps per vector — 66s for 400k vectors
at 8x16x64 vs ~2s for the matmul (32-vCPU host). IVF cell assignment
makes the same switch (``cell_udf``).

Both plane paths emit the bucket keys as one ``array<string>`` column
that ``posexplode`` stacks into (table, bucket) rows — a single scan
computes every table's key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

from searchengine_spark.session import arrow_frame, local_frame

PLANE_LITERAL_MAX_DIM = 128

DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 as double), "
    "(acc, v) -> acc + v)"
)


def _as_double(col: str) -> str:
    return f"transform({col}, x -> cast(x as double))"


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    dv = _as_double(vec_col)
    return df.withColumn("__v", F.expr(dv)).withColumn(
        "__norm", F.sqrt(F.expr(DOT.format(a="__v", b="__v")))
    )


def cosine_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, vec_id, cos, rank<=k) — exact brute force.

    Queries are broadcast; corpus streams once. Rank ties break on
    vec_id ascending; cos is rounded to 6 digits *before* ranking so
    the ordering itself is float-noise-proof.
    """
    base = with_norm(emb, vec_col).select(
        F.col(id_col).cast("long").alias("vec_id"), "__v", "__norm"
    )
    q = base.where(F.col("vec_id").isin([int(i) for i in query_ids])).select(
        F.col("vec_id").alias("query_id"),
        F.col("__v").alias("__qv"),
        F.col("__norm").alias("__qnorm"),
    )
    pairs = base.join(F.broadcast(q), on=F.col("vec_id") != F.col("query_id"))
    cos = F.expr(DOT.format(a="__qv", b="__v")) / (F.col("__qnorm") * F.col("__norm"))
    scored = pairs.select(
        "query_id", "vec_id", F.round(cos, 6).alias("cos")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, n_tables: int, bits: int, seed: int = 13) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_tables, bits, dim))


def _bucket_array_col(
    planes: np.ndarray, vec_col: str = "__v", plane_udf: bool | None = None
) -> F.Column:
    """array<string> of per-table sign-bit bucket keys for one vector.

    dim <= PLANE_LITERAL_MAX_DIM: plane rows inline as SQL literals
    (oracle-replayable: the ordered left-fold sum is what the DuckDB
    gate replays). Above that — or when ``plane_udf=True`` forces it —
    a pandas UDF with the planes in its closure (broadcast once per
    executor), one (batch x dim) @ (dim x T*B) matmul for every key at
    once. Force the UDF at scale even for small dims: Spark evaluates
    higher-order-function lambdas interpreted, so n_tables*bits literal
    dot products cost ~tables*bits*dim lambda steps PER VECTOR
    (measured 66s for 400k x 8x16x64 vs ~2s for the matmul).
    """
    n_tables, bits, dim = planes.shape
    if plane_udf is None:
        plane_udf = dim > PLANE_LITERAL_MAX_DIM
    if not plane_udf:
        tables = []
        for t in range(n_tables):
            bit_exprs = []
            for b in range(bits):
                arr = "array(" + ", ".join(repr(float(x)) for x in planes[t, b]) + ")"
                bit_exprs.append(
                    f"case when {DOT.format(a=vec_col, b=arr)} >= 0 then '1' else '0' end"
                )
            tables.append("concat(" + ", ".join(bit_exprs) + ")")
        return F.expr("array(" + ", ".join(tables) + ")")

    flat = planes.reshape(n_tables * bits, dim).T.copy()  # (dim, T*B)

    @F.pandas_udf("array<string>")
    def buckets(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series([], dtype=object)
        mat = np.stack(v.to_numpy()).astype(np.float64)  # (n, dim)
        signs = (mat @ flat) >= 0.0  # (n, T*B)
        chars = np.where(signs, b"1", b"0").astype("S1")
        keys = (
            np.ascontiguousarray(chars)
            .reshape(len(mat), n_tables, bits)
            .view(f"S{bits}")[..., 0]
        )  # (n, T) fixed-width byte strings
        return pd.Series([[s.decode("ascii") for s in row] for row in keys])

    return buckets(F.col(vec_col))


# Results at or under this many rows are pulled to the driver and
# re-emitted as a local frame so the corpus-sized build cache can be
# unpersisted immediately (no persisted frame escapes to the caller).
# Above it (possible only for embedding_near_dup_pairs at permissive
# thresholds) the verified pairs stay a persisted distributed frame —
# eagerly materialized, documented, and releasable via df.unpersist().
LOCALIZE_MAX_ROWS = 200_000


def _localized(result: DataFrame, *caches: DataFrame) -> DataFrame:
    """Materialize ``result``, release ``caches``, return a leak-free frame.

    Small results (<= LOCALIZE_MAX_ROWS) come back as a driver-local
    frame with no cache attached; larger ones stay persisted (the
    caller owns the release via ``.unpersist()``). Either way the
    corpus-sized build caches are dropped before returning — the
    ADVICE-flagged "returned cache is never unpersisted" leak."""
    result = result.persist()
    n = result.count()
    if n <= LOCALIZE_MAX_ROWS:
        _, local = local_frame(result)
        result.unpersist()
        for c in caches:
            c.unpersist()
        return local
    for c in caches:
        c.unpersist()
    return result


def ivf_centroids(
    emb: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic IVF coarse centroids: ``n_cells`` medoids.

    Medoid selection is md5-ordered over the id — a data-derived but
    fully deterministic pick (no RNG state, no Lloyd iterations) so a
    SQL oracle can re-derive the exact same centroids from the table
    itself. The collect is k-bounded (``n_cells`` rows). Returned vectors are the double-cast
    embeddings in md5 order (cell id = list index).
    """
    rows = (
        emb.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.expr(_as_double(vec_col)).alias("__v"),
        )
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(n_cells)
        .collect()
    )
    return [list(r["__v"]) for r in rows]


def _ivf_score_exprs(cents: list[list[float]], vec_col: str = "__v") -> list[str]:
    """Per-cell assignment score: round(cos(v, c_i), 6) as SQL text.

    Centroid arrays inline as literals (``repr(float)`` round-trips the
    exact doubles both engines read from parquet) and the centroid norm
    is computed IN SQL with the same ordered fold the oracle uses, so
    the scores are bit-reproducible — the same discipline as the
    near-dup LSH plane literals."""
    exprs = []
    for c in cents:
        arr = "array(" + ", ".join(repr(float(x)) for x in c) + ")"
        exprs.append(
            f"round({DOT.format(a=vec_col, b=arr)} / "
            f"(__norm * sqrt({DOT.format(a=arr, b=arr)})), 6)"
        )
    return exprs


def _ivf_cell_col(cents: list[list[float]], cell_udf: bool) -> F.Column:
    """Assigned cell id (argmax cos, first-index tie-break) for one vector.

    Literal mode (the oracle-gated default at dim <= 128):
    ``array_position(scores, array_max(scores)) - 1`` over the literal
    score array — Catalyst constant-folds the centroid norms once.
    UDF mode (the row-count / dimension scale path, same switch as the
    LSH planes): ONE (batch x dim) @ (dim x cells) matmul per Arrow
    batch with the centroid tensor in the closure; ``np.argmax`` picks
    the first max, matching the SQL tie-break."""
    if not cell_udf:
        scores = "array(" + ", ".join(_ivf_score_exprs(cents)) + ")"
        return F.expr(
            f"cast(array_position({scores}, array_max({scores})) - 1 as int)"
        )

    cmat = np.asarray(cents, dtype=np.float64)  # (cells, dim)
    cnrm = np.sqrt((cmat * cmat).sum(axis=1))  # (cells,)

    @F.pandas_udf("int")
    def cell_of(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series([], dtype="int32")
        mat = np.stack(v.to_numpy()).astype(np.float64)  # (n, dim)
        nrm = np.sqrt((mat * mat).sum(axis=1))
        s = np.round((mat @ cmat.T) / (nrm[:, None] * cnrm[None, :]), 6)
        return pd.Series(np.argmax(s, axis=1).astype(np.int32))

    return cell_of(F.col("__v"))


def _lloyd_refine(
    base: DataFrame, cents: list[list[float]], iters: int
) -> list[list[float]]:
    """k-means (Lloyd) refinement of the medoid-seeded centroids.

    Per iteration: one corpus scan assigns cells (Arrow matmul), then
    ONE groupBy(cell) with dim per-component avg exprs — map-side
    partial aggregation means the shuffle carries cells x dim partial
    sums per task, never vectors, and the collect is k-bounded
    (n_cells rows). Empty cells keep their previous centroid.

    NOT oracle-replayable on purpose: a distributed float average is
    not bit-reproducible across partitionings, so the gated/oracle
    path stays at ``lloyd_iters=0`` (pure medoids) and refinement is a
    scale-path quality knob verified by the full-probe == brute-force
    invariant (which holds for ANY centroids) plus recall pytest."""
    if not cents:
        return cents
    dim = len(cents[0])
    for _ in range(iters):
        assigned = base.withColumn("cell", _ivf_cell_col(cents, cell_udf=True))
        rows = (
            assigned.groupBy("cell")
            .agg(F.array(*[F.avg(F.col("__v")[i]) for i in range(dim)]).alias("m"))
            .collect()
        )
        new = list(cents)
        for r in rows:
            m = r["m"]
            if m is not None and all(x is not None for x in m):
                new[int(r["cell"])] = [float(x) for x in m]
        cents = new
    return cents


def ivf_assign(
    emb: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_udf: bool | None = None,
    lloyd_iters: int = 0,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF index build: (assigned frame, centroids).

    The returned frame (vec_id, __v, __norm, cell) is the inverted-list
    structure — ONE scan of the corpus scoring n_cells centroids per
    vector (the O(n * cells * dim) cost a deployment pays once, then
    persists or writes partitioned by ``cell`` so queries prune to
    their probed cells). Pass the tuple to ``ivf_topk(prebuilt=...)``
    to amortize it across a query workload.

    ``lloyd_iters > 0`` refines the medoid seeds with k-means passes
    (``_lloyd_refine``) before the final assignment — the standard IVF
    coarse-quantizer training; the oracle-gated default stays 0."""
    cents = ivf_centroids(emb, n_cells, id_col, vec_col)
    # dim comes from the centroid collect — no separate probe job
    dim = len(cents[0]) if cents else 0
    if cell_udf is None:
        cell_udf = dim > PLANE_LITERAL_MAX_DIM
    base = with_norm(emb, vec_col).select(
        F.col(id_col).cast("long").alias("vec_id"), "__v", "__norm"
    )
    if lloyd_iters > 0:
        cents = _lloyd_refine(base, cents, lloyd_iters)
    return base.withColumn("cell", _ivf_cell_col(cents, cell_udf)), cents


def write_ivf_index(
    emb: DataFrame,
    path: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_udf: bool | None = None,
    lloyd_iters: int = 0,
) -> None:
    """Persist the IVF inverted lists partitioned by cell.

    Layout: ``<path>/cells/cell=<i>/*.parquet`` (vec_id, __v, __norm)
    plus ``<path>/centroids`` (a one-file parquet of (cid, cv) — both
    pieces go through Spark's FS layer, so the layout works unchanged
    on HDFS/S3 URIs, not just local paths). Because ``cell`` is a
    partition directory and every ``ivf_topk(prebuilt=...)`` call
    (literal or UDF mode) probes driver-side and pushes the probed
    cells as a literal IN filter, a query against the read-back index
    scans ONLY the n_probe probed cells' files
    (PartitionFilters in the plan — the same bucket-pruning shape as
    the postings layout, pinned by tests/test_ivf.py)."""
    import os

    assigned, cents = ivf_assign(
        emb, n_cells, id_col=id_col, vec_col=vec_col, cell_udf=cell_udf,
        lloyd_iters=lloyd_iters,
    )
    assigned.select("vec_id", "__v", "__norm", "cell").write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(os.path.join(path, "cells"))
    arrow_frame(
        emb.sparkSession, [(i, c) for i, c in enumerate(cents)], "cid int, cv array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "centroids"))


def read_ivf_index(spark, path: str) -> tuple[DataFrame, list[list[float]]]:
    """Open a ``write_ivf_index`` layout as an ``ivf_topk(prebuilt=)``
    tuple; cell comes back as the partition column (pruned by the
    probe literals, never scanned wholesale)."""
    import os

    crows = spark.read.parquet(os.path.join(path, "centroids")).collect()
    cents = [list(r["cv"]) for r in sorted(crows, key=lambda r: r["cid"])]
    df = spark.read.parquet(os.path.join(path, "cells")).select(
        "vec_id", "__v", "__norm", F.col("cell").cast("int").alias("cell")
    )
    return df, cents


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_cells: int | None = None,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_udf: bool | None = None,
    prebuilt: tuple[DataFrame, list[list[float]]] | None = None,
    lloyd_iters: int = 0,
) -> DataFrame:
    """Approximate cosine top-k via IVF-flat coarse quantization.

    IVF (Jegou et al., "Product Quantization for Nearest Neighbor
    Search", TPAMI'11 — coarse inverted lists, here with flat exact
    rerank): every vector is assigned to its nearest of ``n_cells``
    deterministic medoid centroids (``ivf_centroids``); a query probes
    its ``n_probe`` nearest cells and exact cosine re-ranks only those
    cells' members. Probe cost ~ n_probe/n_cells of the corpus instead of
    all of it.

    Scale shape: centroids are k-bounded and ship in a UDF closure /
    literal plan text (never a shuffle); the corpus is scanned ONCE to
    assign cells; the candidate join is a broadcast of the (tiny)
    probe table against the cell key. At 10^12 vectors the assignment
    is one Arrow matmul per batch (``cell_udf=True``) and cell id
    becomes a partition key so each query touches only n_probe
    partitions' files. Recall<1 by construction; the gate oracle
    re-derives the identical centroids/assignment in SQL so the
    approximate answer itself is verified value-for-value.

    Cell assignment is the INDEX-BUILD cost (n_cells x dim work per
    vector, paid once) — amortize it across queries by building via
    ``ivf_assign`` once, persisting/writing the result, and passing it
    back through ``prebuilt``; each call then pays only the probe-join
    + rerank (the per-query cost a deployment actually sees).

    ``n_cells`` defaults to 16 for a one-call build and to the prebuilt
    index's own cell count; a prebuilt index raises ``ValueError`` when
    an explicit ``n_cells`` or ``n_probe`` does not fit its centroids.
    """
    own_cache = False
    if prebuilt is not None:
        assigned, cents = prebuilt
        if n_cells is not None and n_cells != len(cents):
            raise ValueError(
                f"n_cells={n_cells} but the prebuilt index has {len(cents)} cells"
            )
        if n_probe > len(cents):
            raise ValueError(
                f"n_probe={n_probe} exceeds the prebuilt index's {len(cents)} cells"
            )
    else:
        assigned, cents = ivf_assign(
            emb, 16 if n_cells is None else n_cells, id_col=id_col,
            vec_col=vec_col, cell_udf=cell_udf, lloyd_iters=lloyd_iters,
        )
        # one-call mode: both the probe collect and the candidate scan
        # read the assignment — cache it for the call and release it
        # before returning, else the O(n*cells*dim) assignment runs
        # twice. Spark keys caches by plan: when the caller already
        # persisted an identical ivf_assign frame, this one reads that
        # entry, and unpersisting it would drop the caller's index.
        own_cache = assigned.storageLevel == StorageLevel.NONE
        if own_cache:
            assigned.persist()
    if cell_udf is None:
        cell_udf = (len(cents[0]) if cents else 0) > PLANE_LITERAL_MAX_DIM

    # query probes: top-n_probe cells per query. One-call literal mode
    # ranks the SAME literal score exprs in SQL (bit-identical to the
    # oracle); UDF/scale mode AND every prebuilt call compute them
    # driver-side from the (k-bounded) collected query vectors — at
    # scale n_cells ~ sqrt(n) is hundreds of cells and a literal plan
    # would carry n_cells*dim floats through Catalyst analysis for no
    # reason, and driver-known probe cells are what turn into
    # PartitionFilters against a write_ivf_index layout.
    qid_list = [int(i) for i in query_ids]
    qbase = assigned.where(F.col("vec_id").isin(qid_list))
    from pyspark.sql import Window

    # prebuilt mode ALWAYS probes driver-side: the probed cells are then
    # known as literals, so the IN filter below reaches the scan as a
    # PartitionFilter against a write_ivf_index layout in literal mode
    # too (previously only cell_udf=True pruned; a dim<=128 user
    # silently lost the pruning the cell layout exists for). One-call
    # literal mode keeps the SQL-expr probes — that is the
    # oracle-replayed path and must stay bit-identical to the gate SQL.
    if cell_udf or prebuilt is not None:
        cmat = np.asarray(cents, dtype=np.float64)
        cnrm = np.sqrt((cmat * cmat).sum(axis=1))
        probe_rows = []
        for r in qbase.select("vec_id", "__v", "__norm").collect():
            qv = np.asarray(r["__v"], dtype=np.float64)
            s = np.round((cmat @ qv) / (float(r["__norm"]) * cnrm), 6)
            for cell in np.argsort(-s, kind="stable")[:n_probe]:
                probe_rows.append((int(r["vec_id"]), int(cell)))
        probes = arrow_frame(emb.sparkSession, probe_rows, "query_id long, cell int")
        # probe cells are known driver-side here, so push them as a
        # LITERAL IN filter: against a cell-partitioned on-disk index
        # (write_ivf_index) this becomes a PartitionFilter — the scan
        # touches only the probed cells' files, the same bucket-pruning
        # shape as the postings layout
        cand_src = assigned.where(
            F.col("cell").isin(sorted({c for _, c in probe_rows}))
        )
    else:
        scores = "array(" + ", ".join(_ivf_score_exprs(cents)) + ")"
        wq = Window.partitionBy("query_id").orderBy(F.desc("__s"), F.asc("cell"))
        probes = (
            qbase.select(
                F.col("vec_id").alias("query_id"),
                F.posexplode(F.expr(scores)).alias("cell", "__s"),
            )
            .withColumn("__pr", F.row_number().over(wq))
            .where(F.col("__pr") <= n_probe)
            .select("query_id", "cell")
        )
        cand_src = assigned
    qvecs = qbase.select(
        F.col("vec_id").alias("query_id"),
        F.col("__v").alias("__qv"),
        F.col("__norm").alias("__qnorm"),
    )
    q = probes.join(qvecs, on="query_id")
    cand = (
        cand_src.join(F.broadcast(q), on="cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "__qv", "__qnorm", "__v", "__norm")
    )
    cos = F.expr(DOT.format(a="__qv", b="__v")) / (F.col("__qnorm") * F.col("__norm"))
    scored = cand.select("query_id", "vec_id", F.round(cos, 6).alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    ranked = scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
    if prebuilt is None:
        # EAGER in one-call mode: localize the k-bounded result and free
        # the call's assignment cache before returning (no persisted frame
        # escapes — see _localized). Prebuilt mode stays lazy: the
        # caller owns the cache, and an eager materialize here would
        # hide the cell PartitionFilters the persisted-index plan
        # evidence relies on.
        return _localized(ranked, *([assigned] if own_cache else []))
    return ranked


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.99,
    n_tables: int = 16,
    bits: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 13,
    plane_udf: bool | None = None,
) -> DataFrame:
    """(id_a < id_b, cos >= threshold) via hyperplane-LSH bucketing.

    EAGER: materializes the verified pair set so the corpus-sized hash
    cache can be released before returning. Small pair sets (the normal
    case at near-dup thresholds) localize to a cache-free driver frame;
    a pair set past ``LOCALIZE_MAX_ROWS`` (permissive thresholds) comes
    back persisted — release it with ``df.unpersist()`` when done.
    """
    planes = _hyperplanes(dim, n_tables, bits, seed)
    base = with_norm(emb, vec_col).select(
        F.col(id_col).cast("long").alias("vec_id"), "__v", "__norm"
    )
    # persist before the self-join: both sides read this frame, so an
    # unpersisted plan would run the plane-projection hashing twice
    # (same pattern as minhash_lsh_pairs' signature cache)
    hashed = base.withColumn("__bks", _bucket_array_col(planes, plane_udf=plane_udf)).persist()
    stacked = hashed.select(
        "vec_id", "__v", "__norm", F.posexplode("__bks").alias("table", "bucket")
    )
    # candidate generation ships ONLY ids: a pair colliding in many
    # tables would otherwise drag both full vectors through the
    # dropDuplicates shuffle once per collision (the same
    # narrow-candidates lesson as the MinHash verify semi-join; with
    # plane_udf=True and scale-sized bucket keys the 400k-vector run
    # went 139s -> 19s)
    ids = stacked.select("vec_id", "table", "bucket")
    cand = (
        ids.alias("x")
        .join(ids.alias("y"), on=["table", "bucket"])
        .where(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(
            F.col("x.vec_id").alias("id_a"),
            F.col("y.vec_id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = hashed.select("vec_id", "__v", "__norm")
    pairs = (
        cand.join(
            vecs.select(
                F.col("vec_id").alias("id_a"),
                F.col("__v").alias("__va"),
                F.col("__norm").alias("__na"),
            ),
            on="id_a",
        )
        .join(
            vecs.select(
                F.col("vec_id").alias("id_b"),
                F.col("__v").alias("__vb"),
                F.col("__norm").alias("__nb"),
            ),
            on="id_b",
        )
    )
    cos = F.expr(DOT.format(a="__va", b="__vb")) / (F.col("__na") * F.col("__nb"))
    verified = (
        pairs.select("id_a", "id_b", F.round(cos, 6).alias("cos"))
        .where(F.col("cos") >= threshold)
    )
    # same discipline as minhash_lsh_pairs: materialize the verified
    # pair set, release the corpus-sized hash cache; small results
    # localize so no cache escapes to the caller
    return _localized(verified, hashed)
