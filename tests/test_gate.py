"""Pre-flight for the driver's correctness gate: every gate.registry()
entry is executed BOTH ways (Spark engine vs DuckDB oracle SQL) and
compared exactly the way the driver does — row count, column names,
order-insensitive values.
"""

import duckdb
import pytest

from searchengine_spark import gate

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return c


REG = gate.registry()
ORACLE_CASES = [(n, fn, sql) for n, (fn, sql) in REG.items() if sql is not None]
ROWS_ONLY = [(n, fn) for n, (fn, sql) in REG.items() if sql is None]


def _canon(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in sorted(cols):
            v = r[c]
            if isinstance(v, float):
                v = round(v, 9)
                if v == -0.0:
                    v = 0.0
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


@pytest.mark.parametrize("name,fn,sql", ORACLE_CASES, ids=[c[0] for c in ORACLE_CASES])
def test_gate_query_matches_oracle(spark, con, name, fn, sql):
    sdf = fn(spark, SF)
    scols = sdf.columns
    srows = [r.asDict() for r in sdf.collect()]

    ddf = con.sql(sql).df()
    dcols = list(ddf.columns)
    assert sorted(scols) == sorted(dcols), f"column mismatch: {scols} vs {dcols}"
    drows = ddf.to_dict("records")

    assert len(srows) == len(drows), f"row count {len(srows)} vs {len(drows)}"
    a, b = _canon(srows, scols), _canon(drows, dcols)
    for i, (x, y) in enumerate(zip(a, b)):
        assert x == y, f"{name} row {i}: spark={x} oracle={y}"


@pytest.mark.parametrize("name,fn", ROWS_ONLY, ids=[c[0] for c in ROWS_ONLY])
def test_rows_only_queries_run(spark, name, fn):
    rows = fn(spark, SF).collect()
    assert isinstance(rows, list)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"doc_id", "score", "rank"} <= set(df.columns)
    assert set(e.oracle_sql()) <= set(e.queries())


def test_near_dup_highdim_plane_broadcast(spark, monkeypatch):
    """dim=768 switches the near-dup bucket step to the pandas-UDF closure
    path: identical pairs to the literal-SQL path on the same planes,
    with plan text that stays O(1) in dim instead of inlining
    n_tables*bits*dim float literals."""
    import numpy as np

    from searchengine_spark.pipeline import similarity

    rng = np.random.default_rng(77)
    dim, n = 768, 200
    vecs = rng.standard_normal((n, dim))
    # plant near-dups: every 20th vector is a jittered copy of its predecessor
    vecs[1::20] = vecs[::20] + 0.05 * rng.standard_normal((n // 20, dim))
    rows = [(i, v.astype("float32").tolist()) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # keep the distributed plan inspectable: localization (the default)
    # replaces the returned frame's plan with a LogicalRDD, so force the
    # persisted-passthrough branch for this plan-size test
    monkeypatch.setattr(similarity, "LOCALIZE_MAX_ROWS", -1)

    kw = dict(threshold=0.9, n_tables=4, bits=4, dim=dim, seed=13)
    udf_df = similarity.embedding_near_dup_pairs(emb, **kw)
    udf_rows = sorted(map(tuple, udf_df.collect()))

    monkeypatch.setattr(similarity, "PLANE_LITERAL_MAX_DIM", 10_000)
    lit_df = similarity.embedding_near_dup_pairs(emb, **kw)
    lit_rows = sorted(map(tuple, lit_df.collect()))
    assert udf_rows == lit_rows and len(udf_rows) > 0

    udf_plan = udf_df._jdf.queryExecution().optimizedPlan().toString()
    lit_plan = lit_df._jdf.queryExecution().optimizedPlan().toString()
    assert len(udf_plan) < 100_000, f"UDF-path plan blew up: {len(udf_plan)}"
    assert len(lit_plan) > 4 * len(udf_plan)  # literals genuinely dominate
    udf_df.unpersist()
    lit_df.unpersist()
