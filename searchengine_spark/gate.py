"""Driver correctness-gate queries + ANSI-SQL oracles.

Each entry pairs a Spark implementation (through the real engine /
pipeline operators) with an equivalent DuckDB SQL string over the same
parquet tables. Both sides:

- tokenize identically (``regexp_extract_all(lower(text), '[a-z0-9]+')``
  == analyzer 'simple'),
- build float expressions in the SAME operand order (the compiler joins
  score frames in argument order precisely so sums/products associate
  identically),
- round exposed scores to 6 digits and rank on the ROUNDED value with
  doc_id tie-break, so last-ulp libm differences between JVM and DuckDB
  cannot flip an ordering or a hash.

Queries where the reference semantics aren't SQL-expressible (greedy
positional tf) are exposed as doc-set checks (UnrankedBoolean): the
greedy NEAR/WINDOW merges match a document iff an ordered chain /
window combination exists, which IS expressible as a positional
self-join (proof sketch in operators/positional.py docstring).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from searchengine_spark.engine import SearchEngine
from searchengine_spark.index.build import build_index
from searchengine_spark.pipeline import dedup, similarity, textstats
from searchengine_spark.plans.models import BM25, Indri, RankedBoolean, UnrankedBoolean

# ---------------------------------------------------------------------------
# cached engines per sf_dir
# ---------------------------------------------------------------------------

_ENGINES: dict[str, SearchEngine] = {}


def docs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def emb_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def engine_for(spark: SparkSession, sf_dir: str) -> SearchEngine:
    eng = _ENGINES.get(sf_dir)
    if eng is None:
        idx = build_index(
            docs_df(spark, sf_dir),
            fields={"body": "text"},
            doc_id_col="doc_id",
            ext_id_col="doc_id",
            analyzer="simple",
        )
        eng = SearchEngine(idx, fields=("body",))
        _ENGINES[sf_dir] = eng
    return eng


def _ranked(scores: DataFrame, k: int) -> DataFrame:
    """Round-then-rank with doc_id tie-break (cross-engine determinism).

    orderBy().limit(k) compiles to TakeOrderedAndProject (per-partition
    k-heaps — the engine's own top-k shape); the row_number window then
    runs over only k rows, not the full score frame."""
    s = scores.select("doc_id", F.round("score", 6).alias("score"))
    top = s.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def _docset(scores: DataFrame) -> DataFrame:
    return scores.select("doc_id", F.round("score", 6).alias("score"))


# ---------------------------------------------------------------------------
# SQL oracle builders
# ---------------------------------------------------------------------------

TOK = "regexp_extract_all(lower(text), '[a-z0-9]+')"

BASE_CTES = f"""
tok AS (SELECT doc_id, {TOK} AS toks FROM documents),
dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS doc_len FROM tok),
st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
              CAST(sum(doc_len) AS DOUBLE) AS sum_len,
              CAST(sum(CASE WHEN doc_len > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS doc_count
       FROM dl),
pos AS (SELECT doc_id, t, CAST(i - 1 AS BIGINT) AS p
        FROM (SELECT doc_id, unnest(toks) AS t, generate_subscripts(toks, 1) AS i FROM tok))
"""


def _tf_cte(terms: list[str]) -> str:
    lst = ", ".join(f"'{t}'" for t in terms)
    return (
        "tf AS (SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS tf "
        "FROM (SELECT doc_id, unnest(toks) AS t FROM tok) "
        f"WHERE t IN ({lst}) GROUP BY doc_id, t)"
    )


def _pivot_tf(terms: list[str]) -> str:
    cols = ", ".join(
        f"max(CASE WHEN term = '{t}' THEN tf END) AS tf{i}" for i, t in enumerate(terms)
    )
    return f"pv AS (SELECT doc_id, {cols} FROM tf GROUP BY doc_id)"


def _rank_wrap(inner: str, k: int) -> str:
    return (
        f"SELECT doc_id, score, rank FROM ("
        f"SELECT doc_id, score, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank "
        f"FROM ({inner}) __f) __r WHERE rank <= {k} ORDER BY rank"
    )


def bm25_sum_sql(terms: list[str], k: int, k1: float = 1.2, b: float = 0.75) -> str:
    scs = []
    for i, t in enumerate(terms):
        scs.append(
            f"(SELECT greatest(0.0, ln((st.n_docs - d.df + 0.5) / (d.df + 0.5))) "
            f"* pv.tf{i} / (pv.tf{i} + {k1!r} * ({1.0 - b!r} + {b!r} * dl.doc_len / (st.sum_len / st.doc_count))) "
            f"FROM (SELECT CAST(count(*) AS DOUBLE) AS df FROM tf WHERE term = '{t}') d) AS s{i}"
        )
    sums = " + ".join(f"COALESCE(s{i}, 0.0)" for i in range(len(terms)))
    inner = f"""
WITH {BASE_CTES}, {_tf_cte(terms)}, {_pivot_tf(terms)},
sc AS (SELECT pv.doc_id, {', '.join(scs)}
       FROM pv JOIN dl USING (doc_id) CROSS JOIN st)
SELECT doc_id, CAST(round({sums}, 6) AS DOUBLE) AS score FROM sc
"""
    return _rank_wrap(inner, k)


def _indri_effs(terms: list[str], mu: float, lam: float) -> tuple[str, str]:
    """CTEs + per-term effective-score column names e0..e{k-1}."""
    ctf_cols = ", ".join(
        f"(SELECT CASE WHEN CAST(COALESCE(sum(tf), 0) AS DOUBLE) < 1.0 THEN 0.5 "
        f"ELSE CAST(sum(tf) AS DOUBLE) END FROM tf WHERE term = '{t}') AS ctfdef{i}, "
        f"(SELECT CAST(COALESCE(sum(tf), 0) AS DOUBLE) FROM tf WHERE term = '{t}') AS ctf{i}"
        for i, t in enumerate(terms)
    )
    effs = []
    for i in range(len(terms)):
        p = f"(ct.ctf{i} / st.sum_len)"
        p_def = f"(ct.ctfdef{i} / st.sum_len)"
        effs.append(
            f"CASE WHEN pv.tf{i} IS NOT NULL THEN "
            f"{1.0 - lam!r} * (pv.tf{i} + {mu!r} * {p}) / (dl.doc_len + {mu!r}) + {lam!r} * {p} "
            f"ELSE {1.0 - lam!r} * (0.0 + {mu!r} * {p_def}) / (dl.doc_len + {mu!r}) + {lam!r} * {p_def} END AS e{i}"
        )
    ctes = (
        f"ct AS (SELECT {ctf_cols}), "
        f"ef AS (SELECT pv.doc_id, {', '.join(effs)} "
        f"FROM pv JOIN dl USING (doc_id) CROSS JOIN st CROSS JOIN ct)"
    )
    return ctes, ",".join(f"e{i}" for i in range(len(terms)))


def indri_sql(terms: list[str], op: str, k: int, mu: float, lam: float,
              weights: list[float] | None = None) -> str:
    kk = len(terms)
    eff_ctes, _ = _indri_effs(terms, mu, lam)
    if op == "and":
        prod = " * ".join(f"e{i}" for i in range(kk))
        score = f"pow({prod}, {1.0 / kk!r})"
    elif op == "or":
        prod = " * ".join(f"(1.0 - e{i})" for i in range(kk))
        score = prod
    elif op == "wand":
        total = sum(weights)
        score = " * ".join(f"pow(e{i}, {w / total!r})" for i, w in enumerate(weights))
    elif op == "wsum":
        total = sum(weights)
        score = " + ".join(f"e{i} * {w!r} / {total!r}" for i, w in enumerate(weights))
    else:
        raise ValueError(op)
    inner = f"""
WITH {BASE_CTES}, {_tf_cte(terms)}, {_pivot_tf(terms)}, {eff_ctes}
SELECT doc_id, CAST(round({score}, 6) AS DOUBLE) AS score FROM ef
"""
    return _rank_wrap(inner, k)


def ranked_bool_sql(kind: str, terms: list[str], k: int) -> str:
    tfs = [f"pv.tf{i}" for i in range(len(terms))]
    if kind == "and":
        score = f"least({', '.join(tfs)})"
        where = " AND ".join(f"{t} IS NOT NULL" for t in tfs)
    elif kind == "or":
        score = f"greatest({', '.join(f'COALESCE({t}, 0)' for t in tfs)})"
        where = "TRUE"
    elif kind == "syn":
        score = " + ".join(f"COALESCE({t}, 0)" for t in tfs)
        where = "TRUE"
    else:
        raise ValueError(kind)
    inner = f"""
WITH {BASE_CTES}, {_tf_cte(terms)}, {_pivot_tf(terms)}
SELECT doc_id, CAST(round(CAST({score} AS DOUBLE), 6) AS DOUBLE) AS score
FROM pv WHERE {where}
"""
    return _rank_wrap(inner, k)


def ranked_nested_sql(t_or: list[str], t_and: str, k: int) -> str:
    """#and(#or(a b) c) under RankedBoolean: min(max(tfa, tfb), tfc)."""
    terms = t_or + [t_and]
    inner = f"""
WITH {BASE_CTES}, {_tf_cte(terms)}, {_pivot_tf(terms)}
SELECT doc_id,
       CAST(round(CAST(least(greatest(COALESCE(pv.tf0, 0), COALESCE(pv.tf1, 0)), pv.tf2) AS DOUBLE), 6) AS DOUBLE) AS score
FROM pv
WHERE (pv.tf0 IS NOT NULL OR pv.tf1 IS NOT NULL) AND pv.tf2 IS NOT NULL
"""
    return _rank_wrap(inner, k)


def unranked_and_sql(terms: list[str]) -> str:
    tfs = [f"pv.tf{i} IS NOT NULL" for i in range(len(terms))]
    return f"""
WITH {BASE_CTES}, {_tf_cte(terms)}, {_pivot_tf(terms)}
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score FROM pv
WHERE {' AND '.join(tfs)} ORDER BY doc_id
"""


def near_docs_sql(a: str, b: str, dist: int) -> str:
    return f"""
WITH {BASE_CTES}
SELECT DISTINCT x.doc_id AS doc_id, CAST(1.0 AS DOUBLE) AS score
FROM pos x JOIN pos y USING (doc_id)
WHERE x.t = '{a}' AND y.t = '{b}' AND y.p > x.p AND y.p - x.p <= {dist}
ORDER BY doc_id
"""


def window_docs_sql(a: str, b: str, dist: int) -> str:
    return f"""
WITH {BASE_CTES}
SELECT DISTINCT x.doc_id AS doc_id, CAST(1.0 AS DOUBLE) AS score
FROM pos x JOIN pos y USING (doc_id)
WHERE x.t = '{a}' AND y.t = '{b}'
  AND greatest(x.p, y.p) - least(x.p, y.p) < {dist}
ORDER BY doc_id
"""


def term_postings_sql(term: str) -> str:
    return f"""
WITH tok AS (SELECT doc_id, {TOK} AS toks FROM documents)
SELECT doc_id, CAST(count(*) AS BIGINT) AS tf
FROM (SELECT doc_id, unnest(toks) AS t FROM tok)
WHERE t = '{term}' GROUP BY doc_id ORDER BY doc_id
"""


# -- pipeline oracles -------------------------------------------------------

SHINGLES = (
    "list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] "
    "for i in range(1, len(toks) - 1)])"
)


def token_stats_sql() -> str:
    return f"""
WITH tok AS (SELECT doc_id, {TOK} AS toks FROM documents)
SELECT doc_id,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique,
  CAST(round(CAST(COALESCE(list_sum([CAST(length(t) AS BIGINT) for t in toks]), 0) AS DOUBLE)
       / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS DOUBLE) AS avg_token_len
FROM tok ORDER BY doc_id
"""


def quality_sql() -> str:
    stop = ", ".join(f"'{w}'" for w in textstats.STOPWORDS)
    return f"""
WITH tok AS (SELECT doc_id, {TOK} AS toks FROM documents),
q AS (SELECT doc_id,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  CAST(len([t for t in toks if list_contains([{stop}], t)]) AS DOUBLE)
    / CAST(greatest(len(toks), 1) AS DOUBLE) AS stop_ratio,
  CAST(len(list_distinct(toks)) AS DOUBLE)
    / CAST(greatest(len(toks), 1) AS DOUBLE) AS uniq_ratio,
  CAST(least(len(toks), 200) AS DOUBLE) / 200.0 AS len_score
FROM tok)
SELECT doc_id, n_tokens,
  CAST(round(stop_ratio, 6) AS DOUBLE) AS stop_ratio,
  CAST(round(uniq_ratio, 6) AS DOUBLE) AS uniq_ratio,
  CAST(round(0.4 * (1.0 - stop_ratio) + 0.3 * uniq_ratio + 0.3 * len_score, 6) AS DOUBLE) AS quality
FROM q ORDER BY doc_id
"""


def lang_id_sql() -> str:
    langs = list(textstats.LANG_MARKERS)
    counts = []
    for lg in langs:
        m = ", ".join(f"'{w}'" for w in textstats.LANG_MARKERS[lg])
        counts.append(
            f"CAST(len([t for t in toks if list_contains([{m}], t)]) AS BIGINT) AS n_{lg}"
        )
    best = f"greatest({', '.join('n_' + lg for lg in langs)})"
    case = "CASE " + " ".join(
        f"WHEN n_{lg} = {best} THEN '{lg}'" for lg in langs[:-1]
    ) + f" ELSE '{langs[-1]}' END"
    return f"""
WITH tok AS (SELECT doc_id, {TOK} AS toks FROM documents),
c AS (SELECT doc_id, {', '.join(counts)} FROM tok)
SELECT doc_id, {', '.join('n_' + lg for lg in langs)}, {case} AS pred_lang
FROM c ORDER BY doc_id
"""


def fingerprints_sql() -> str:
    return f"""
WITH tok AS (SELECT doc_id, text, {TOK} AS toks FROM documents)
SELECT doc_id, md5(text) AS text_md5,
       list_min([md5(s) FOR s IN {SHINGLES}]) AS min_shingle_md5
FROM tok ORDER BY doc_id
"""


def bpe_count_sql() -> str:
    return f"""
SELECT doc_id,
  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_ws_tokens,
  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens
FROM documents ORDER BY doc_id
"""


def exact_dedup_sql() -> str:
    return """
SELECT md5(text) AS key_md5, CAST(min(doc_id) AS BIGINT) AS rep_id,
       CAST(count(*) AS BIGINT) AS n_dups
FROM documents GROUP BY md5(text) HAVING count(*) > 1 ORDER BY key_md5
"""


def jaccard_seeds_sql(seed_ids: list[int], threshold: float) -> str:
    seeds = ", ".join(str(s) for s in seed_ids)
    return f"""
WITH tok AS (SELECT doc_id, {TOK} AS toks FROM documents),
sh AS (SELECT doc_id AS id, {SHINGLES} AS s FROM tok WHERE len(toks) >= 3),
sd AS (SELECT id AS seed_id, s AS s_seed FROM sh WHERE id IN ({seeds})),
p AS (SELECT sd.seed_id, sh.id AS doc_id,
        CAST(round(CAST(len(list_intersect(sd.s_seed, sh.s)) AS DOUBLE)
          / CAST(len(sd.s_seed) + len(sh.s) - len(list_intersect(sd.s_seed, sh.s)) AS DOUBLE), 6) AS DOUBLE) AS jaccard
      FROM sh CROSS JOIN sd WHERE sh.id != sd.seed_id)
SELECT seed_id, doc_id, jaccard FROM p WHERE jaccard >= {threshold!r}
ORDER BY seed_id, doc_id
"""


def minhash_lsh_sql(threshold: float, n_hashes: int = 16, n_bands: int = 4) -> str:
    # defaults mirror dedup.DEFAULT_HASHES/DEFAULT_BANDS — change both
    # or neither (the driver hash-compares the two outputs)
    rows = n_hashes // n_bands
    # multiply-permutation family, mirroring dedup.MH_H/_mh_multipliers:
    # one md5 per shingle -> 40-bit h, mh_i = min((a_i * h) mod 2^40)
    from searchengine_spark.pipeline.dedup import MH_MASK, _mh_multipliers

    h = "CAST(CAST('0x' || substr(md5(s), 1, 10) AS UBIGINT) AS BIGINT)"
    mh_cols = ", ".join(
        f"list_min([({a} * {h}) & {MH_MASK} FOR s IN sh.s]) AS mh_{i}"
        for i, a in enumerate(_mh_multipliers(n_hashes))
    )
    band_rows = []
    for b in range(n_bands):
        members = " || '|' || ".join(
            f"mh_{i}" for i in range(b * rows, (b + 1) * rows)
        )
        band_rows.append(f"SELECT id, {b} AS band, md5({members}) AS bkey, s FROM sig")
    bands_sql = " UNION ALL ".join(band_rows)
    return f"""
WITH tok AS (SELECT doc_id, {TOK} AS toks FROM documents),
sh AS (SELECT doc_id AS id, {SHINGLES} AS s FROM tok WHERE len(toks) >= 3),
shh AS (SELECT id,
          [CAST(CAST('0x' || substr(md5(s2), 1, 15) AS UBIGINT) AS BIGINT) FOR s2 IN s] AS hh
        FROM sh),
sig AS (SELECT id, s, {mh_cols} FROM sh),
banded AS ({bands_sql}),
cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
         FROM banded x JOIN banded y ON x.band = y.band AND x.bkey = y.bkey AND x.id < y.id),
v AS (SELECT c.id_a, c.id_b,
        CAST(round(CAST(len(list_intersect(a.hh, b.hh)) AS DOUBLE)
          / CAST(len(a.hh) + len(b.hh) - len(list_intersect(a.hh, b.hh)) AS DOUBLE), 6) AS DOUBLE) AS jaccard
      FROM cand c JOIN shh a ON a.id = c.id_a JOIN shh b ON b.id = c.id_b)
SELECT id_a, id_b, jaccard FROM v WHERE jaccard >= {threshold!r} ORDER BY id_a, id_b
"""


def simhash_values_sql() -> str:
    bit_sums = ", ".join(
        f"CAST(sum(tf * (2 * CAST((h_{half} >> {j}) & 1 AS BIGINT) - 1)) AS BIGINT) AS s_{half}_{j}"
        for half in ("lo", "hi")
        for j in range(32)
    )
    sims = {
        half: " + ".join(
            f"CASE WHEN s_{half}_{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END"
            for j in range(32)
        )
        for half in ("lo", "hi")
    }
    return f"""
WITH tok AS (SELECT doc_id, {TOK} AS toks FROM documents),
tt AS (SELECT doc_id AS id, t AS tok, CAST(count(*) AS BIGINT) AS tf
       FROM (SELECT doc_id, unnest(toks) AS t FROM tok) GROUP BY doc_id, t),
th AS (SELECT id, tf,
       CAST(CAST('0x' || substr(md5('0:' || tok), 1, 8) AS UBIGINT) AS BIGINT) AS h_lo,
       CAST(CAST('0x' || substr(md5('1:' || tok), 1, 8) AS UBIGINT) AS BIGINT) AS h_hi
       FROM tt),
bits AS (SELECT id, {bit_sums} FROM th GROUP BY id)
SELECT id, CAST({sims['hi']} AS BIGINT) AS simhash_hi,
       CAST({sims['lo']} AS BIGINT) AS simhash_lo
FROM bits ORDER BY id
"""


def simhash_pairs_sql(max_hamming: int) -> str:
    values = simhash_values_sql().replace("ORDER BY id", "")
    band_rows = " UNION ALL ".join(
        f"SELECT id, simhash_hi, simhash_lo, {b} AS band, "
        f"(simhash_{'lo' if b < 2 else 'hi'} >> {(b % 2) * 16}) & 65535 AS bkey FROM sv"
        for b in range(4)
    )
    return f"""
WITH sv AS ({values}),
banded AS ({band_rows}),
p AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b,
        CAST(bit_count(xor(CAST(x.simhash_lo AS UBIGINT), CAST(y.simhash_lo AS UBIGINT)))
           + bit_count(xor(CAST(x.simhash_hi AS UBIGINT), CAST(y.simhash_hi AS UBIGINT))) AS INT) AS hamming
      FROM banded x JOIN banded y ON x.band = y.band AND x.bkey = y.bkey AND x.id < y.id)
SELECT id_a, id_b, hamming FROM p WHERE hamming <= {max_hamming} ORDER BY id_a, id_b
"""


def ann_cosine_sql(query_ids: list[int], k: int) -> str:
    qs = ", ".join(str(q) for q in query_ids)
    return f"""
WITH base AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings),
n AS (SELECT vec_id, v,
        sqrt(list_sum([v[i] * v[i] FOR i IN range(1, len(v) + 1)])) AS nrm
      FROM base),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id IN ({qs})),
p AS (SELECT q.query_id, n.vec_id,
        CAST(round(list_sum([q.qv[i] * n.v[i] FOR i IN range(1, len(n.v) + 1)])
          / (q.qn * n.nrm), 6) AS DOUBLE) AS cos
      FROM n CROSS JOIN q WHERE n.vec_id != q.query_id)
SELECT query_id, vec_id, cos, rank FROM (
  SELECT query_id, vec_id, cos,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
  FROM p) __r
WHERE rank <= {k} ORDER BY query_id, rank
"""


# -- 5-field BM25 oracle -----------------------------------------------------


def bm25_multifield_sql(
    pairs: list[tuple[str, str]], k: int, k1: float = 1.2, b: float = 0.75
) -> str:
    """BM25 #SUM over (term, field) leaves where each field tokenizes a
    different source expression (all five reference fields,
    QryParser.java:162-166). One CTE block per field: field-local
    doc_len / sum_len / doc_count / df, global N."""
    blocks, ids = [], []
    for i, (t, expr) in enumerate(pairs):
        blocks.append(f"""
tok{i} AS (SELECT doc_id, regexp_extract_all(lower({expr}), '[a-z0-9]+') AS toks FROM documents),
dl{i} AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS L FROM tok{i}),
st{i} AS (SELECT CAST(sum(L) AS DOUBLE) AS sum_len,
                 CAST(sum(CASE WHEN L > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS doc_count FROM dl{i}),
tf{i} AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, unnest(toks) AS t FROM tok{i}) WHERE t = '{t}' GROUP BY doc_id),
sc{i} AS (SELECT x.doc_id,
            (SELECT greatest(0.0, ln((g.n - d.df + 0.5) / (d.df + 0.5)))
             FROM (SELECT CAST(count(*) AS DOUBLE) AS df FROM tf{i}) d)
            * CAST(x.tf AS DOUBLE)
            / (CAST(x.tf AS DOUBLE) + {k1!r} * ({1.0 - b!r} + {b!r} * CAST(dl{i}.L AS DOUBLE) / (st{i}.sum_len / st{i}.doc_count))) AS s
          FROM tf{i} x JOIN dl{i} ON dl{i}.doc_id = x.doc_id CROSS JOIN st{i} CROSS JOIN g)""")
        ids.append(i)
    union = " UNION ".join(f"SELECT doc_id FROM tf{i}" for i in ids)
    sums = " + ".join(f"COALESCE(sc{i}.s, 0.0)" for i in ids)
    joins = " ".join(f"LEFT JOIN sc{i} ON sc{i}.doc_id = u.doc_id" for i in ids)
    inner = f"""
WITH g AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),{','.join(blocks)},
u AS ({union})
SELECT u.doc_id, CAST(round({sums}, 6) AS DOUBLE) AS score FROM u {joins}
"""
    return _rank_wrap(inner, k)


# -- english-analyzer (stop + krovetz_lite) oracle ---------------------------


def _kstem_dbl(stem: str) -> str:
    return f"length({stem}) >= 3 AND right({stem}, 1) = left(right({stem}, 2), 1)"


def _kstem_wants_e(stem: str) -> str:
    return (
        f"(length({stem}) >= 3 "
        f"AND right({stem}, 1) NOT IN ('a','e','i','o','u','w','x','y') "
        f"AND ((left(right({stem}, 2), 1) IN ('a','e','i','o','u') "
        f"AND left(right({stem}, 3), 1) NOT IN ('a','e','i','o','u')) "
        f"OR right({stem}, 1) IN ('c','g','v','z')))"
    )


def _kstem_case(c: dict, mem: dict) -> str:
    """krovetz_lite (analyzer.py) as a SQL CASE skeleton — same step
    order: direct-conflation exceptions, whole-word lexicon hit, then
    the dictionary-first plural / -ied/-ed / -ing steps ('+e' candidate
    probed before the bare stem, doubling undo checked against the
    lexicon) with the same heuristic fallbacks.

    ``c`` maps candidate tags to SQL string expressions (w = the token,
    s1/s2/s3/s4 = token minus 1..4 trailing chars, s3y/s3e = s3 + 'y'/
    'e'); ``mem`` maps the same tags to SQL booleans meaning "candidate
    is a lexicon member". Both oracle forms — the scalar IN-list CASE
    (_kstem_sql) and the hash-join stem map (kstem_map_ctes) —
    instantiate THIS skeleton from the same analyzer.KSTEM_EXCEPTIONS /
    KSTEM_LEXICON tables, so branch structure and tables have one
    source of truth; byte-equality of both with the Python stemmer is
    pinned by tests/test_kstem_golden.py."""
    from searchengine_spark.analyzer import KSTEM_EXCEPTIONS

    w, s1, s2, s3 = c["w"], c["s1"], c["s2"], c["s3"]
    s3y, s3e, s4 = c["s3y"], c["s3e"], c["s4"]
    mapped_arms = "\n".join(
        f" WHEN {w} = '{k}' THEN '{v}'"
        for k, v in sorted(KSTEM_EXCEPTIONS.items())
    )
    return f"""CASE
{mapped_arms}
 WHEN length({w}) <= 3 OR NOT regexp_matches({w}, '^[a-z]+$') THEN {w}
 WHEN {mem['w']} THEN {w}
 WHEN ends_with({w}, 'ies') AND length({w}) > 4 THEN
   (CASE WHEN {mem['s3y']} THEN {s3y}
         WHEN {mem['s1']} THEN {s1}
         ELSE {s3y} END)
 WHEN ends_with({w}, 'sses') THEN
   (CASE WHEN {mem['s2']} THEN {s2}
         WHEN {mem['s1']} THEN {s1}
         ELSE {s2} END)
 WHEN ends_with({w}, 'ss') OR ends_with({w}, 'ous') THEN {w}
 WHEN ends_with({w}, 'es') AND length({w}) >= 4 THEN
   (CASE WHEN {mem['s1']} THEN {s1}
         WHEN {mem['s2']} THEN {s2}
         WHEN length({w}) > 4 AND (ends_with({s2}, 'x') OR ends_with({s2}, 'ch')
              OR ends_with({s2}, 'sh') OR ends_with({s2}, 'z') OR ends_with({s2}, 's'))
         THEN {s2} ELSE {s1} END)
 WHEN ends_with({w}, 's') THEN left({w}, length({w}) - 1)
 WHEN ends_with({w}, 'ied') AND length({w}) > 4 THEN left({w}, length({w}) - 3) || 'y'
 WHEN ends_with({w}, 'ed') AND length({w}) > 4 THEN
   (CASE WHEN {mem['s1']} THEN {s1}
         WHEN {mem['s2']} THEN {s2}
         WHEN {_kstem_dbl(s2)} AND {mem['s3']} THEN {s3}
         WHEN {_kstem_dbl(s2)} AND right({s2}, 1) NOT IN ('l','s','z','a','e','i','o','u')
           THEN {s3}
         WHEN {_kstem_wants_e(s2)} THEN {s2} || 'e' ELSE {s2} END)
 WHEN ends_with({w}, 'ing') AND length({w}) > 5 THEN
   (CASE WHEN {mem['s3e']} THEN {s3e}
         WHEN {mem['s3']} THEN {s3}
         WHEN {_kstem_dbl(s3)} AND {mem['s4']} THEN {s4}
         WHEN {_kstem_dbl(s3)} AND right({s3}, 1) NOT IN ('l','s','z','a','e','i','o','u')
           THEN {s4}
         WHEN {_kstem_wants_e(s3)} THEN {s3} || 'e' ELSE {s3} END)
 ELSE {w} END"""


def _kstem_sql(w: str) -> str:
    """Scalar krovetz_lite CASE over token expression ``w`` — lexicon
    membership as literal IN-lists. O(lexicon) per probe when the list
    cannot be hash-folded, so this form is for per-word replay (the
    golden test); corpus-scale oracles use kstem_map_ctes."""
    from searchengine_spark.analyzer import KSTEM_LEXICON

    lex_list = ", ".join(f"'{t}'" for t in sorted(KSTEM_LEXICON))
    c = {
        "w": w,
        "s1": f"left({w}, length({w}) - 1)",
        "s2": f"left({w}, length({w}) - 2)",
        "s3": f"left({w}, length({w}) - 3)",
        "s3y": f"left({w}, length({w}) - 3) || 'y'",
        "s3e": f"left({w}, length({w}) - 3) || 'e'",
        "s4": f"left({w}, length({w}) - 4)",
    }
    mem = {k: f"{v} IN ({lex_list})" for k, v in c.items()}
    return _kstem_case(c, mem)


def kstem_map_ctes(vocab: str = "vocab") -> str:
    """CTE chain mapping every word in ``{vocab}(w)`` to its analyzed
    form ``kt`` (stopword -> '', else krovetz_lite stem).

    The lexicon ships ONCE as a table (klex) and every dictionary probe
    is a hash LEFT JOIN on a candidate-form column, so oracle cost is
    O(distinct vocab), independent of lexicon size — the previous
    per-token lambda re-scanned a literal IN-list per probe (measured
    1.3s -> 8.5s on sf0.01 when the lexicon grew 950 -> 5k words).
    Emits CTEs klex, kc, kf, kstems; splice into a WITH chain."""
    from searchengine_spark.analyzer import KSTEM_LEXICON, LUCENE_STOPWORDS

    lex_rows = ", ".join(f"('{t}')" for t in sorted(KSTEM_LEXICON))
    stop = ", ".join(f"'{s}'" for s in sorted(LUCENE_STOPWORDS))
    tags = ("w", "s1", "s2", "s3", "s3y", "s3e", "s4")
    c = {t: t for t in tags}
    mem = {t: f"m_{t}" for t in tags}
    flags = ", ".join(f"l_{t}.t IS NOT NULL AS m_{t}" for t in tags)
    joins = "\n".join(f"  LEFT JOIN klex l_{t} ON l_{t}.t = kc.{t}" for t in tags)
    return f"""klex AS (SELECT t FROM (VALUES {lex_rows}) AS __l(t)),
kc AS (SELECT w,
         left(w, greatest(length(w) - 1, 0)) AS s1,
         left(w, greatest(length(w) - 2, 0)) AS s2,
         left(w, greatest(length(w) - 3, 0)) AS s3,
         left(w, greatest(length(w) - 3, 0)) || 'y' AS s3y,
         left(w, greatest(length(w) - 3, 0)) || 'e' AS s3e,
         left(w, greatest(length(w) - 4, 0)) AS s4
       FROM {vocab}),
kf AS (SELECT kc.*, {flags}
       FROM kc
{joins}),
kstems AS (SELECT w, CASE WHEN w IN ({stop}) THEN '' ELSE {_kstem_case(c, mem)} END AS kt
           FROM kf)"""


def bm25_english_sql(stemmed_terms: list[str], k: int,
                     k1: float = 1.2, b: float = 0.75) -> str:
    """BM25 #SUM over an ``english``-analyzed index: Lucene stopwords
    become '' (position slots preserved -> field length INCLUDES
    stopword slots, Idx.java:97 / TermVector stem-0 convention), other
    tokens stem via the kstem_map_ctes hash-join map (field length uses
    the RAW token count — the '' slots keep it unchanged).
    ``stemmed_terms`` are the already-stemmed query terms."""
    scs = []
    for i, t in enumerate(stemmed_terms):
        scs.append(
            f"(SELECT greatest(0.0, ln((st.n_docs - d.df + 0.5) / (d.df + 0.5))) "
            f"* pv.tf{i} / (pv.tf{i} + {k1!r} * ({1.0 - b!r} + {b!r} * dl.doc_len / (st.sum_len / st.doc_count))) "
            f"FROM (SELECT CAST(count(*) AS DOUBLE) AS df FROM tf WHERE term = '{t}') d) AS s{i}"
        )
    sums = " + ".join(f"COALESCE(s{i}, 0.0)" for i in range(len(stemmed_terms)))
    lst = ", ".join(f"'{t}'" for t in stemmed_terms)
    inner = f"""
WITH raw AS (SELECT doc_id, {TOK} AS toks FROM documents),
dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS doc_len FROM raw),
tokrows AS (SELECT doc_id, unnest(toks) AS w FROM raw),
vocab AS (SELECT DISTINCT w FROM tokrows),
{kstem_map_ctes("vocab")},
st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
              CAST(sum(doc_len) AS DOUBLE) AS sum_len,
              CAST(sum(CASE WHEN doc_len > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS doc_count
       FROM dl),
tf AS (SELECT doc_id, kt AS term, CAST(count(*) AS BIGINT) AS tf
       FROM tokrows JOIN kstems USING (w)
       WHERE kt IN ({lst}) GROUP BY doc_id, kt),
{_pivot_tf(stemmed_terms)},
sc AS (SELECT pv.doc_id, {', '.join(scs)}
       FROM pv JOIN dl USING (doc_id) CROSS JOIN st)
SELECT doc_id, CAST(round({sums}, 6) AS DOUBLE) AS score FROM sc
"""
    return _rank_wrap(inner, k)


# -- PRF end-to-end oracle ---------------------------------------------------


def prf_end_to_end_sql(
    anchors: list[str], k: int, fb_docs: int = 10, fb_terms: int = 5,
    fb_mu: float = 500.0, w_orig: float = 0.5,
    mu: float = 1500.0, lam: float = 0.3,
) -> str:
    """Full Entry-point-2 loop (QryExpand.java:68-147): Indri initial
    ranking -> candidate-term scores -> top fb_terms with %.4f weights ->
    rewritten ``#wand(w #and(orig) 1-w #wand(w1 t1 ...))`` -> final
    Indri ranking. The expansion terms/weights are data-dependent, so the
    oracle computes them in-SQL and scores the rewritten query over a
    doc x expansion-term grid with Indri default-score semantics."""
    init_sql = indri_sql(anchors, "and", fb_docs, mu, lam)
    anc = ", ".join(f"'{t}'" for t in anchors)
    omw = 1.0 - lam

    def eff(tf_expr: str, ctf: str, present_guard: str) -> str:
        # present: tf real; absent: tf=0 with ctf<1 -> 0.5 (getDefaultScore)
        p = f"({ctf} / st.sum_len)"
        p_def = f"((CASE WHEN {ctf} < 1.0 THEN 0.5 ELSE {ctf} END) / st.sum_len)"
        dld = "CAST(dl.doc_len AS DOUBLE)"
        return (
            f"CASE WHEN {present_guard} THEN "
            f"{omw!r} * (CAST({tf_expr} AS DOUBLE) + {mu!r} * {p}) / ({dld} + {mu!r}) + {lam!r} * {p} "
            f"ELSE {omw!r} * (0.0 + {mu!r} * {p_def}) / ({dld} + {mu!r}) + {lam!r} * {p_def} END"
        )

    e_anchor = [
        eff(f"COALESCE(apv.tf{i}, 0)", f"ac.ctf{i}", f"apv.tf{i} IS NOT NULL")
        for i in range(len(anchors))
    ]
    and_prod = " * ".join(f"({e})" for e in e_anchor)
    ac_cols = ", ".join(
        f"(SELECT CAST(COALESCE(sum(CASE WHEN t = '{t}' THEN 1 END), 0) AS DOUBLE) FROM allt) AS ctf{i}"
        for i, t in enumerate(anchors)
    )
    apv_cols = ", ".join(
        f"max(CASE WHEN term = '{t}' THEN tf END) AS tf{i}" for i, t in enumerate(anchors)
    )
    gp_cols = ", ".join(
        f"max(CASE WHEN rnk = {j} THEN e END) AS e{j}, "
        f"max(CASE WHEN rnk = {j} THEN w END) AS w{j}"
        for j in range(1, fb_terms + 1)
    )
    total = " + ".join(f"gp.w{j}" for j in range(1, fb_terms + 1))
    exp_prod = " * ".join(
        f"pow(gp.e{j}, gp.w{j} / ({total}))" for j in range(1, fb_terms + 1)
    )
    inner = f"""
WITH {BASE_CTES},
init AS (SELECT doc_id, score FROM ({init_sql}) __i),
allt AS (SELECT doc_id, unnest(toks) AS t FROM tok),
ctall AS (SELECT t AS term, CAST(count(*) AS DOUBLE) AS ctf FROM allt GROUP BY t),
s0 AS (SELECT sum(i.score / (d.doc_len + {fb_mu!r})) AS v
       FROM init i JOIN dl d USING (doc_id)),
toptf AS (SELECT a.doc_id, a.t, CAST(count(*) AS DOUBLE) AS tf
          FROM allt a JOIN init USING (doc_id) GROUP BY a.doc_id, a.t),
pres AS (SELECT tt.t, sum(tt.tf / (d.doc_len + {fb_mu!r}) * i.score) AS present
         FROM toptf tt JOIN dl d USING (doc_id) JOIN init i USING (doc_id)
         GROUP BY tt.t),
fb AS (SELECT p.t AS term,
         ln(st.sum_len / ct.ctf) * (p.present + {fb_mu!r} * ct.ctf / st.sum_len * s0.v) AS fbs
       FROM pres p JOIN ctall ct ON ct.term = p.t CROSS JOIN st CROSS JOIN s0),
fbtop AS (SELECT term, CAST(round(fbs, 4) AS DOUBLE) AS w,
                 CAST(row_number() OVER (ORDER BY fbs DESC, term) AS INT) AS rnk
          FROM fb QUALIFY rnk <= {fb_terms}),
tfq AS (SELECT a.doc_id, a.t AS term, CAST(count(*) AS BIGINT) AS tf
        FROM allt a
        WHERE a.t IN ({anc}) OR a.t IN (SELECT term FROM fbtop)
        GROUP BY a.doc_id, a.t),
matchdocs AS (SELECT DISTINCT doc_id FROM tfq),
ac AS (SELECT {ac_cols}),
apv AS (SELECT doc_id, {apv_cols} FROM tfq WHERE term IN ({anc}) GROUP BY doc_id),
eand AS (SELECT m.doc_id, pow({and_prod}, {1.0 / len(anchors)!r}) AS e_and
         FROM matchdocs m
         JOIN dl ON dl.doc_id = m.doc_id
         LEFT JOIN apv ON apv.doc_id = m.doc_id
         CROSS JOIN st CROSS JOIN ac),
grid AS (SELECT m.doc_id, f.term, f.w, f.rnk FROM matchdocs m CROSS JOIN fbtop f),
geff AS (SELECT g.doc_id, g.rnk, g.w,
           {eff("t.tf", "c.ctf", "t.tf IS NOT NULL")} AS e
         FROM grid g
         JOIN dl ON dl.doc_id = g.doc_id
         LEFT JOIN tfq t ON t.doc_id = g.doc_id AND t.term = g.term
         JOIN ctall c ON c.term = g.term
         CROSS JOIN st),
gp AS (SELECT doc_id, {gp_cols} FROM geff GROUP BY doc_id)
SELECT e.doc_id,
       CAST(round(pow(e.e_and, {w_orig!r} / 1.0) * pow({exp_prod}, {1.0 - w_orig!r} / 1.0), 6) AS DOUBLE) AS score
FROM eand e JOIN gp ON gp.doc_id = e.doc_id
"""
    return _rank_wrap(inner, k)


# -- LeToR 18-feature oracle -------------------------------------------------


def letor_features_sql(
    terms: list[str], k: int = 20, qid: str = "q1",
    k1: float = 1.2, b: float = 0.75, mu: float = 2500.0, lam: float = 0.4,
) -> str:
    """Plain-SQL twin of operators.letor.featurize for a single-field
    ('body') gate index: f2/f3 from the ext id, f5/f6/f7 BM25/Indri/
    overlap over body, f18 position-stddev (+0.1 smoothing,
    RetrievalModelLeToR.posStd); every other feature is NULL (absent
    field/attribute — the Double.MIN_VALUE sentinel path)."""
    cand_sql = bm25_sum_sql(terms, k)
    nt = len(terms)
    kinv = 1.0 / nt
    tl = ", ".join(f"'{t}'" for t in terms)

    ss_cols = ", ".join(
        f"(SELECT CAST(count(*) AS DOUBLE) FROM tf WHERE term = '{t}') AS df{i}, "
        f"(SELECT CAST(COALESCE(sum(tf), 0) AS DOUBLE) FROM tf WHERE term = '{t}') AS ctf{i}"
        for i, t in enumerate(terms)
    )

    f5_terms, e_terms, ov_terms, found = [], [], [], []
    for i in range(nt):
        idf = f"greatest(0.0, ln((st.n_docs - ss.df{i} + 0.5) / (ss.df{i} + 0.5)))"
        tfd = f"CAST(pv.tf{i} AS DOUBLE)"
        f5_terms.append(
            f"CASE WHEN pv.tf{i} IS NOT NULL THEN {idf} * {tfd} "
            f"/ ({tfd} + {k1!r} * ({1.0 - b!r} + {b!r} * CAST(dl.doc_len AS DOUBLE) / (st.sum_len / st.doc_count))) "
            f"ELSE 0.0 END"
        )
        p_i = f"(CASE WHEN ss.ctf{i} >= 1.0 THEN ss.ctf{i} ELSE 0.5 END / st.sum_len)"
        e_terms.append(
            f"pow({1.0 - lam!r} * (COALESCE({tfd}, 0.0) + {mu!r} * {p_i}) "
            f"/ (CAST(dl.doc_len AS DOUBLE) + {mu!r}) + {lam!r} * {p_i}, {kinv!r})"
        )
        ov_terms.append(f"(CASE WHEN pv.tf{i} IS NOT NULL THEN 1 ELSE 0 END)")
        found.append(f"pv.tf{i} IS NOT NULL")
    f5 = "0.0 + " + " + ".join(f5_terms)
    f6 = (
        f"CASE WHEN {' OR '.join(found)} THEN 1.0 * "
        + " * ".join(e_terms)
        + " ELSE 0.0 END"
    )
    f7 = f"CAST({' + '.join(ov_terms)} AS DOUBLE) / {float(nt)!r}"
    ext = "CAST(f.doc_id AS VARCHAR)"
    null = "CAST(-1.0 AS DOUBLE)"  # absent-feature sentinel (matches gate fn)
    nulls_mid = ", ".join(f"{null} AS f{i}" for i in range(8, 17))
    return f"""
WITH {BASE_CTES}, {_tf_cte(terms)}, {_pivot_tf(terms)},
cand AS (SELECT doc_id FROM ({cand_sql}) __c),
ss AS (SELECT {ss_cols}),
p18m AS (SELECT pos.doc_id, CAST(count(*) AS DOUBLE) + 0.1 AS n18,
                CAST(sum(p) AS DOUBLE) AS sp
         FROM pos JOIN cand USING (doc_id) WHERE t IN ({tl}) GROUP BY pos.doc_id),
p18 AS (SELECT pos.doc_id,
          sqrt(sum((CAST(p AS DOUBLE) - m.sp / m.n18) * (CAST(p AS DOUBLE) - m.sp / m.n18)) / m.n18) AS f18
        FROM pos JOIN cand USING (doc_id) JOIN p18m m ON m.doc_id = pos.doc_id
        WHERE t IN ({tl}) GROUP BY pos.doc_id, m.sp, m.n18),
f AS (SELECT c.doc_id,
        CASE WHEN dl.doc_len > 0 THEN {f5} ELSE NULL END AS f5,
        CASE WHEN dl.doc_len > 0 THEN {f6} ELSE NULL END AS f6,
        CASE WHEN dl.doc_len > 0 THEN {f7} ELSE NULL END AS f7
      FROM cand c JOIN dl ON dl.doc_id = c.doc_id
      LEFT JOIN pv ON pv.doc_id = c.doc_id
      CROSS JOIN st CROSS JOIN ss)
SELECT '{qid}' AS qid, f.doc_id,
  {null} AS f1,
  CAST(length({ext}) - length(replace({ext}, '/', '')) AS DOUBLE) AS f2,
  CASE WHEN contains({ext}, 'wikipedia.org') THEN 1.0 ELSE 0.0 END AS f3,
  {null} AS f4,
  CAST(COALESCE(round(f.f5, 6), -1.0) AS DOUBLE) AS f5,
  CAST(COALESCE(round(f.f6, 6), -1.0) AS DOUBLE) AS f6,
  CAST(COALESCE(round(f.f7, 6), -1.0) AS DOUBLE) AS f7,
  {nulls_mid},
  {null} AS f17,
  CAST(COALESCE(round(p18.f18, 6), -1.0) AS DOUBLE) AS f18
FROM f LEFT JOIN p18 ON p18.doc_id = f.doc_id
ORDER BY f.doc_id
"""


# -- diversity (xQuAD / PM2) oracles ----------------------------------------


def _diversity_cand_ctes(
    main_terms: list[str], intent_terms: list[str],
    max_input: int, k1: float = 1.2, b: float = 0.75,
) -> str:
    """CTE block ending in ``cand(doc_id, opos, mn, cov1, cov2)`` — the
    normalized candidate table of QryDiversity.getDocidToScore: orthodox
    docs = top max_input of the main BM25 ranking (round-6 scores,
    doc_id tie-break), per-intent scores restricted to the candidates,
    everything divided by the scale base (max of the per-ranking
    left-to-right top sums, floored at 1.0)."""
    dn = f"(st.sum_len / st.doc_count)"
    bm_denom = f"{k1!r} * ({1.0 - b!r} + {b!r} * CAST(dl.doc_len AS DOUBLE) / {dn})"

    # main: multi-term #SUM (missing-term contributions are +0.0)
    main_scores = []
    for i, t in enumerate(main_terms):
        idf = (
            f"(SELECT greatest(0.0, ln((st.n_docs - d.df + 0.5) / (d.df + 0.5))) "
            f"FROM (SELECT CAST(count(*) AS DOUBLE) AS df FROM tf WHERE term = '{t}') d)"
        )
        tfd = f"CAST(pv.tf{i} AS DOUBLE)"
        main_scores.append(
            f"COALESCE({idf} * {tfd} / ({tfd} + {bm_denom}), 0.0)"
        )
    sm = (
        f"sm AS (SELECT pv.doc_id, CAST(round({' + '.join(main_scores)}, 6) AS DOUBLE) AS score "
        f"FROM pv JOIN dl USING (doc_id) CROSS JOIN st)"
    )

    intent_ctes = []
    for j, t in enumerate(intent_terms, start=1):
        intent_ctes.append(
            f"tfi{j} AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS tf "
            f"FROM (SELECT doc_id, unnest(toks) AS t FROM tok) WHERE t = '{t}' GROUP BY doc_id), "
            f"si{j} AS (SELECT x.doc_id, CAST(round("
            f"(SELECT greatest(0.0, ln((st.n_docs - d.df + 0.5) / (d.df + 0.5))) "
            f"FROM (SELECT CAST(count(*) AS DOUBLE) AS df FROM tfi{j}) d) "
            f"* CAST(x.tf AS DOUBLE) / (CAST(x.tf AS DOUBLE) + {bm_denom}), 6) AS DOUBLE) AS score "
            f"FROM tfi{j} x JOIN dl ON dl.doc_id = x.doc_id CROSS JOIN st)"
        )

    fold = "(x, y) -> x + y"
    return f"""{sm},
{', '.join(intent_ctes)},
orth AS (SELECT doc_id, score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS opos
         FROM sm QUALIFY opos <= {max_input}),
i1top AS (SELECT doc_id, score FROM si1 ORDER BY score DESC, doc_id LIMIT {max_input}),
i2top AS (SELECT doc_id, score FROM si2 ORDER BY score DESC, doc_id LIMIT {max_input}),
base AS (SELECT greatest(
  (SELECT COALESCE(list_reduce(list(score ORDER BY score DESC, doc_id), {fold}), 0.0) FROM orth),
  (SELECT COALESCE(list_reduce(list(i.score ORDER BY i.score DESC, i.doc_id), {fold}), 0.0)
     FROM i1top i JOIN orth USING (doc_id)),
  (SELECT COALESCE(list_reduce(list(i.score ORDER BY i.score DESC, i.doc_id), {fold}), 0.0)
     FROM i2top i JOIN orth USING (doc_id)),
  1.0) AS b),
cand AS (SELECT o.doc_id, o.opos, o.score / base.b AS mn,
           COALESCE(i1.score / base.b, 0.0) AS cov1,
           COALESCE(i2.score / base.b, 0.0) AS cov2
         FROM orth o
         LEFT JOIN i1top i1 ON i1.doc_id = o.doc_id
         LEFT JOIN i2top i2 ON i2.doc_id = o.doc_id
         CROSS JOIN base)"""


def xquad_sql(
    main_terms: list[str], intent_terms: list[str], qid: str = "q1",
    lam: float = 0.5, max_input: int = 50, max_result: int = 20,
) -> str:
    """Greedy xQuAD (QryDiversity.java:159-187) as a recursive CTE: one
    row selected per step (strictly-greater argmax -> earliest orthodox
    position wins ties), per-intent 'already covered' products carried
    as recursion state."""
    w_main = 1.0 - lam
    w_int = lam / len(intent_terms)
    sc = (
        f"({w_main!r} * c.mn + (({w_int!r} * c.cov1) * s.a1)) "
        f"+ (({w_int!r} * c.cov2) * s.a2)"
    )
    return f"""
WITH RECURSIVE {BASE_CTES}, {_tf_cte(main_terms)}, {_pivot_tf(main_terms)},
{_diversity_cand_ctes(main_terms, intent_terms, max_input)},
sel AS (
  SELECT 0 AS step, CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS DOUBLE) AS score,
         CAST(1.0 AS DOUBLE) AS a1, CAST(1.0 AS DOUBLE) AS a2,
         CAST([] AS BIGINT[]) AS chosen
  UNION ALL
  SELECT s.step + 1, c.doc_id, {sc},
         s.a1 * (1.0 - c.cov1), s.a2 * (1.0 - c.cov2),
         list_append(s.chosen, c.doc_id)
  FROM sel s JOIN cand c ON NOT list_contains(s.chosen, c.doc_id)
  WHERE s.step < {max_result}
  QUALIFY row_number() OVER (PARTITION BY s.step ORDER BY {sc} DESC, c.opos) = 1
)
SELECT '{qid}' AS qid, doc_id, CAST(round(score, 6) AS DOUBLE) AS score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
FROM sel WHERE step > 0 ORDER BY rank
"""


def pm2_sql(
    main_terms: list[str], intent_terms: list[str], qid: str = "q1",
    lam: float = 0.5, max_input: int = 50, max_result: int = 20,
) -> str:
    """Greedy PM2 (QryDiversity.java:189-249) as a recursive CTE: the
    per-intent quotient slots s_i are recursion state; ties in the
    quotient argmax go to the first intent (sorted order), doc ties to
    the earliest orthodox position."""
    v = max_result / len(intent_terms)
    q1 = f"({v!r} / (2.0 * s.s1 + 1.0))"
    q2 = f"({v!r} / (2.0 * s.s2 + 1.0))"
    w, wn = lam, 1.0 - lam
    sc = (
        f"CASE WHEN {q1} >= {q2} "
        f"THEN (({w!r} * {q1}) * c.cov1) + (({wn!r} * {q2}) * c.cov2) "
        f"ELSE (({w!r} * {q2}) * c.cov2) + (({wn!r} * {q1}) * c.cov1) END"
    )
    cs = "(c.cov1 + c.cov2)"
    return f"""
WITH RECURSIVE {BASE_CTES}, {_tf_cte(main_terms)}, {_pivot_tf(main_terms)},
{_diversity_cand_ctes(main_terms, intent_terms, max_input)},
sel AS (
  SELECT 0 AS step, CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS DOUBLE) AS score,
         CAST(0.0 AS DOUBLE) AS s1, CAST(0.0 AS DOUBLE) AS s2,
         CAST([] AS BIGINT[]) AS chosen
  UNION ALL
  SELECT s.step + 1, c.doc_id, {sc},
         CASE WHEN {sc} != 0.0 THEN s.s1 + c.cov1 / {cs} ELSE s.s1 END,
         CASE WHEN {sc} != 0.0 THEN s.s2 + c.cov2 / {cs} ELSE s.s2 END,
         list_append(s.chosen, c.doc_id)
  FROM sel s JOIN cand c ON NOT list_contains(s.chosen, c.doc_id)
  WHERE s.step < {max_result}
  QUALIFY row_number() OVER (PARTITION BY s.step ORDER BY {sc} DESC, c.opos) = 1
)
SELECT '{qid}' AS qid, doc_id, CAST(round(score, 6) AS DOUBLE) AS score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
FROM sel WHERE step > 0 ORDER BY rank
"""


# -- embedding oracles: IVF top-k, hyperplane-LSH near-dup -------------------


def _lsh_bucket_ctes(n_tables: int, bits: int, dim: int, seed: int) -> str:
    """CTEs base/n/bb/stk replicating similarity's hyperplane bucketing;
    plane literals come from the SAME seeded numpy generator the Spark
    operator uses, so bucket keys agree value-for-value."""
    from searchengine_spark.pipeline.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_tables, bits, seed)
    bcols = []
    for t in range(n_tables):
        bit_exprs = []
        for b_ in range(bits):
            arr = "[" + ", ".join(repr(float(x)) for x in planes[t, b_]) + "]"
            bit_exprs.append(
                f"CASE WHEN list_dot_product(v, {arr}) >= 0 THEN '1' ELSE '0' END"
            )
        bcols.append("concat(" + ", ".join(bit_exprs) + f") AS bk{t}")
    stk = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, bk{t} AS bucket FROM bb" for t in range(n_tables)
    )
    return f"""base AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_sum([v[i] * v[i] FOR i IN range(1, len(v) + 1)])) AS nrm FROM base),
bb AS (SELECT vec_id, {', '.join(bcols)} FROM n),
stk AS ({stk})"""


def ann_ivf_sql(
    query_ids: list[int], k: int, n_cells: int = 16, n_probe: int = 4
) -> str:
    """SQL twin of IVF-flat top-k (similarity.ivf_topk).

    The centroids are data-derived but deterministic (md5-ordered
    medoids), so the oracle re-derives them FROM THE TABLE instead of
    replaying literals: cell id = row_number()-1 in md5(vec_id) order.
    Assignment/probing both rank round(cos,6) with lowest-cell
    tie-break, mirroring the Spark side's
    array_position(scores, array_max(scores)) first-max semantics."""
    qs = ", ".join(str(q) for q in query_ids)
    return f"""
WITH base AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings),
n AS (SELECT vec_id, v,
        sqrt(list_sum([v[i] * v[i] FOR i IN range(1, len(v) + 1)])) AS nrm
      FROM base),
cent AS (SELECT cid, cv, cn FROM (
    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
           v AS cv, nrm AS cn FROM n) __c WHERE cid < {n_cells}),
sc AS (SELECT n.vec_id, c.cid,
         CAST(round(list_sum([n.v[i] * c.cv[i] FOR i IN range(1, len(n.v) + 1)])
           / (n.nrm * c.cn), 6) AS DOUBLE) AS s
       FROM n CROSS JOIN cent c),
assign AS (SELECT vec_id, cid FROM (
    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
    FROM sc) __a WHERE rn = 1),
probes AS (SELECT query_id, cid FROM (
    SELECT vec_id AS query_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
    FROM sc WHERE vec_id IN ({qs})) __p WHERE rn <= {n_probe}),
qv AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id IN ({qs})),
cand AS (SELECT DISTINCT a.vec_id, p.query_id
         FROM assign a JOIN probes p ON a.cid = p.cid
         WHERE a.vec_id != p.query_id),
p AS (SELECT c.query_id, c.vec_id,
        CAST(round(list_sum([q.qv[i] * n.v[i] FOR i IN range(1, len(n.v) + 1)])
          / (q.qn * n.nrm), 6) AS DOUBLE) AS cos
      FROM cand c JOIN n ON n.vec_id = c.vec_id JOIN qv q ON q.query_id = c.query_id)
SELECT query_id, vec_id, cos, rank FROM (
  SELECT query_id, vec_id, cos,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
  FROM p) __r
WHERE rank <= {k} ORDER BY query_id, rank
"""


def emb_near_dup_sql(
    threshold: float,
    n_tables: int = 16, bits: int = 4, dim: int = 64, seed: int = 13,
) -> str:
    return f"""
WITH {_lsh_bucket_ctes(n_tables, bits, dim, seed)},
cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         FROM stk x JOIN stk y ON x.tbl = y.tbl AND x.bucket = y.bucket
         WHERE x.vec_id < y.vec_id),
p AS (SELECT c.id_a, c.id_b,
        CAST(round(list_sum([a.v[i] * b.v[i] FOR i IN range(1, len(b.v) + 1)])
          / (a.nrm * b.nrm), 6) AS DOUBLE) AS cos
      FROM cand c JOIN n a ON a.vec_id = c.id_a JOIN n b ON b.vec_id = c.id_b)
SELECT id_a, id_b, cos FROM p WHERE cos >= {threshold!r} ORDER BY id_a, id_b
"""


# -- DRMM oracle --------------------------------------------------------------


def drmm_sql(terms: list[str], cand_k: int = 20, k: int = 10,
             n_bins: int = 10, dim: int = 64, seed: int = 5) -> str:
    """SQL twin of the DRMM rerank gate: hash-uniform term vectors
    (md5-derived, same construction as operators.drmm.term_vector),
    cosine histograms with getBin semantics + float32 log1p rounding,
    the seeded MLP's tanh forward pass with inlined literal weights, and
    idf-softmax term gating (RetrievalModelDRMM.java:139-155, 587-614;
    MLP.java:28-99)."""
    from searchengine_spark.operators.drmm import MLP

    mlp = MLP(sizes=(n_bins, 5, 1), seed=seed)
    w0, b0 = mlp.w[0], mlp.b[0]          # (10, 5), (5,)
    w1, b1 = mlp.w[1], mlp.b[1]          # (5, 1), (1,)
    cand_sql = bm25_sum_sql(terms, cand_k)

    vec = (
        "[2.0 * (CAST(CAST('0x' || substr(md5(term || ':' || CAST(i AS VARCHAR)), 1, 8) AS UBIGINT) AS DOUBLE)"
        " / 4294967296.0) - 1.0 FOR i IN range(0, %d)]" % dim
    )
    qterms = " UNION ALL ".join(
        f"SELECT {i} AS qi, '{t}' AS term" for i, t in enumerate(terms)
    )
    nt = len(terms)

    hidden = []
    for j in range(5):
        acc = " + ".join(f"h{i} * {float(w0[i, j])!r}" for i in range(n_bins))
        # this DuckDB build has no tanh(); 1 - 2/(e^{2x}+1) is overflow-safe
        # (saturates to ±1) and agrees with numpy tanh to ~ulp — the
        # round-6 exposed score absorbs the difference
        hidden.append(f"(1.0 - 2.0 / (exp(2.0 * (({acc}) + {float(b0[j])!r})) + 1.0))")
    out_expr = (
        "("
        + " + ".join(f"({h}) * {float(w1[j, 0])!r}" for j, h in enumerate(hidden))
        + f") + {float(b1[0])!r}"
    )
    hcols = ", ".join(
        f"COALESCE(max(CASE WHEN bin = {b_} THEN h END), 0.0) AS h{b_}"
        for b_ in range(n_bins)
    )
    idf_cols = ", ".join(
        f"ln((st.n_docs - (SELECT CAST(count(*) AS DOUBLE) FROM tf WHERE term = '{t}') + 0.5) "
        f"/ ((SELECT CAST(count(*) AS DOUBLE) FROM tf WHERE term = '{t}') + 0.5)) AS i{i}"
        for i, t in enumerate(terms)
    )
    imax = f"greatest({', '.join(f'i{i}' for i in range(nt))})"
    e_cols = ", ".join(f"exp(i{i} - {imax}) AS e{i}" for i in range(nt))
    esum = " + ".join(f"e{i}" for i in range(nt))
    gate_score = " + ".join(
        f"(f{i}.o * (wq.e{i} / ({esum.replace('e', 'wq.e')})))" for i in range(nt)
    )
    fwd_joins = " ".join(
        f"JOIN fwd f{i} ON f{i}.doc_id = c.doc_id AND f{i}.qi = {i}" for i in range(nt)
    )
    return f"""
WITH {BASE_CTES}, {_tf_cte(terms)},
cand AS (SELECT doc_id FROM ({cand_sql}) __c),
dterm AS (SELECT a.doc_id, a.t AS term, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, unnest(toks) AS t FROM tok) a
          JOIN cand USING (doc_id) GROUP BY a.doc_id, a.t),
vocab AS (SELECT DISTINCT term FROM dterm UNION SELECT term FROM ({qterms}) __q),
rawv AS (SELECT term, {vec} AS rv FROM vocab),
nv AS (SELECT term,
         list_transform(rv, x -> x / sqrt(list_sum(list_transform(rv, y -> y * y)))) AS v
       FROM rawv),
qv AS (SELECT q.qi, nv.v FROM ({qterms}) q JOIN nv ON nv.term = q.term),
sims AS (SELECT d.doc_id, q.qi, d.tf,
           list_sum([q.v[i] * tn.v[i] FOR i IN range(1, len(tn.v) + 1)]) AS sim
         FROM dterm d JOIN nv tn ON tn.term = d.term CROSS JOIN qv q),
binned AS (SELECT doc_id, qi,
             CASE WHEN sim >= 0.99999 THEN {n_bins - 1}
                  ELSE least({n_bins - 1}, CAST(trunc((sim + 1.0) / 2.0 * {n_bins}) AS INT)) END AS bin,
             tf
           FROM sims),
hb AS (SELECT doc_id, qi, bin, CAST(sum(tf) AS DOUBLE) AS cnt FROM binned GROUP BY doc_id, qi, bin),
hv AS (SELECT doc_id, qi, bin, CAST(CAST(ln(1.0 + cnt) AS REAL) AS DOUBLE) AS h FROM hb),
hp AS (SELECT doc_id, qi, {hcols} FROM hv GROUP BY doc_id, qi),
fwd AS (SELECT doc_id, qi, {out_expr} AS o FROM hp),
idf AS (SELECT {idf_cols} FROM st),
wq AS (SELECT {e_cols} FROM idf),
scored AS (SELECT c.doc_id, CAST(round({gate_score}, 6) AS DOUBLE) AS score
           FROM cand c {fwd_joins} CROSS JOIN wq)
SELECT doc_id, score, rank FROM (
  SELECT doc_id, score, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
  FROM scored) __r
WHERE rank <= {k} ORDER BY rank
"""


# ---------------------------------------------------------------------------
# the registry: name -> (spark_fn, oracle_sql or None)
# ---------------------------------------------------------------------------

INDRI_P = {"mu": 1500.0, "lam": 0.3}


def _sq(query: str, model, k: int):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        eng = engine_for(spark, sf_dir)
        return _ranked(eng.scores(query, model=model), k)

    return fn


def _sq_docset(query: str, model):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        eng = engine_for(spark, sf_dir)
        return _docset(eng.scores(query, model=model))

    return fn


# -- IR evaluation metrics oracle --------------------------------------------
# Deterministic run+qrels derived from the documents table with
# md5-portable hashes (same construction replayed below in DuckDB),
# then the full trec_eval metric math: windows for cum-rel / ideal
# ranks, order-fixed list_reduce folds mirroring eval._FOLD, ln-composite
# log2, round(6). Reference behavior: the HW test.py trec_eval flow
# (Homeworks/HW2/test.py:24-63) that the engine-side eval module replaces.

IR_QIDS = ("q1", "q2", "q3")
IR_DEPTH = 40
IR_K = 10


def ir_metrics_sql(depth: int = IR_DEPTH, k: int = IR_K) -> str:
    qids = ", ".join(f"'{q}'" for q in IR_QIDS)
    fold = "(acc, x) -> acc + x"
    ln_gain = "({rel} * ln(2.0)) / ln({pos} + 1.0)"
    return f"""
WITH qs AS (SELECT unnest([{qids}]) AS qid),
scored AS (
  SELECT qs.qid, CAST(d.doc_id AS VARCHAR) AS ext_id,
         CAST(CAST('0x' || substr(md5(qs.qid || '#' || CAST(d.doc_id AS VARCHAR)), 1, 15) AS UBIGINT) AS BIGINT) AS h,
         CAST(CAST('0x' || substr(md5('r#' || qs.qid || '#' || CAST(d.doc_id AS VARCHAR)), 1, 2) AS UBIGINT) AS BIGINT) AS rh
  FROM documents d CROSS JOIN qs),
qrels AS (SELECT qid, ext_id,
                 CASE WHEN rh % 16 = 0 THEN 2 WHEN rh % 5 = 0 THEN 1 ELSE 0 END AS rel
          FROM scored),
run AS (SELECT qid, ext_id, rank FROM (
          SELECT qid, ext_id,
                 CAST(row_number() OVER (PARTITION BY qid ORDER BY h DESC, ext_id) AS INT) AS rank
          FROM scored) __w WHERE rank <= {depth}),
j AS (SELECT r.qid, r.ext_id, r.rank, COALESCE(q.rel, 0) AS rel,
             CASE WHEN COALESCE(q.rel, 0) > 0 THEN 1 ELSE 0 END AS isrel
      FROM run r LEFT JOIN qrels q ON r.qid = q.qid AND r.ext_id = q.ext_id),
jw AS (SELECT *, SUM(isrel) OVER (PARTITION BY qid ORDER BY rank) AS cum FROM j),
jc AS (SELECT *,
         CASE WHEN isrel = 1 THEN CAST(cum AS DOUBLE) / CAST(rank AS DOUBLE) ELSE 0.0 END AS apc,
         CASE WHEN rank <= {k} THEN {ln_gain.format(rel='CAST(rel AS DOUBLE)', pos='CAST(rank AS DOUBLE)')} ELSE 0.0 END AS gain
       FROM jw),
ret AS (SELECT qid, CAST(count(*) AS INT) AS n_ret,
               CAST(SUM(isrel) AS INT) AS n_rel_ret,
               CAST(SUM(CASE WHEN rank <= {k} THEN isrel ELSE 0 END) AS INT) AS relk,
               MIN(CASE WHEN isrel = 1 THEN rank END) AS frank,
               COALESCE(list_reduce(list(apc ORDER BY rank), {fold}), 0.0) AS apsum,
               COALESCE(list_reduce(list(gain ORDER BY rank), {fold}), 0.0) AS dcg
        FROM jc GROUP BY qid),
qi AS (SELECT qid, CAST(count(*) AS INT) AS n_rel,
              COALESCE(list_reduce(list(
                CASE WHEN i <= {k} THEN {ln_gain.format(rel='CAST(rel AS DOUBLE)', pos='CAST(i AS DOUBLE)')} ELSE 0.0 END
                ORDER BY i), {fold}), 0.0) AS idcg
       FROM (SELECT qid, rel,
                    CAST(row_number() OVER (PARTITION BY qid ORDER BY rel DESC, ext_id) AS INT) AS i
             FROM qrels WHERE rel > 0) t GROUP BY qid)
SELECT r.qid, r.n_ret, COALESCE(q.n_rel, 0) AS n_rel, r.n_rel_ret,
       round(CAST(r.relk AS DOUBLE) / {float(k)!r}, 6) AS p_at_k,
       round(COALESCE(CAST(r.relk AS DOUBLE) / CAST(q.n_rel AS DOUBLE), 0.0), 6) AS recall_at_k,
       round(COALESCE(1.0 / CAST(r.frank AS DOUBLE), 0.0), 6) AS rr,
       round(COALESCE(r.apsum / CAST(q.n_rel AS DOUBLE), 0.0), 6) AS ap,
       round(COALESCE(CASE WHEN q.idcg > 0.0 THEN r.dcg / q.idcg END, 0.0), 6) AS ndcg_at_k
FROM ret r LEFT JOIN qi q ON r.qid = q.qid ORDER BY r.qid
"""


def registry() -> dict[str, tuple]:
    """name -> (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql | None)."""
    K = 50
    r: dict[str, tuple] = {}

    # --- search engine (SURVEY.md §2) ---
    r["term_postings"] = (
        lambda spark, sf: engine_for(spark, sf)
        .index.postings.where((F.col("term") == "spark") & (F.col("field") == "body"))
        .select("doc_id", F.col("tf").cast("long").alias("tf"))
        .orderBy("doc_id"),
        term_postings_sql("spark"),
    )
    r["bm25_sum"] = (
        _sq("dup spark merge", BM25(), K),
        bm25_sum_sql(["dup", "spark", "merge"], K),
    )
    r["bm25_params"] = (
        _sq("dup window", BM25(k1=2.0, b=0.3), K),
        bm25_sum_sql(["dup", "window"], K, k1=2.0, b=0.3),
    )
    r["bm25_wsum"] = (
        # BM25 #WSUM quirk: weights ignored, match-ALL (QrySopWSum.java:116-127)
        _sq("#wsum(0.4 dup 0.6 spark)", BM25(), K),
        _rank_wrap(
            f"""
WITH {BASE_CTES}, {_tf_cte(['dup', 'spark'])}, {_pivot_tf(['dup', 'spark'])},
sc AS (SELECT pv.doc_id,
  (SELECT greatest(0.0, ln((st.n_docs - d.df + 0.5) / (d.df + 0.5)))
   * pv.tf0 / (pv.tf0 + 1.2 * (0.25 + 0.75 * dl.doc_len / (st.sum_len / st.doc_count)))
   FROM (SELECT CAST(count(*) AS DOUBLE) AS df FROM tf WHERE term = 'dup') d) AS s0,
  (SELECT greatest(0.0, ln((st.n_docs - d.df + 0.5) / (d.df + 0.5)))
   * pv.tf1 / (pv.tf1 + 1.2 * (0.25 + 0.75 * dl.doc_len / (st.sum_len / st.doc_count)))
   FROM (SELECT CAST(count(*) AS DOUBLE) AS df FROM tf WHERE term = 'spark') d) AS s1
  FROM pv JOIN dl USING (doc_id) CROSS JOIN st
  WHERE pv.tf0 IS NOT NULL AND pv.tf1 IS NOT NULL)
SELECT doc_id, CAST(round(s0 + s1, 6) AS DOUBLE) AS score FROM sc
""",
            K,
        ),
    )

    r["rankedbool_and"] = (
        _sq("#and(spark merge)", RankedBoolean(), K),
        ranked_bool_sql("and", ["spark", "merge"], K),
    )
    r["rankedbool_or"] = (
        _sq("#or(spark merge)", RankedBoolean(), K),
        ranked_bool_sql("or", ["spark", "merge"], K),
    )
    r["rankedbool_nested"] = (
        _sq("#and(#or(dup spark) merge)", RankedBoolean(), K),
        ranked_nested_sql(["dup", "spark"], "merge", K),
    )
    r["syn_ranked"] = (
        _sq("#syn(spark merge)", RankedBoolean(), K),
        ranked_bool_sql("syn", ["spark", "merge"], K),
    )
    r["unrankedbool_and"] = (
        _sq_docset("#and(spark merge)", UnrankedBoolean()),
        unranked_and_sql(["spark", "merge"]),
    )
    r["near2_docs"] = (
        _sq_docset("#near/2(spark merge)", UnrankedBoolean()),
        near_docs_sql("spark", "merge", 2),
    )
    r["window4_docs"] = (
        _sq_docset("#window/4(spark merge)", UnrankedBoolean()),
        window_docs_sql("spark", "merge", 4),
    )
    r["indri_and"] = (
        _sq("#and(dup spark)", Indri(**INDRI_P), K),
        indri_sql(["dup", "spark"], "and", K, INDRI_P["mu"], INDRI_P["lam"]),
    )
    r["indri_or"] = (
        _sq("#or(dup spark)", Indri(**INDRI_P), K),
        indri_sql(["dup", "spark"], "or", K, INDRI_P["mu"], INDRI_P["lam"]),
    )
    r["indri_wand"] = (
        _sq("#wand(0.7 dup 0.3 spark)", Indri(**INDRI_P), K),
        indri_sql(["dup", "spark"], "wand", K, INDRI_P["mu"], INDRI_P["lam"], [0.7, 0.3]),
    )
    r["indri_wsum"] = (
        _sq("#wsum(0.7 dup 0.3 spark)", Indri(**INDRI_P), K),
        indri_sql(["dup", "spark"], "wsum", K, INDRI_P["mu"], INDRI_P["lam"], [0.7, 0.3]),
    )

    def _prf_terms(spark: SparkSession, sf: str) -> DataFrame:
        from searchengine_spark.operators import prf

        eng = engine_for(spark, sf)
        init = _ranked(eng.scores("dup spark", model=BM25()), 10).collect()
        top = [(int(r["doc_id"]), float(r["score"])) for r in init]
        scored = prf.candidate_term_scores(
            eng, top, prf.ExpandParams(fb="indri", fb_docs=10, fb_mu=500.0)
        )
        s = scored.select("term", F.round("fb_score", 5).alias("fb_score"))
        w = Window.orderBy(F.desc("fb_score"), F.asc("term"))
        return s.withColumn("rank", F.row_number().over(w).cast("int")).where(
            F.col("rank") <= 10
        )

    prf_init = bm25_sum_sql(["dup", "spark"], 10)
    r["prf_term_scores"] = (
        _prf_terms,
        f"""
WITH init AS (SELECT doc_id, score FROM ({prf_init}) __i),
tok2 AS (SELECT doc_id, {TOK} AS toks FROM documents),
dl2 AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS doc_len FROM tok2),
st2 AS (SELECT CAST(sum(doc_len) AS DOUBLE) AS sum_len FROM dl2),
allt AS (SELECT doc_id, unnest(toks) AS t FROM tok2),
ct AS (SELECT t, CAST(count(*) AS DOUBLE) AS ctf FROM allt GROUP BY t),
toptf AS (SELECT a.doc_id, a.t, CAST(count(*) AS DOUBLE) AS tf
          FROM allt a JOIN init USING (doc_id) GROUP BY a.doc_id, a.t),
s0 AS (SELECT sum(i.score / (d.doc_len + 500.0)) AS v
       FROM init i JOIN dl2 d USING (doc_id)),
pres AS (SELECT tt.t, sum(tt.tf / (d.doc_len + 500.0) * i.score) AS present
         FROM toptf tt JOIN dl2 d USING (doc_id) JOIN init i USING (doc_id)
         GROUP BY tt.t),
fb AS (SELECT p.t AS term,
         ln(st2.sum_len / ct.ctf)
           * (p.present + 500.0 * ct.ctf / st2.sum_len * s0.v) AS fbs
       FROM pres p JOIN ct USING (t) CROSS JOIN st2 CROSS JOIN s0)
SELECT term, fb_score, rank FROM (
  SELECT term, CAST(round(fbs, 5) AS DOUBLE) AS fb_score,
         CAST(row_number() OVER (ORDER BY round(fbs, 5) DESC, term) AS INT) AS rank
  FROM fb) __r
WHERE rank <= 10 ORDER BY rank
""",
    )

    # --- forward-index (TermVector) scan: stems+tfs of one doc ---
    r["term_vector_doc"] = (
        lambda spark, sf: engine_for(spark, sf)
        .index.postings.where((F.col("doc_id") == 7) & (F.col("field") == "body"))
        .select("term", F.col("tf").cast("long").alias("tf"))
        .orderBy("term"),
        f"""
WITH tok AS (SELECT doc_id, {TOK} AS toks FROM documents)
SELECT t AS term, CAST(count(*) AS BIGINT) AS tf
FROM (SELECT doc_id, unnest(toks) AS t FROM tok)
WHERE doc_id = 7 GROUP BY t ORDER BY term
""",
    )

    # --- metadata (getAttribute) scan: docs-table attribute lookup ---
    r["doc_metadata"] = (
        lambda spark, sf: engine_for(spark, sf)
        .index.docs.where(F.col("doc_id") < 5)
        .select(
            "doc_id", "ext_id", F.col("n_chars").cast("long").alias("n_chars"), "lang"
        )
        .orderBy("doc_id"),
        """
SELECT doc_id, CAST(doc_id AS VARCHAR) AS ext_id,
       CAST(n_chars AS BIGINT) AS n_chars, lang
FROM documents WHERE doc_id < 5 ORDER BY doc_id
""",
    )

    def _prf_end_to_end(spark: SparkSession, sf: str) -> DataFrame:
        """Entry-point-2 loop: expand 'dup spark' with Indri PRF, run the
        rewritten #wand query to a final ranking (QryExpand.java:133-146)."""
        from searchengine_spark.operators import prf

        eng = engine_for(spark, sf)
        model = Indri(**INDRI_P)
        init = _ranked(eng.scores("dup spark", model=model), 10).collect()
        top = [(int(r["doc_id"]), float(r["score"])) for r in init]
        params = prf.ExpandParams(
            fb="indri", fb_docs=10, fb_terms=5, fb_mu=500.0, fb_orig_weight=0.5
        )
        expanded, _fbq = prf.expand(
            eng, "dup spark", params, model=model, initial_ranking=top
        )
        return _ranked(eng.scores(expanded, model=model), K)

    r["prf_end_to_end"] = (
        _prf_end_to_end,
        prf_end_to_end_sql(
            ["dup", "spark"], K, fb_docs=10, fb_terms=5, fb_mu=500.0,
            w_orig=0.5, mu=INDRI_P["mu"], lam=INDRI_P["lam"],
        ),
    )

    # --- multi-field Indri (doc_stats default-length fallback path) ---
    def _indri_multifield(spark: SparkSession, sf: str) -> DataFrame:
        eng = _ENGINES.get(sf + "#mf")
        if eng is None:
            idx = build_index(
                docs_df(spark, sf),
                fields={"body": "text", "title": "source"},
                doc_id_col="doc_id", ext_id_col="doc_id", analyzer="simple",
            )
            eng = SearchEngine(idx, fields=("body", "title"))
            _ENGINES[sf + "#mf"] = eng
        return _ranked(
            eng.scores("#wsum(0.4 src1.title 0.6 spark)", model=Indri(**INDRI_P)), K
        )

    mu, lam = INDRI_P["mu"], INDRI_P["lam"]
    r["indri_multifield_wsum"] = (
        _indri_multifield,
        _rank_wrap(
            f"""
WITH tokb AS (SELECT doc_id, {TOK} AS toks FROM documents),
tokt AS (SELECT doc_id, regexp_extract_all(lower(source), '[a-z0-9]+') AS toks FROM documents),
dlb AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tokb),
dlt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tokt),
stb AS (SELECT CAST(sum(dl) AS DOUBLE) AS sum_len FROM dlb),
stt AS (SELECT CAST(sum(dl) AS DOUBLE) AS sum_len FROM dlt),
tfb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM
        (SELECT doc_id, unnest(toks) AS t FROM tokb) WHERE t = 'spark' GROUP BY doc_id),
tft AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS tf FROM
        (SELECT doc_id, unnest(toks) AS t FROM tokt) WHERE t = 'src1' GROUP BY doc_id),
ctb AS (SELECT CAST(COALESCE(sum(tf), 0) AS DOUBLE) AS v FROM tfb),
ctt AS (SELECT CAST(COALESCE(sum(tf), 0) AS DOUBLE) AS v FROM tft),
docs0 AS (SELECT doc_id FROM tfb UNION SELECT doc_id FROM tft),
e AS (SELECT d.doc_id,
  CASE WHEN tft.tf IS NOT NULL
    THEN {1.0 - lam!r} * (tft.tf + {mu!r} * (ctt.v / stt.sum_len)) / (dlt.dl + {mu!r}) + {lam!r} * (ctt.v / stt.sum_len)
    ELSE {1.0 - lam!r} * (0.0 + {mu!r} * ((CASE WHEN ctt.v < 1.0 THEN 0.5 ELSE ctt.v END) / stt.sum_len)) / (dlt.dl + {mu!r})
         + {lam!r} * ((CASE WHEN ctt.v < 1.0 THEN 0.5 ELSE ctt.v END) / stt.sum_len) END AS e0,
  CASE WHEN tfb.tf IS NOT NULL
    THEN {1.0 - lam!r} * (tfb.tf + {mu!r} * (ctb.v / stb.sum_len)) / (dlb.dl + {mu!r}) + {lam!r} * (ctb.v / stb.sum_len)
    ELSE {1.0 - lam!r} * (0.0 + {mu!r} * ((CASE WHEN ctb.v < 1.0 THEN 0.5 ELSE ctb.v END) / stb.sum_len)) / (dlb.dl + {mu!r})
         + {lam!r} * ((CASE WHEN ctb.v < 1.0 THEN 0.5 ELSE ctb.v END) / stb.sum_len) END AS e1
  FROM docs0 d
  LEFT JOIN tft ON tft.doc_id = d.doc_id
  LEFT JOIN tfb ON tfb.doc_id = d.doc_id
  JOIN dlt ON dlt.doc_id = d.doc_id
  JOIN dlb ON dlb.doc_id = d.doc_id
  CROSS JOIN stb CROSS JOIN stt CROSS JOIN ctb CROSS JOIN ctt)
SELECT doc_id, CAST(round(e0 * 0.4 / 1.0 + e1 * 0.6 / 1.0, 6) AS DOUBLE) AS score FROM e
""",
            K,
        ),
    )

    # --- all five reference fields on one index (QryParser.java:162-166) ---
    def _bm25_5field(spark: SparkSession, sf: str) -> DataFrame:
        key = sf + "#5f"
        eng = _ENGINES.get(key)
        if eng is None:
            d = docs_df(spark, sf).select(
                "doc_id", "text", "source", "lang",
                F.concat_ws(
                    "/", F.lit("http:"), F.col("lang"), F.col("source"),
                    F.col("doc_id").cast("string"),
                ).alias("url_src"),
                F.substring("text", 1, 60).alias("kw_src"),
                F.concat_ws(" ", F.col("lang"), F.col("source")).alias("inlink_src"),
            )
            idx = build_index(
                d,
                fields={"body": "text", "title": "source", "url": "url_src",
                        "keywords": "kw_src", "inlink": "inlink_src"},
                doc_id_col="doc_id", ext_id_col="doc_id", analyzer="simple",
            )
            eng = SearchEngine(idx, fields=("body", "title", "url", "keywords", "inlink"))
            _ENGINES[key] = eng
        q = "#sum(dup.body src1.title src2.url spark.keywords src3.inlink)"
        return _ranked(eng.scores(q, model=BM25()), K)

    r["bm25_5field"] = (
        _bm25_5field,
        bm25_multifield_sql(
            [
                ("dup", "text"),
                ("src1", "source"),
                ("src2", "concat_ws('/', 'http:', lang, source, CAST(doc_id AS VARCHAR))"),
                ("spark", "substr(text, 1, 60)"),
                ("src3", "concat_ws(' ', lang, source)"),
            ],
            K,
        ),
    )

    # --- english analyzer (stopwords + krovetz_lite) end-to-end ---
    def _bm25_english(spark: SparkSession, sf: str) -> DataFrame:
        key = sf + "#en"
        eng = _ENGINES.get(key)
        if eng is None:
            idx = build_index(
                docs_df(spark, sf), fields={"body": "text"}, doc_id_col="doc_id",
                ext_id_col="doc_id", analyzer="english",
            )
            eng = SearchEngine(idx, fields=("body",))
            _ENGINES[key] = eng
        # 'merged tables' stems to (merge, table); 'the' drops as a stopword
        return _ranked(eng.scores("merged the tables", model=BM25()), K)

    from searchengine_spark.analyzer import get_analyzer as _ga

    r["bm25_english_stem"] = (
        _bm25_english,
        bm25_english_sql(_ga("english").terms("merged the tables"), K),
    )

    # --- events table: tumbling-window aggregation + sessionization ---
    from searchengine_spark.pipeline import events as ev

    r["events_windowed"] = (
        lambda spark, sf: ev.windowed_event_counts(
            spark.read.parquet(f"{sf}/events.parquet")
        ).orderBy("window_start", "event_type"),
        """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(round(sum(value), 6) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
""",
    )
    r["events_sessionize"] = (
        lambda spark, sf: ev.sessionize(
            spark.read.parquet(f"{sf}/events.parquet"), gap_minutes=30
        ).select("event_id", "user_id", "session_seq", "session_id").orderBy("event_id"),
        """
WITH g AS (
  SELECT event_id, user_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
         THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT event_id, user_id,
  CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq,
  user_id::VARCHAR || '-' ||
  CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT)::VARCHAR AS session_id
FROM g ORDER BY event_id
""",
    )

    # --- streaming twin: availableNow drain == batch aggregation ---
    def _events_streaming_twin(spark: SparkSession, sf: str) -> DataFrame:
        import os
        import tempfile
        import uuid

        src_dir = tempfile.mkdtemp(prefix="evtwin_src_")
        os.symlink(f"{sf}/events.parquet", os.path.join(src_dir, "events.parquet"))
        name = f"evtwin_{uuid.uuid4().hex[:10]}"
        q = ev.streaming_windowed_counts_memory(spark, src_dir, name)
        q.awaitTermination(180)
        return spark.table(name).orderBy("window_start", "event_type")

    r["events_streaming_twin"] = (
        _events_streaming_twin,
        # identical SQL to events_windowed: the streaming drain must equal
        # the batch aggregation row-for-row
        """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(round(sum(value), 6) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
""",
    )

    # --- stateful streaming sessionization (applyInPandasWithState) ---
    def _events_streaming_sessions(spark: SparkSession, sf: str) -> DataFrame:
        import os
        import tempfile
        import uuid

        from searchengine_spark.streaming import sessions as ss

        src_dir = tempfile.mkdtemp(prefix="evsess_src_")
        os.symlink(f"{sf}/events.parquet", os.path.join(src_dir, "events.parquet"))
        base = tempfile.mkdtemp(prefix=f"evsess_{uuid.uuid4().hex[:8]}_")
        out = os.path.join(base, "out")
        # watermark delay >> data span: no event-time timeout ever fires,
        # so the drain emits exactly the gap-closed sessions — every
        # session except each user's final open one (deterministic rule
        # the oracle replays below). Timeout firing itself is pinned by
        # tests/test_multimodal_streaming.py.
        q = ss.streaming_sessionize(
            spark, src_dir, os.path.join(base, "ckpt"), out,
            gap_minutes=30, watermark="3650 days",
        )
        q.awaitTermination(180)
        return (
            spark.read.parquet(out)
            .select(
                "user_id",
                "session_seq",
                "n_events",
                F.unix_micros("session_start").alias("start_us"),
                F.unix_micros("session_end").alias("end_us"),
            )
            .orderBy("user_id", "session_seq")
        )

    r["events_streaming_sessions"] = (
        _events_streaming_sessions,
        # the streaming operator compares gaps at MICROsecond precision
        # (sessions.py _session_fn), so the oracle does too
        """
WITH g AS (
  SELECT user_id, ts, event_id,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts,
    sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM g),
agg AS (
  SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(epoch_us(min(ts)) AS BIGINT) AS start_us,
         CAST(epoch_us(max(ts)) AS BIGINT) AS end_us
  FROM s GROUP BY user_id, session_seq)
SELECT user_id, session_seq, n_events, start_us, end_us
FROM agg
WHERE session_seq < (SELECT max(a2.session_seq) FROM agg AS a2
                     WHERE a2.user_id = agg.user_id)
ORDER BY user_id, session_seq
""",
    )

    # --- training-data pipeline ---
    r["token_stats"] = (
        lambda spark, sf: textstats.token_stats(docs_df(spark, sf)).orderBy("doc_id"),
        token_stats_sql(),
    )
    r["quality_scores"] = (
        lambda spark, sf: textstats.quality_scores(docs_df(spark, sf)).orderBy("doc_id"),
        quality_sql(),
    )
    r["lang_id"] = (
        lambda spark, sf: textstats.lang_id(docs_df(spark, sf)).orderBy("doc_id"),
        lang_id_sql(),
    )
    r["fingerprints"] = (
        lambda spark, sf: textstats.fingerprints(docs_df(spark, sf)).orderBy("doc_id"),
        fingerprints_sql(),
    )
    r["bpe_token_count"] = (
        lambda spark, sf: textstats.bpe_token_count(docs_df(spark, sf)).orderBy("doc_id"),
        bpe_count_sql(),
    )
    r["dedup_exact"] = (
        lambda spark, sf: dedup.exact_duplicates(docs_df(spark, sf)).orderBy("key_md5"),
        exact_dedup_sql(),
    )
    SEEDS = [8, 26, 45]
    r["dedup_jaccard_seeds"] = (
        lambda spark, sf: dedup.jaccard_pairs_vs_seeds(
            docs_df(spark, sf), SEEDS, threshold=0.5
        ).orderBy("seed_id", "doc_id"),
        jaccard_seeds_sql(SEEDS, 0.5),
    )
    r["dedup_minhash_lsh"] = (
        lambda spark, sf: dedup.minhash_lsh_pairs(
            docs_df(spark, sf), threshold=0.8
        ).orderBy("id_a", "id_b"),
        minhash_lsh_sql(0.8),
    )
    mh_inner = minhash_lsh_sql(0.8).replace("ORDER BY id_a, id_b", "")
    r["dedup_clusters"] = (
        lambda spark, sf: dedup.near_dup_clusters(docs_df(spark, sf), threshold=0.8)
        .select(
            F.col("component").cast("long").alias("component"),
            F.col("doc_id").cast("long").alias("doc_id"),
        )
        .orderBy("doc_id"),
        f"""
WITH RECURSIVE
pairs AS (SELECT id_a, id_b FROM ({mh_inner}) __p),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT CAST(least(m.a, m.mn) AS BIGINT) AS component, CAST(m.a AS BIGINT) AS doc_id
FROM (SELECT a, min(b) AS mn FROM reach GROUP BY a) m
ORDER BY doc_id
""",
    )

    # --- corpus curation (composition of dedup + textstats signals) ---
    from searchengine_spark.pipeline import curate

    r["dedup_keep_representatives"] = (
        lambda spark, sf: curate.keep_representatives(docs_df(spark, sf), threshold=0.8)
        .select(F.col("doc_id").cast("long").alias("doc_id"))
        .orderBy("doc_id"),
        f"""
WITH RECURSIVE
pairs AS (SELECT id_a, id_b FROM ({mh_inner}) __p),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
clusters AS (SELECT least(m.a, m.mn) AS component, m.a AS doc_id
             FROM (SELECT a, min(b) AS mn FROM reach GROUP BY a) m)
SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id != component)
ORDER BY doc_id
""",
    )

    r["corpus_filter"] = (
        lambda spark, sf: curate.corpus_filter(docs_df(spark, sf), min_quality=0.6)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "pred_lang",
            F.round("quality", 6).alias("quality"),
        )
        .orderBy("doc_id"),
        f"""
WITH q AS (SELECT doc_id, quality FROM ({quality_sql()}) __q),
l AS (SELECT doc_id, pred_lang FROM ({lang_id_sql()}) __l),
reps AS (SELECT md5(text) AS k, min(doc_id) AS rep FROM documents GROUP BY 1),
losers AS (SELECT d.doc_id FROM documents d JOIN reps ON md5(d.text) = reps.k
           WHERE d.doc_id != reps.rep)
SELECT CAST(q.doc_id AS BIGINT) AS doc_id, l.pred_lang, q.quality
FROM q JOIN l USING (doc_id)
WHERE doc_id NOT IN (SELECT doc_id FROM losers)
  AND l.pred_lang = 'en' AND q.quality >= 0.6
ORDER BY doc_id
""",
    )

    r["simhash_values"] = (
        lambda spark, sf: dedup.simhash_values(docs_df(spark, sf)).orderBy("id"),
        simhash_values_sql(),
    )
    r["simhash_pairs"] = (
        lambda spark, sf: dedup.simhash_pairs(docs_df(spark, sf), max_hamming=3)
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
        .orderBy("id_a", "id_b"),
        simhash_pairs_sql(3),
    )
    QIDS = [0, 1, 2]
    r["ann_cosine_topk"] = (
        lambda spark, sf: similarity.cosine_topk(emb_df(spark, sf), QIDS, k=10)
        .orderBy("query_id", "rank"),
        ann_cosine_sql(QIDS, 10),
    )
    # --- iterative / learned operators. The greedy loops and forward
    # passes are deterministic; inputs are rounded to 6 digits so both
    # engines start from identical doubles, and the DuckDB twins carry
    # the greedy state through recursive CTEs.
    # intents overlap the main candidates so coverage terms are non-trivial
    D_MAIN, D_INTENTS = "dup spark", {"q1.1": "dup", "q1.2": "merge"}

    def _diversity_rankings(spark: SparkSession, sf: str) -> DataFrame:
        eng = engine_for(spark, sf)
        frames = []
        for intent, q in [("", D_MAIN)] + sorted(D_INTENTS.items()):
            frames.append(
                eng.scores(q, model=BM25()).select(
                    F.lit("q1").alias("qid"),
                    F.lit(intent).alias("intent"),
                    "doc_id",
                    F.round("score", 6).alias("score"),
                )
            )
        u = frames[0]
        for fr in frames[1:]:
            u = u.unionByName(fr)
        return u

    def _diversity(algorithm: str):
        def fn(spark: SparkSession, sf: str) -> DataFrame:
            from searchengine_spark.operators.diversity import diversify

            rankings = _diversity_rankings(spark, sf)
            out = diversify(rankings, algorithm, lam=0.5, max_input=50, max_result=20)
            return out.select(
                "qid", "doc_id", F.round("score", 6).alias("score"), "rank"
            ).orderBy("rank")

        return fn

    r["diversity_xquad"] = (
        _diversity("xquad"),
        xquad_sql(["dup", "spark"], ["dup", "merge"]),
    )
    r["diversity_pm2"] = (
        _diversity("pm2"),
        pm2_sql(["dup", "spark"], ["dup", "merge"]),
    )

    def _letor_features(spark: SparkSession, sf: str) -> DataFrame:
        from searchengine_spark.operators import letor

        eng = engine_for(spark, sf)
        cand = _ranked(eng.scores("dup spark", model=BM25()), 20).select("doc_id")
        feats = letor.featurize(eng, "q1", "dup spark", cand)
        # absent-feature NULLs (the reference's Double.MIN_VALUE sentinel)
        # surface as -1.0 so the driver's NULL/NaN canonicalization can't
        # diverge between engines
        cols = [F.coalesce(F.round(c, 6), F.lit(-1.0)).alias(c) for c in letor.FEATURE_COLS]
        return feats.select("qid", "doc_id", *cols).orderBy("doc_id")

    r["letor_features"] = (_letor_features, letor_features_sql(["dup", "spark"], 20))

    def _drmm_rerank(spark: SparkSession, sf: str) -> DataFrame:
        from searchengine_spark.operators import drmm

        eng = engine_for(spark, sf)
        terms = ["dup", "spark"]
        cand = _ranked(eng.scores("dup spark", model=BM25()), 20).select("doc_id")
        feats = drmm.histogram_features(eng, terms, cand)
        mlp = drmm.MLP(seed=5)  # fixed net -> deterministic scores
        scored = drmm.score_candidates(eng, terms, feats, mlp)
        return _ranked(scored, 10)

    r["drmm_rerank"] = (_drmm_rerank, drmm_sql(["dup", "spark"], 20, 10))

    # ANN top-k: IVF-flat coarse quantization. Centroids are
    # deterministic md5-ordered medoids, so the oracle re-derives the
    # whole index structure (centroids -> assignment -> probes) from
    # the table in SQL — the approximate candidate set is verified
    # value-for-value (recall vs brute force stays pytest-pinned).
    r["ann_ivf_topk"] = (
        lambda spark, sf: similarity.ivf_topk(
            emb_df(spark, sf), QIDS, k=10, n_cells=16, n_probe=4
        ).orderBy("query_id", "rank"),
        ann_ivf_sql(QIDS, 10, n_cells=16, n_probe=4),
    )
    r["emb_near_dup"] = (
        lambda spark, sf: similarity.embedding_near_dup_pairs(
            emb_df(spark, sf), threshold=0.45
        ).orderBy("id_a", "id_b"),
        emb_near_dup_sql(0.45),
    )
    # engine-side trec_eval: deterministic run+qrels from the documents
    # table (md5-portable hashes), scored by eval.ir_metrics
    def _ir_metrics(spark: SparkSession, sf: str) -> DataFrame:
        from pyspark.sql import Window

        from searchengine_spark.eval import ir_metrics

        d = docs_df(spark, sf).select(F.col("doc_id").cast("string").alias("ext_id"))
        qs = spark.createDataFrame([(q,) for q in IR_QIDS], "qid string")
        scored = d.crossJoin(qs).select(
            "qid",
            "ext_id",
            F.expr(
                "cast(conv(substr(md5(concat(qid, '#', ext_id)), 1, 15), 16, 10) as bigint)"
            ).alias("h"),
            F.expr(
                "cast(conv(substr(md5(concat('r#', qid, '#', ext_id)), 1, 2), 16, 10) as bigint)"
            ).alias("rh"),
        )
        qrels = scored.select(
            "qid",
            "ext_id",
            F.expr(
                "cast(CASE WHEN rh % 16 = 0 THEN 2 WHEN rh % 5 = 0 THEN 1 ELSE 0 END as int)"
            ).alias("rel"),
        )
        run = (
            scored.withColumn(
                "rank",
                F.row_number().over(
                    Window.partitionBy("qid").orderBy(F.desc("h"), F.asc("ext_id"))
                ),
            )
            .where(F.col("rank") <= IR_DEPTH)
            .select("qid", "ext_id", "rank")
        )
        return ir_metrics(run, qrels, k=IR_K).orderBy("qid")

    r["ir_metrics"] = (_ir_metrics, ir_metrics_sql())

    _ = math  # keep import (used by callers/debug)
    return r
