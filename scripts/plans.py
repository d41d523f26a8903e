"""Dump formatted physical plans for the headline operators -> PLANS.md.

    python scripts/plans.py [sf_dir]

Each section shows the `explain("formatted")` output the design claims
rest on: pushed term filters + constant bucket partition pruning on a
persisted index, the single-scan flat scorers (BM25 fold, Indri map
reassembly, positional co-location) for one query and for a batch, the
tree scorer for a nested query, a whole flat ``search`` ending in one
top-k collect, and the pipeline operators. Regenerate after compiler changes so the
committed evidence matches the code.
"""

from __future__ import annotations

import io
import os
import sys
import tempfile
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from searchengine_spark.engine import SearchEngine  # noqa: E402
from searchengine_spark.index.build import (  # noqa: E402
    assign_doc_ids,
    build_index,
    read_index,
    write_index,
)
from searchengine_spark.corpus import extract_fields, make_pages  # noqa: E402
from searchengine_spark.session import get_spark  # noqa: E402


def formatted(df, max_lines: int = 200) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    lines = buf.getvalue().splitlines()
    # materialized intermediates (persist + AQE) embed their full
    # final/initial plans recursively — cap the dump, the shape evidence
    # is in the head
    if len(lines) > max_lines:
        lines = (
            lines[: max_lines - 40]
            + [f"... [{len(lines) - max_lines} plan lines truncated] ..."]
            + lines[-39:]
        )
    return "\n".join(lines)


def _ivf_plan_frame(spark):
    """Persisted IVF index + probe-pruned query (tests/test_ivf.py pins
    the PartitionFilters; this records the shape)."""
    from searchengine_spark.corpus import make_embeddings
    from searchengine_spark.pipeline import similarity

    emb = make_embeddings(spark, 400, dim=16)
    ivf_dir = os.path.join(tempfile.mkdtemp(prefix="plans_ivf_"), "ivf")
    similarity.write_ivf_index(emb, ivf_dir, n_cells=8, cell_udf=True)
    idx = similarity.read_ivf_index(spark, ivf_dir)
    return similarity.ivf_topk(
        emb, [0, 1, 2], k=10, n_probe=2, cell_udf=True, prebuilt=idx
    )


def main() -> None:
    spark = get_spark("plans", cores=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    docs = assign_doc_ids(extract_fields(make_pages(spark, 400, seed=9)), ext_id_col="url")
    # PLANS_INDEX_DIR: reuse a pre-persisted index (e.g. a 400k-page
    # one) so the committed plan evidence is from the scale it claims to cover;
    # default builds a small local one. Plan SHAPES are size-independent —
    # regenerating at scale proves it.
    pdir = os.environ.get("PLANS_INDEX_DIR", "")
    src = f"persisted index at {pdir}" if pdir else "a fresh 8-bucket index over 400 synthetic pages"
    if not pdir:
        idx_mem = build_index(docs, fields={"body": "body"}, ext_id_col="url", analyzer="english")
        pdir = os.path.join(tempfile.mkdtemp(prefix="plans_"), "index")
        write_index(idx_mem, pdir, buckets=8)
    idx = read_index(spark, pdir)
    eng = SearchEngine(idx)

    from searchengine_spark.pipeline import dedup

    sections = [
        (
            "Persisted TERM scan (pushdown + bucket partition pruning)",
            "`eng.scores('cerim', model='bm25')` — expect `PushedFilters: [..term..]` and a constant `bucket#N = c` in PartitionFilters.",
            eng.scores("cerim", model="bm25"),
        ),
        (
            "Flat BM25 #SUM (single term-IN scan + in-order fold)",
            "5 terms, ONE FileScan, bucket pruning to the union of the terms' buckets, literal CASE-on-term idf constants (no broadcast), `aggregate(array_sort(collect_list(...)))` fold.",
            eng.scores("cerim dirim barim batok balan", model="bm25"),
        ),
        (
            "Flat Indri #WAND (single scan + map reassembly with defaults)",
            "No joins; `map_from_entries(collect_list(...))`, per-term `element_at` with coalesce-to-default expressions.",
            eng.scores("#wand(0.4 cerim 0.3 dirim 0.3 batok)", model="indri", mu=1500.0, lam=0.3),
        ),
        (
            "Nested PRF #WAND (tree scorer: one scan, one groupBy)",
            "The Indri PRF shape `#wand(w #and(orig) 1-w #wand(expansion))`: ONE term-IN FileScan for all seven leaves, one groupBy(doc_id) into a leaf -> score map, one argument-order `_indri_fold` expression per op with `coalesce`-to-default leaves — no Join.",
            eng.scores(
                "#wand(0.4 #and(cerim dirim barim) 0.6 #wand(0.3 cetok 0.3 ditok 0.2 celan 0.2 dilan))",
                model="indri", mu=1500.0, lam=0.3,
            ),
        ),
        (
            "#NEAR/2 (single scan, position co-location, Arrow merge)",
            "One scan, one groupBy; match-ALL via `size(__ps) = k`; the positional kernel is the only Python stage.",
            eng.scores("#near/2(barim batok)", model="rankedboolean"),
        ),
        (
            "3-query BM25 run_batch (the flat scorer with broadcast constants, one scan)",
            "The same scorer as the flat BM25 #SUM above, fed a batch: ONE term-IN FileScan for the whole batch, BroadcastHashJoin on term with the (qid, __ti, term, __idf) table (built from Arrow: a LocalTableScan, no Python-worker task), groupBy(qid, doc_id) fold, per-qid row_number window — scan count independent of batch size — and ONE `TakeOrderedAndProject` at the root, like `search`: no range exchange for the (qid, rank) order.",
            eng.run_batch(
                [("q1", "cerim dirim"), ("q2", "barim cerim"), ("q3", "dirim batok")],
                model="bm25", k=10,
            ),
        ),
        (
            "Flat BM25 search (one top-k collect)",
            "`eng.search('cerim dirim barim', k=10)` end to end: df/ctf come from the driver-side term_stats lookup (no plan, no job), so the plan is the flat scorer, the broadcast ext-id join and ONE `TakeOrderedAndProject` at the root — no range exchange for the final rank order.",
            eng.search("cerim dirim barim", model="bm25", k=10),
        ),
        (
            "IVF-flat ANN over the persisted cell-partitioned index",
            "`ivf_topk(prebuilt=read_ivf_index(...))` with driver-side probes — expect `PartitionFilters: [cell#N IN (..)]` on the FileScan: only the n_probe probed cells' directories are read, the embedding analogue of the postings bucket pruning.",
            _ivf_plan_frame(spark),
        ),
        (
            "MinHash-LSH near-dup pairs (band equi-join, hashed verify)",
            "Band keys only in the self-join; shingle payloads stay out of the candidate shuffle (semi-join + 8-byte hashes).",
            dedup.minhash_lsh_pairs(
                docs.select("doc_id", docs["body"].alias("text")), threshold=0.8
            ),
        ),
    ]

    out = ["# PLANS — formatted physical plans for the headline operators",
           "",
           f"Generated by `python scripts/plans.py` on {src}",
           "(the plan SHAPES, not the sizes, are the evidence — they are what",
           "survives a 1000-executor scale-up).",
           ""]
    for title, caption, df in sections:
        out.append(f"## {title}\n")
        out.append(caption + "\n")
        out.append("```\n" + formatted(df).strip() + "\n```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote {os.path.join(REPO, 'PLANS.md')}")


if __name__ == "__main__":
    main()
