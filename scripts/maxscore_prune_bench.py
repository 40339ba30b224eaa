"""Evidence that MaxScore/Block-Max pruning WINS on a skewed corpus
(the replicated bench corpus equalizes block maxima, so the main
bench can't show it), and that the pruned plan's literal
(term_id, block_id) filters translate into BYTES at the parquet
row-group layer.

Byte accounting is computed from the REAL parquet footers with
pyarrow, by replaying parquet-mr's row-group statistics filter
(keep a row group iff some disjunct `term_id = t AND block_id IN bs`
intersects its min/max ranges) against the retained pair set the
live search actually kept
(`search_maxscore_fused(debug_counts=...)["retained_pairs"]`, the
literal its Spark route pushes to parquet), and summing the
surviving row groups' compressed column-chunk sizes for exactly the
columns each scan projects. Spark's own stage-level
`inputBytes` metric is NOT used: on local[*] it attributes only
footer reads (a probe with an impossible pushed filter and a
full-table scan both reported byte-identical totals on a 5.7 MB
table), so it cannot distinguish a pruned scan from an exhaustive
one.

The ACCOUNTING runs against a second build of the same corpus whose
row groups are written at --rowgroup-kb (default 16 KB) instead of
the production 8 MB, so the bench reproduces the at-scale shape — a
hot term's posting list spanning MANY row groups (at 10^12 docs a
stopword term spans thousands of 8 MB groups; at 6M docs it would
fit in one, and no within-term skipping would be measurable at any
granularity). All TIMED searches run on the production-layout build
(tiny row groups would inflate the driver metadata passes that the
fused planner pays). The pair set is logical (term_id, block_id),
identical across the two physical layouts. Every pruned result is
asserted equal to exhaustive DataFrame `search`.

Two docID layouts:
  default (clustered): doc length ramps monotonically with doc_id —
    the quality/length-ordered docID assignment standard in web IR
    (docID-reassignment literature; crawl/site locality has the same
    effect). High-block-max blocks cluster, so row-group min/max
    stats skip the rest: bytes scale with blocks KEPT.
  --scattered: doc length cycles with period 4000, so every row
    group contains a hot block. Pruning still drops the same block
    fraction (same blocks_kept) but NO stats granularity can skip a
    row group — the honest negative result that shows WHY docID
    assignment (or BMP's doc-partitioned layout) matters at scale.

Usage: python scripts/maxscore_prune_bench.py [--docs 200000] [--reps 3]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# columns each scan projects (keep in sync with the block payload and
# block-metadata reads in maxscore.search_maxscore_fused)
PAYLOAD_COLS = ["term_id", "block_id", "first_doc_id", "n", "doc_gap_bytes", "impact_bytes"]
META_COLS = ["term_id", "block_id", "n", "first_doc_id", "last_doc_id", "block_max"]


def rowgroup_accounting(
    post_dir: str, buckets: list[int], passes: dict[str, dict[int, list[int]]]
) -> dict:
    """Replay parquet's row-group stats filter over the real footers."""
    import pyarrow.parquet as pq

    files = []
    for b in buckets:
        files.extend(glob.glob(os.path.join(post_dir, f"bucket={b}", "*.parquet")))
    rgs = []  # (term_min, term_max, block_min, block_max, {col: bytes})
    for f in files:
        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            sizes, tmin = {}, None
            for j, name in enumerate(names):
                col = rg.column(j)
                sizes[name] = col.total_compressed_size
                st = col.statistics
                if name == "term_id":
                    tmin, tmax = st.min, st.max
                elif name == "block_id":
                    bmin, bmax = st.min, st.max
            rgs.append((tmin, tmax, bmin, bmax, sizes))

    def colsum(sizes: dict, cols: list[str]) -> int:
        return sum(sizes[c] for c in cols)

    out = {
        "rg_count": len(rgs),
        "exhaustive_rg_bytes": sum(colsum(s, PAYLOAD_COLS) for *_, s in rgs),
        "pruned_meta_rg_bytes": sum(colsum(s, META_COLS) for *_, s in rgs),
        "rg_survived": {},
    }
    payload = 0
    for pname, by_t in passes.items():
        surv = n_surv = 0
        for tmin, tmax, bmin, bmax, sizes in rgs:
            if any(
                tmin <= t <= tmax and any(bmin <= b <= bmax for b in bs)
                for t, bs in by_t.items()
            ):
                surv += colsum(sizes, PAYLOAD_COLS)
                n_surv += 1
        out["rg_survived"][pname] = n_surv
        payload += surv
    out["pruned_payload_rg_bytes"] = payload
    out["pruned_total_rg_bytes"] = payload + out["pruned_meta_rg_bytes"]
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=200_000)
    ap.add_argument("--n-rare", type=int, default=40)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--rowgroup-kb", type=int, default=16)
    ap.add_argument("--scattered", action="store_true")
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", 32)))
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from splade_spark.operators import index_build
    from splade_spark.operators.index_build import build_index
    from splade_spark.operators.index_query import prepare_queries, search_fused
    from splade_spark.operators.maxscore import search_maxscore_fused
    from splade_spark.session import get_spark

    spark = get_spark(app="maxscore-prune-bench", cores=args.cores)

    # SPLADE-shaped query load: 10 mid-df terms (each in ~half the
    # docs, membership = pseudo-random hash of (doc_id, j) — random
    # docID gaps, so the encoded payload compresses like real postings
    # instead of collapsing under the parquet page codec) + one rare
    # champion term that lives only in the SHORTEST docs. candidates
    # carry tf=8 on every query term — the BM25 analog of SPLADE's
    # high impact weights on matching expansion terms; block maxima of
    # ordinary (tf=1) blocks sit well below the term UB, which is the
    # gap Block-Max pruning cashes in.
    n_terms = 10
    cand_terms = F.repeat(
        F.lit(" " + " ".join(f"t{j}" for j in range(n_terms))), 8
    )
    mid_terms = F.concat(
        *[
            F.when(
                F.pmod(F.hash(F.col("id"), F.lit(j)), F.lit(2)) == 0,
                F.lit(f" t{j}"),
            ).otherwise(F.lit(""))
            for j in range(n_terms)
        ]
    )
    # second mid-df family u0..u9 that the candidate docs do NOT
    # carry: the block-max accounting query (u-terms only) gets its
    # theta from ordinary docs, so its retained set is decided by
    # BLOCK MAXIMA (dl skew) — the layout-sensitive mechanism — not
    # by which blocks cover the 40 tf-heavy candidates. The u-terms
    # CO-OCCUR (one membership hash for the family): MaxScore can only
    # prune a multi-term query when its top docs carry all the terms
    # (theta ~ total_ub); independent per-term membership leaves theta
    # far below total_ub and nothing prunes — the phrase/entity
    # co-occurrence structure real multi-term queries rely on
    u_terms = F.when(
        F.pmod(F.hash(F.col("id"), F.lit(100)), F.lit(2)) == 0,
        F.lit(" " + " ".join(f"u{j}" for j in range(n_terms))),
    ).otherwise(F.lit(""))
    if args.scattered:
        pad_n = F.lit(3) + ((F.col("id") % 4000) / 8).cast("int")
    else:
        pad_n = F.lit(3) + (F.col("id") * 500 / args.docs).cast("int")
    docs = spark.range(args.docs).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.when(F.col("id") < args.n_rare, F.lit("rare")).otherwise(F.lit("x")),
            F.when(F.col("id") < args.n_rare, cand_terms).otherwise(mid_terms),
            F.when(F.col("id") < args.n_rare, F.lit("")).otherwise(u_terms),
            F.repeat(F.lit(" pad"), pad_n),
        ).alias("text"),
    )
    # TWO builds of the same corpus: `idx` keeps the production 8 MB
    # row groups and serves every TIMED search (driver metadata passes
    # cost what they cost in production); `idx_acct` is written with
    # --rowgroup-kb groups purely for the byte ACCOUNTING, emulating
    # the at-scale rgs-per-term ratio. The retained pair set is
    # logical (term_id, block_id) — identical across the two physical
    # layouts — so pairs collected on `idx` replay exactly against
    # `idx_acct`'s footers.
    idx = tempfile.mkdtemp(prefix="prune_bench_")
    t0 = time.time()
    build_index(docs, idx, n_segments=4)
    build_s = time.time() - t0
    saved_rg = index_build.POSTINGS_ROWGROUP_BYTES
    index_build.POSTINGS_ROWGROUP_BYTES = args.rowgroup_kb * 1024
    idx_acct = tempfile.mkdtemp(prefix="prune_bench_acct_")
    build_index(docs, idx_acct, n_segments=4)
    index_build.POSTINGS_ROWGROUP_BYTES = saved_rg

    qtext = "rare " + " ".join(f"t{j}" for j in range(n_terms))
    qrows = [(1, qtext)]

    def timed(fn):
        best = float("inf")
        for _ in range(args.reps):
            t = time.time()
            rows = fn()
            best = min(best, time.time() - t)
        return best, rows

    def pairs(rows) -> set:
        return {(r.doc_id, r.score) for r in rows}

    def accounted(rows, counts: dict) -> dict:
        """Replay the retained pass's literal pair set over the
        accounting build's footers, in the bucket directories the
        engine pushes down for these rows."""
        return rowgroup_accounting(
            os.path.join(idx_acct, "postings"),
            prepare_queries(idx_acct, rows).buckets,
            {"retained": counts["retained_pairs"]},
        )

    # block counts + the retained pair set gathered ONCE, untimed
    counts: dict = {}
    search_maxscore_fused(spark, idx, qrows, k=10, debug_counts=counts).collect()
    acct = accounted(qrows, counts)
    # SECOND accounting query over the u-family (absent from the
    # candidate docs): theta comes from ordinary top docs and the
    # retained set is driven by BLOCK MAXIMA (the Block-Max mechanism
    # proper) instead of collapsing to the blocks covering the 40
    # candidate docs. This is the query whose byte profile is
    # layout-SENSITIVE: under the clustered (docID-assigned) layout
    # the high-max blocks are contiguous and row groups skip; under
    # --scattered every row group holds a high-max block and no stats
    # granularity can skip it.
    q2rows = [(2, " ".join(f"u{j}" for j in range(n_terms)))]
    counts2: dict = {}
    r2_pruned = search_maxscore_fused(
        spark, idx, q2rows, k=10, debug_counts=counts2
    ).collect()
    # losslessness asserted for BOTH queries (this one caught the
    # uniform-candidate knife edge: retained=0 at 6M docs before the
    # PRUNE_EPS slack)
    r2_ex = search_fused(spark, idx, q2rows, k=10).collect()
    assert pairs(r2_pruned) == pairs(r2_ex), (
        "blockmax query pruned result diverged from exhaustive"
    )
    acct2 = accounted(q2rows, counts2)

    # exhaustive reference on a Spark route: the term-major plan
    t_ex, r_ex = timed(
        lambda: search_fused(spark, idx, qrows, k=10, strategy="term").collect()
    )
    t_msf, r_msf = timed(
        lambda: search_maxscore_fused(spark, idx, qrows, k=10).collect()
    )
    t_exf, r_exf = timed(lambda: search_fused(spark, idx, qrows, k=10).collect())
    # serving shape: pruning fires on this corpus, so the driver fast
    # path answers locally and as_local skips the Spark materialization
    t_serve, r_serve = timed(
        lambda: search_maxscore_fused(spark, idx, qrows, k=10, as_local=True)
    )
    assert pairs(r_ex) == set(
        zip(r_serve.doc_id.tolist(), r_serve.score.tolist())
    ), "as_local serving result diverged"
    for other, name in [(r_msf, "fused-maxscore"), (r_exf, "fused")]:
        assert pairs(other) == pairs(r_ex), f"{name} result diverged from exhaustive"
    print(
        json.dumps(
            {
                "docs": args.docs,
                "layout": "scattered" if args.scattered else "clustered",
                "rowgroup_kb": args.rowgroup_kb,
                "build_s": round(build_s, 2),
                "blocks_total": counts["blocks_total"],
                "blocks_kept": counts["blocks_kept"],
                "kept_frac": round(counts["blocks_kept"] / counts["blocks_total"], 4),
                "exhaustive_best_s": round(t_ex, 3),
                "maxscore_fused_best_s": round(t_msf, 3),
                "maxscore_serve_best_s": round(t_serve, 3),
                "exhaustive_fused_best_s": round(t_exf, 3),
                "fused_speedup": round(t_exf / t_msf, 3),
                **acct,
                "pruned_bytes_frac": round(
                    acct["pruned_total_rg_bytes"]
                    / max(acct["exhaustive_rg_bytes"], 1),
                    4,
                ),
                "pruned_payload_bytes_frac": round(
                    acct["pruned_payload_rg_bytes"]
                    / max(acct["exhaustive_rg_bytes"], 1),
                    4,
                ),
                "blockmax_query": {
                    "blocks_kept": counts2["blocks_kept"],
                    "kept_frac": round(
                        counts2["blocks_kept"] / counts2["blocks_total"], 4
                    ),
                    **acct2,
                    "pruned_bytes_frac": round(
                        acct2["pruned_total_rg_bytes"]
                        / max(acct2["exhaustive_rg_bytes"], 1),
                        4,
                    ),
                    "pruned_payload_bytes_frac": round(
                        acct2["pruned_payload_rg_bytes"]
                        / max(acct2["exhaustive_rg_bytes"], 1),
                        4,
                    ),
                },
                "lossless": True,
                "cores": args.cores,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
