"""Honest batch-query throughput on a SELECTIVE-vocabulary corpus.

The scaling bench's replicated corpus has a 31-term vocabulary, so
every query matches every document and batch q/s measures exhaustive
scoring of the whole corpus per query — fixture-bound, not
retrieval-bound (BENCH/BASELINE.md r2 note). This fixture draws each
document's tokens pseudo-randomly from a V-term vocabulary
(multiplicative hashing of doc_id — deterministic, no RNG), so a
Q-term query's candidate set is ~Q * (T*n/V) docs (~0.26% of the
corpus at the defaults), the regime a real inverted index serves.

Per parallelism level (fresh JVM, like scaling_bench):
  build index once -> run the query batch with search_fused (k=1000)
  -> report queries/sec; plus the N->4N q/s scaling efficiency.

Usage: python scripts/batch_qps_bench.py [--docs 2000000] [--vocab 50000]
         [--levels 8,32] [--queries 256]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER_CODE = r"""
import json, os, sys, tempfile, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from splade_spark.session import get_spark

cores = {cores}
spark = get_spark(app=f"qps-{{cores}}", cores=cores)

n_docs, V, T = {n_docs}, {vocab}, {tokens_per_doc}
# token j of doc d: w[(d*P1 + j*P2 + (d>>7)*P3) % V] — multiplicative
# mixing spreads each term's postings over the whole doc_id range
P1, P2, P3 = 40503, 104729, 7919
tok_cols = [
    F.concat(
        F.lit("w"),
        F.pmod(
            F.col("doc_id") * P1 + F.lit(j * P2)
            + F.shiftright(F.col("doc_id"), 7) * P3,
            F.lit(V),
        ).cast("string"),
    )
    for j in range(T)
]
docs = spark.range(n_docs).select(
    F.col("id").alias("doc_id"),
    F.concat_ws(" ", *tok_cols).alias("text"),
).repartition(cores * 4, "doc_id")

from splade_spark.operators.index_build import build_index
idx = {index_dir!r} or tempfile.mkdtemp(prefix=f"qps_idx_{{cores}}_")
if os.path.exists(os.path.join(idx, "stats.json")):
    # reuse a prior level's index: the postings layout is
    # build-parallelism-independent (dictionary-driven range
    # partitioning), so query timing is unaffected; build_wall is
    # reported as 0 and the level measures QUERY scaling only
    build_wall = 0.0
else:
    t0 = time.time()
    build_index(docs, idx, n_segments=4, n_buckets=32)
    build_wall = time.time() - t0

# queries: {n_queries} driver-resident queries of {q_terms} terms each,
# same hash family with different mixers (deterministic)
qrows = []
for q in range({n_queries}):
    terms = [f"w{{(q * 15485863 + i * 32452843) % V}}" for i in range({q_terms})]
    qrows.append((q, " ".join(terms)))

from splade_spark.operators.index_query import search_fused
# warmup: one tiny discarded batch so the timed run measures
# steady-state throughput, not first-job JVM/codegen cost. Matters
# when the index is reused (build_wall == 0): without it the query
# batch is the FIRST job in a cold JVM and absorbs ~8s of warmup
# (measured: l32 1024-batch 11.4s cold-first vs 2.7s after a build).
search_fused(spark, idx, qrows[:64], k=1000).write.format("noop").mode("overwrite").save()
# best-of-2, like scaling_bench: run 1 still pays residual JIT /
# shuffle-service spin-up the 64-query warmup doesn't reach (measured
# l32: 2.7s run 1 vs 1.5s run 2); a serving session pays it once
walls = []
for _ in range(2):
    t0 = time.time()
    search_fused(spark, idx, qrows, k=1000).write.format("noop").mode("overwrite").save()
    walls.append(time.time() - t0)
batch_wall = min(walls)

res = {{
    "cores": cores,
    "n_docs": n_docs,
    "vocab": V,
    "build_wall_sec": round(build_wall, 3),
    "n_queries": len(qrows),
    "batch_query_wall_sec": round(batch_wall, 3),
    "batch_walls_all": [round(w, 3) for w in walls],
    "queries_per_sec": round(len(qrows) / batch_wall, 2),
}}

# single-query serving latency on the SAME selective corpus: the
# scaling bench's latency rows run on the replicated corpus where
# every query matches all docs (worst case) and block-max pruning
# cannot fire; this is the sparse-match serving shape, incl. the
# fused MaxScore driver path (zero cluster jobs when the retained
# postings of each query's terms, summed over queries, fit
# DRIVER_POSTING_LIMIT).
n_single = {n_single}
if n_single:
    import statistics
    from splade_spark.operators.maxscore import search_maxscore_fused
    runs = [
        ("fused", lambda q: search_fused(spark, idx, q, k=1000).toPandas()),
        ("maxscore_fused", lambda q: search_maxscore_fused(spark, idx, q, k=1000).toPandas()),
        # serving shape: driver fast path returns pandas directly,
        # skipping the createDataFrame -> collect round trip
        ("maxscore_local", lambda q: search_maxscore_fused(spark, idx, q, k=1000, as_local=True)),
    ]
    for name, fn in runs:
        fn([qrows[0]])  # warm this path
        lats = []
        for i in range(1, n_single + 1):
            t0 = time.time()
            fn([qrows[i]])
            lats.append(time.time() - t0)
        lats.sort()
        res[f"single_{{name}}_p50_sec"] = round(statistics.median(lats), 3)
        res[f"single_{{name}}_p99_sec"] = round(lats[max(0, int(len(lats) * 0.99) - 1)], 3)

print("RESULT " + json.dumps(res))
"""


def run_level(cores: int, args) -> dict:
    code = WORKER_CODE.format(
        repo=REPO,
        cores=cores,
        n_docs=args.docs,
        vocab=args.vocab,
        tokens_per_doc=args.tokens_per_doc,
        n_queries=args.queries,
        q_terms=args.q_terms,
        index_dir=args.index_dir,
        n_single=args.single,
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        env=env,
        timeout=3000,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT ") :])
    sys.stderr.write(out.stdout[-2000:] + "\n" + out.stderr[-4000:])
    raise RuntimeError(f"no RESULT from cores={cores}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=2_000_000)
    ap.add_argument("--vocab", type=int, default=50_000)
    ap.add_argument("--tokens-per-doc", type=int, default=32)
    ap.add_argument("--queries", type=int, default=256)
    ap.add_argument("--q-terms", type=int, default=4)
    ap.add_argument("--levels", default="8,32")
    ap.add_argument(
        "--single",
        type=int,
        default=0,
        help="also time N sequential single queries (search_fused + "
        "search_maxscore_fused) and report p50/p99 serving latency",
    )
    ap.add_argument(
        "--index-dir",
        default="",
        help="build the index here on first use and REUSE it across "
        "levels (layout is build-parallelism-independent); empty = "
        "fresh tmpdir per level (also measures build scaling)",
    )
    args = ap.parse_args()
    levels = [int(x) for x in args.levels.split(",")]
    results = {c: run_level(c, args) for c in levels}
    lo, hi = min(levels), max(levels)
    speedup = results[hi]["queries_per_sec"] / results[lo]["queries_per_sec"]
    print(
        json.dumps(
            {
                "levels": results,
                "qps_speedup": round(speedup, 3),
                "qps_scaling_efficiency": round(speedup / (hi / lo), 3),
            },
            indent=1,
        )
    )


if __name__ == "__main__":
    main()
