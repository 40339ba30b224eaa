"""Scaling-evidence harness (north rule: throughput efficiency >= 0.8
from N to 4N executors; sandbox substitute: the same job at multiple
local[N] parallelism levels on the SAME input — see BENCH/BASELINE.md
for why local[2] -> local[8] is the faithful N -> 4N pair on this
SMT-limited box).

Amplifies the sf documents table deterministically (doc_id = orig*REP
+ r, same text) so the job is compute-bound rather than
overhead-bound, then for each parallelism level runs, in a FRESH JVM
(subprocess):
  1. full index build (segments + finalize) -> docs/sec
  2. batch retrieval (derived query set, k=1000) -> queries/sec
  3. sequential single-query retrievals -> p50/p99 latency

Writes results JSON to stdout; BENCH/BASELINE.md is assembled from
two runs by scripts/write_bench_md.py.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER_CODE = r"""
import json, os, sys, time, tempfile
sys.path.insert(0, {repo!r})
from splade_spark.session import get_spark
from pyspark.sql import functions as F

cores = {cores}
spark = get_spark(app=f"scaling-{{cores}}", cores=cores)

from splade_spark.sources.pages import load_documents
from splade_spark.operators.index_build import build_index
from splade_spark.operators import index_query
from splade_spark.operators.index_query import search_fused
from splade_spark.operators.maxscore import search_maxscore_fused
from splade_spark.synth import derive_queries

# time the Spark routes: under the default limit search_fused answers
# batches whose candidate pairs fit DRIVER_POSTING_LIMIT on the driver,
# and every local[N] level would time the same single-threaded code.
# search_maxscore_fused (imported above) keeps its default limit.
index_query.DRIVER_POSTING_LIMIT = 0

docs = load_documents(spark, {sf_dir!r})
rep = {rep}
if rep > 1:
    reps = spark.range(rep).withColumnRenamed("id", "r")
    docs = (docs.crossJoin(reps)
            .select((F.col("doc_id") * rep + F.col("r")).alias("doc_id"), "text"))
# the crossJoin amplification inherits the tiny source's partitioning
# (1 task); spread it so the build sees a normally-partitioned input
docs = docs.select("doc_id", "text").repartition(cores * 4, "doc_id")
n_docs = docs.count()

# best-of-N builds: the sandbox VM shows +-15% wall noise; min wall is
# the standard noise-robust estimator for throughput benchmarks
build_walls = []
index_dir = None
for _rep in range({build_reps}):
    bdir = tempfile.mkdtemp(prefix=f"scale_idx_{{cores}}_")
    t0 = time.time()
    build_index(docs, bdir, n_segments=4, n_buckets=32)
    build_walls.append(time.time() - t0)
    if index_dir is None:
        index_dir = bdir
build_wall = min(build_walls)

# queries loaded driver-side (the reference's own query-loading shape,
# evaluate.py:80-86) -> bucket prune literals computed in pure Python
qrows = derive_queries(load_documents(spark, {sf_dir!r})).orderBy("qid").limit({n_queries}).collect()
queries = spark.createDataFrame(qrows, "qid long, text string")
n_q = len(qrows)
# best-of-2: the first batch also pays whole-stage-codegen JIT and
# python-worker spawn, which varies with how warm the build left the
# JVM (shorter builds at higher core counts warm it less)
batch_walls = []
batch_counts = {{}}
for _ in range(2):
    t0 = time.time()
    search_fused(spark, index_dir, [(r.qid, r.text) for r in qrows], k=1000,
                 debug_counts=batch_counts).write.format("noop").mode("overwrite").save()
    batch_walls.append(time.time() - t0)
batch_wall = min(batch_walls)

# single-query latency (reference runs batch_size=1, evaluate.py:140):
# exhaustive fused AND the Block-Max-pruned fused path (whose driver
# fast path answers with zero cluster jobs while the retained postings
# of each query's terms, summed over queries, fit DRIVER_POSTING_LIMIT)
lat = []
lat_ms = []
routes, routes_ms = set(), set()
single = queries.limit(12).collect()
for row in single:
    counts = {{}}
    t0 = time.time()
    search_fused(spark, index_dir, [(row.qid, row.text)], k=1000,
                 debug_counts=counts).write.format("noop").mode("overwrite").save()
    lat.append(time.time() - t0)
    routes.add(counts["route"])
for row in single:
    counts = {{}}
    t0 = time.time()
    search_maxscore_fused(spark, index_dir, [(row.qid, row.text)], k=1000,
                          debug_counts=counts).write.format(
        "noop"
    ).mode("overwrite").save()
    lat_ms.append(time.time() - t0)
    routes_ms.add(counts["route"])

print("RESULT " + json.dumps({{
    "cores": cores,
    "n_docs": n_docs,
    "build_wall_sec": round(build_wall, 3),
    "build_walls_all": [round(x, 3) for x in build_walls],
    "docs_per_sec": round(n_docs / build_wall, 1),
    "n_queries": n_q,
    "batch_query_wall_sec": round(batch_wall, 3),
    "queries_per_sec": round(n_q / batch_wall, 2),
    "batch_route": batch_counts["route"],
    "single_query_lat_sec": [round(x, 3) for x in lat],
    "single_query_routes": sorted(routes),
    "single_query_maxscore_lat_sec": [round(x, 3) for x in lat_ms],
    "single_query_maxscore_routes": sorted(routes_ms),
}}))
"""


def run_level(cores: int, sf_dir: str, rep: int, n_queries: int, build_reps: int) -> dict:
    code = WORKER_CODE.format(repo=REPO, cores=cores, sf_dir=sf_dir, rep=rep,
                              n_queries=n_queries, build_reps=build_reps)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, env=env,
        timeout=3000,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    sys.stderr.write(out.stdout[-2000:] + "\n" + out.stderr[-4000:])
    raise RuntimeError(f"no RESULT from cores={cores}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--rep", type=int, default=20)
    ap.add_argument("--levels", default="8,32")
    ap.add_argument("--queries", type=int, default=64)
    ap.add_argument("--build-reps", type=int, default=1)
    args = ap.parse_args()
    levels = [int(x) for x in args.levels.split(",")]
    results = {c: run_level(c, args.sf_dir, args.rep, args.queries, args.build_reps)
               for c in levels}
    lo, hi = min(levels), max(levels)
    speedup = results[hi]["docs_per_sec"] / results[lo]["docs_per_sec"]
    eff = speedup / (hi / lo)
    for r in results.values():
        lat = sorted(r.pop("single_query_lat_sec"))
        r["query_p50_sec"] = round(statistics.median(lat), 3)
        r["query_p99_sec"] = round(lat[max(0, int(len(lat) * 0.99) - 1)], 3)
        lat_ms = sorted(r.pop("single_query_maxscore_lat_sec", []))
        if lat_ms:
            r["query_maxscore_p50_sec"] = round(statistics.median(lat_ms), 3)
            r["query_maxscore_p99_sec"] = round(
                lat_ms[max(0, int(len(lat_ms) * 0.99) - 1)], 3
            )
    print(
        json.dumps(
            {
                "sf_dir": args.sf_dir,
                "replication": args.rep,
                "levels": results,
                "index_speedup": round(speedup, 3),
                "scaling_efficiency": round(eff, 3),
            },
            indent=1,
        )
    )


if __name__ == "__main__":
    main()
