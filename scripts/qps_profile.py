"""Driver-floor profile for mid-size (1024) query batches (VERDICT r4
next #5): per parallelism level, split one search_fused batch into

  prep  — driver-only work before any job: tokenize, term_dict
          pyarrow read, q_arrs build, predicate build, plan build
  exec  — the action (noop write)

and run the SAME batch twice (run 1 pays Python-worker spawn + JIT;
run 2 is the steady-state a long-lived serving session sees). The
8 vs 32 comparison separates the serial driver floor (identical at
both levels) from executor-side scaling.

Usage: python scripts/qps_profile.py [--docs 2000000] [--queries 1024]
         [--levels 8,32] [--index-dir /tmp/qpsprof_idx]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import json, os, sys, tempfile, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from splade_spark.session import get_spark

cores = {cores}
spark = get_spark(
    app=f"qpsprof-{{cores}}",
    cores=cores,
    extra_conf={extra_conf!r},
)
n_docs, V, T = {n_docs}, 50000, 32
P1, P2, P3 = 40503, 104729, 7919
tok_cols = [
    F.concat(F.lit("w"), F.pmod(
        F.col("doc_id") * P1 + F.lit(j * P2)
        + F.shiftright(F.col("doc_id"), 7) * P3, F.lit(V)).cast("string"))
    for j in range(T)
]
docs = spark.range(n_docs).select(
    F.col("id").alias("doc_id"), F.concat_ws(" ", *tok_cols).alias("text")
).repartition(cores * 4, "doc_id")
from splade_spark.operators.index_build import build_index
idx = {index_dir!r}
if not os.path.exists(os.path.join(idx, "stats.json")):
    build_index(docs, idx, n_segments=4, n_buckets=32)

qrows = [
    (q, " ".join(f"w{{(q * 15485863 + i * 32452843) % V}}" for i in range(4)))
    for q in range({n_queries})
]
from splade_spark.operators import index_query
from splade_spark.operators.index_query import search_fused
# profile the Spark routes: under the default limit search_fused
# answers batches whose candidate pairs fit DRIVER_POSTING_LIMIT on the
# driver, with no executor side to scale
index_query.DRIVER_POSTING_LIMIT = 0
out = {{"cores": cores, "runs": []}}
for rep in range(2):
    counts = {{}}
    t0 = time.time()
    df = search_fused(spark, idx, qrows, k=1000, debug_counts=counts)
    prep = time.time() - t0
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    ex = time.time() - t0
    out["runs"].append({{"prep_s": round(prep, 3), "exec_s": round(ex, 3),
                        "route": counts["route"]}})
print("RESULT " + json.dumps(out))
"""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=2_000_000)
    ap.add_argument("--queries", type=int, default=1024)
    ap.add_argument("--levels", default="8,32")
    ap.add_argument("--index-dir", default="/tmp/qpsprof_idx")
    ap.add_argument(
        "--conf",
        action="append",
        default=[],
        help="extra spark conf k=v (e.g. spark.sql.adaptive.enabled=false)",
    )
    args = ap.parse_args()
    extra = dict(kv.split("=", 1) for kv in args.conf)
    results = []
    for cores in (int(c) for c in args.levels.split(",")):
        code = WORKER.format(
            repo=REPO,
            cores=cores,
            n_docs=args.docs,
            n_queries=args.queries,
            index_dir=args.index_dir,
            extra_conf=extra,
        )
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
        r = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True,
            env=env, timeout=3000,
        )
        for line in r.stdout.splitlines():
            if line.startswith("RESULT "):
                d = json.loads(line[7:])
                results.append(d)
                print(json.dumps(d), flush=True)
                break
        else:
            sys.stderr.write(r.stdout[-1500:] + r.stderr[-3000:])
            raise RuntimeError(f"no RESULT at cores={cores}")
    if len(results) == 2:
        a, b = results
        w = lambda d: d["runs"][1]["prep_s"] + d["runs"][1]["exec_s"]
        eff = (args.queries / w(b)) / (args.queries / w(a)) / (
            b["cores"] / a["cores"]
        )
        print(json.dumps({
            "warm_eff": round(eff, 3),
            "warm_qps": {d["cores"]: round(args.queries / w(d), 1) for d in results},
        }))


if __name__ == "__main__":
    main()
