"""Driver/Spark crossover of ``search_maxscore_fused``'s answer route.

After pruning, ``search_maxscore_fused`` answers on the driver when its
driver work (retained postings of each query's terms, summed over
queries) is at most ``driver_posting_limit``, and runs one Spark job
otherwise. This sweep times BOTH routes on the same query batches —
the driver route forced with an unbounded limit, the Spark route with
``driver_posting_limit=0`` — and prints each cell's ``driver_work``
next to both walls. Every cell also asserts the two routes return
identical rows.

Corpus and queries come from the benchmark's seeded generators
(``perfbench/gen.py``), at ``--docs`` documents:

* ``dense``: Zipf-like corpus, head-term queries that match most docs
  (the shape where pruning keeps the most); batch size scales the work
  linearly, so the cells locate the knee in postings.
* ``selective``: uniform corpus, 4-term queries touching under 1% of
  docs; batches of 1024 and 4096 queries (what ``search_maxscore``'s
  default strategy hands over) measure the driver loop's per-query
  fixed cost.

Each route is timed twice: ``local`` returns pandas (``as_local=True``,
the serving return) and ``relation`` returns a Spark DataFrame and
counts it (what ``search_maxscore`` callers get).

Usage: python scripts/driver_crossover_bench.py --workload dense|selective
         [--docs 30000] [--batches 1,4,16,64] [--cores 4]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

K = 1000
REPS = 3  # best-of per route and return mode
SEED = 7
UNBOUNDED = 1 << 62


def main() -> None:
    from perfbench.gen import WORKLOADS, _corpus, _rng, query_pool

    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), default="dense")
    ap.add_argument("--docs", type=int, default=30_000)
    ap.add_argument("--batches", default="1,4,16,64")
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args()
    w = WORKLOADS[args.workload]

    from splade_spark.operators.index_build import build_index
    from splade_spark.operators.maxscore import search_maxscore_fused
    from splade_spark.session import get_spark

    spark = get_spark(app="driver-crossover", cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    idx = tempfile.mkdtemp(prefix="drvx_")
    docs = _corpus(w, _rng(w, SEED, "base"), 0, args.docs).frame()
    salt = {} if w.salt_unit is None else {"salt_unit": w.salt_unit}
    build_index(spark.createDataFrame(docs), idx, **salt)
    pool = [row for batch in query_pool(w, SEED) for row in batch]

    def best(qs, limit, as_local):
        walls, counts = [], {}
        for _ in range(REPS):
            t0 = time.perf_counter()
            got = search_maxscore_fused(
                spark, idx, qs, k=K, debug_counts=counts,
                driver_posting_limit=limit, as_local=as_local,
            )
            n = len(got) if as_local else got.count()
            walls.append(time.perf_counter() - t0)
        return round(min(walls) * 1e3, 1), counts, got, n

    batches = [int(b) for b in args.batches.split(",")]
    best(pool[: batches[0]], 0, True)  # warm the Spark route's first-use cost
    cells = []
    for B in batches:
        qs = pool[:B]
        assert len(qs) == B, f"the {w.name} query pool holds {len(pool)} queries"
        cell = {"batch": B}
        rows = {}
        for route, limit in (("driver", UNBOUNDED), ("spark", 0)):
            ms, counts, got, _ = best(qs, limit, True)
            assert counts["route"] == route, counts
            rows[route] = got.sort_values(["qid", "rank"]).reset_index(drop=True)
            cell.update(driver_work=counts["driver_work"], blocks_kept=counts["blocks_kept"])
            cell[f"{route}_local_ms"] = ms
            cell[f"{route}_relation_ms"], _, _, n = best(qs, limit, False)
            assert n == len(got), (route, n, len(got))
        assert rows["driver"].equals(rows["spark"]), B
        cell["rows"] = len(rows["driver"])
        cells.append(cell)
        print(json.dumps(cell), flush=True)
    print(json.dumps({"workload": w.name, "docs": args.docs, "cores": args.cores, "sweep": cells}))
    spark.stop()
    shutil.rmtree(idx, ignore_errors=True)


if __name__ == "__main__":
    main()
