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
  docs; batches of thousands of queries (a collected query relation)
  measure the driver loop's per-query fixed cost.

* ``wide``: uniform 64-term vocabulary, 20-30 tokens per doc, so every
  term's posting list holds about a third of the docs. A batch of B
  queries splits the vocabulary between them, so the batch reads every
  posting of the index once: its distinct postings equal its
  ``driver_work``, the shape where the driver decodes the most per
  candidate posting.

Each route is timed twice: ``local`` returns pandas (``as_local=True``,
the serving return) and ``relation`` returns a Spark DataFrame and
counts it (what callers without ``as_local`` get).

``--api fused`` times ``search_fused`` batches instead: the driver route
(forced with an unbounded ``DRIVER_POSTING_LIMIT``) against the pinned
``term`` and ``doc`` Spark routes, each as pandas (``as_local=True``)
and as a relation collected with ``toPandas()`` (what ``search_fused``
callers get). ``roundtrip_ms`` is the ``createDataFrame -> toPandas``
round trip of the driver's result alone, the largest layer of the
driver relation. ``driver_work`` is the batch's ``candidate_pairs`` and
``postings_read`` the distinct postings the driver decodes.
``driver_peak_mb`` is the tracemalloc peak of one more driver call
(as pandas): Python and numpy allocations, not the Arrow pool, whose
process-lifetime peak is ``arrow_pool_peak_mb``.

Usage: python scripts/driver_crossover_bench.py --workload dense|selective|wide
         [--api maxscore|fused] [--docs 30000] [--batches 1,4,16,64] [--cores 4]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import tracemalloc

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

K = 1000
REPS = 3  # best-of per route and return mode
SEED = 7
UNBOUNDED = 1 << 62


def main() -> None:
    from perfbench.gen import WORKLOADS, Workload, _corpus, _rng, query_pool

    wide = Workload(
        name="wide", why="every posting read once per batch", vocab=64,
        len_lo=20, len_hi=30, log_uniform=False, head_terms=0, batch_size=1,
        n_batches=1, batch_share=1.0, salt_unit=None,
    )
    shapes = {**WORKLOADS, "wide": wide}
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(shapes), default="dense")
    ap.add_argument("--api", choices=("maxscore", "fused"), default="maxscore")
    ap.add_argument("--docs", type=int, default=30_000)
    ap.add_argument("--batches", default="1,4,16,64")
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args()
    w = shapes[args.workload]

    import pyarrow as pa

    from splade_spark.operators import index_query
    from splade_spark.operators.index_build import build_index
    from splade_spark.operators.index_query import search_fused
    from splade_spark.operators.maxscore import search_maxscore_fused
    from splade_spark.session import get_spark

    spark = get_spark(app="driver-crossover", cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    idx = tempfile.mkdtemp(prefix="drvx_")
    docs = _corpus(w, _rng(w, SEED, "base"), 0, args.docs).frame()
    salt = {} if w.salt_unit is None else {"salt_unit": w.salt_unit}
    build_index(spark.createDataFrame(docs), idx, **salt)
    if w is wide:
        def batch_of(B):
            # query j holds terms j, j + B, ...: the batch covers the vocabulary
            return [(j, " ".join(f"w{t}" for t in range(j, w.vocab, B))) for j in range(B)]

        warm = [(0, "w0")]
    else:
        pool = [row for batch in query_pool(w, SEED) for row in batch]

        def batch_of(B):
            # past one pool, the next seeds' pools extend it, qids continuing
            seed = SEED
            while len(pool) < B:
                seed += 1
                more = [text for batch in query_pool(w, seed) for _, text in batch]
                pool.extend([(len(pool) + i, text) for i, text in enumerate(more)])
            return pool[:B]

        warm = None

    def best(fn):
        """(best wall ms over REPS calls, last result)."""
        walls = []
        for _ in range(REPS):
            t0 = time.perf_counter()
            got = fn()
            walls.append(time.perf_counter() - t0)
        return round(min(walls) * 1e3, 1), got

    def ranked(pdf):
        return pdf.sort_values(["qid", "rank"]).reset_index(drop=True)

    def maxscore_cell(qs):
        """search_maxscore_fused: driver route vs forced Spark route."""
        cell, rows = {}, {}
        for route, limit in (("driver", UNBOUNDED), ("spark", 0)):
            counts = {}

            def run(as_local):
                return search_maxscore_fused(
                    spark, idx, qs, k=K, debug_counts=counts,
                    driver_posting_limit=limit, as_local=as_local,
                )

            cell[f"{route}_local_ms"], got = best(lambda: run(True))
            assert counts["route"] == route, counts
            rows[route] = ranked(got)
            cell.update(driver_work=counts["driver_work"], blocks_kept=counts["blocks_kept"])
            cell[f"{route}_relation_ms"], n = best(lambda: run(False).count())
            assert n == len(got), (route, n, len(got))
        return cell, rows

    def fused_cell(qs):
        """search_fused: driver route (unbounded limit) vs pinned
        term/doc routes, plus the driver relation's round trip."""
        cell, rows = {}, {}
        index_query.DRIVER_POSTING_LIMIT = UNBOUNDED
        for route in ("driver", "term", "doc"):
            counts = {}

            def run(as_local):
                return search_fused(
                    spark, idx, qs, k=K, strategy="auto" if route == "driver" else route,
                    debug_counts=counts, as_local=as_local,
                )

            cell[f"{route}_local_ms"], got = best(lambda: run(True))
            assert counts["route"] == route, counts
            rows[route] = ranked(got)
            cell.update(driver_work=counts["driver_work"], postings_read=counts["postings_read"])
            cell[f"{route}_relation_ms"], rel = best(lambda: run(False).toPandas())
            assert ranked(rel).equals(rows[route]), route
            if route == "driver":
                tracemalloc.start()
                run(True)
                cell["driver_peak_mb"] = round(tracemalloc.get_traced_memory()[1] / 2**20, 1)
                tracemalloc.stop()
        cell["roundtrip_ms"], _ = best(lambda: spark.createDataFrame(
            rows["driver"], index_query.TOPS_SCHEMA).toPandas())
        cell["arrow_pool_peak_mb"] = round(pa.default_memory_pool().max_memory() / 2**20, 1)
        return cell, rows

    cell_of = fused_cell if args.api == "fused" else maxscore_cell
    batches = [int(b) for b in args.batches.split(",")]
    cell_of(warm or batch_of(batches[0]))  # warm the Spark routes' first-use cost
    cells = []
    for B in batches:
        cell, rows = cell_of(batch_of(B))
        first = next(iter(rows.values()))
        assert all(r.equals(first) for r in rows.values()), B
        cells.append({"batch": B, **cell, "rows": len(first)})
        print(json.dumps(cells[-1]), flush=True)
    print(json.dumps({"workload": w.name, "api": args.api, "docs": args.docs,
                      "cores": args.cores, "sweep": cells}))
    spark.stop()
    shutil.rmtree(idx, ignore_errors=True)


if __name__ == "__main__":
    main()
