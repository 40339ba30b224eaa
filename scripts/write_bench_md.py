"""Assemble BENCH/BASELINE.md from scripts/scaling_bench.py output(s).

Usage:
  python scripts/write_bench_md.py out1.json [out2.json ...] [--bench bench.json]

Each positional JSON is one scaling_bench run (its levels are merged;
same sf_dir/replication expected). --bench adds bench.py's per-query
table. Pairwise N->4N efficiencies are computed from the merged level
map; the hardware-calibration section documents the box's SMT ceiling
so the chosen N is interpretable.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _burn(n: int) -> int:
    s = 0
    for i in range(n):
        s += i * i
    return s


def calibrate() -> dict[int, float]:
    """Raw-CPU parallel throughput (procs/sec of a fixed busy loop) at
    1/2/8/32 procs — establishes what the hardware itself can scale."""
    out = {}
    for procs in (1, 2, 8, 32):
        t0 = time.time()
        with mp.Pool(procs) as p:
            p.map(_burn, [20_000_000] * procs)
        out[procs] = round(procs / (time.time() - t0), 2)
    return out


def qp_tokens(level: dict) -> int:
    return level.get("tokens_per_doc", 32)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("scaling_json", nargs="+")
    ap.add_argument("--bench")
    ap.add_argument(
        "--prune",
        action="append",
        default=[],
        help="scripts/maxscore_prune_bench.py output JSON (repeatable)",
    )
    ap.add_argument(
        "--headroom",
        action="append",
        default=[],
        help="scaling_bench output at a LARGER replication (data-size "
        "headroom row; repeatable)",
    )
    ap.add_argument(
        "--probes",
        help="scripts/scale_probes.py output (JSONL, one line per probe)",
    )
    ap.add_argument(
        "--qps",
        action="append",
        default=[],
        help="scripts/batch_qps_bench.py output JSON; repeatable — "
        "first = per-level fresh builds, later = larger batches on a "
        "shared index (serial-floor amortization)",
    )
    ap.add_argument("--codec", help="scripts/codec_size_bench.py output JSON")
    ap.add_argument("--drain", help="scripts/append_drain_bench.py output JSON")
    ap.add_argument("--no-calibrate", action="store_true")
    args = ap.parse_args()

    levels: dict[int, dict] = {}
    sf_dir, rep = None, None
    for path in args.scaling_json:
        with open(path) as f:
            run = json.load(f)
        sf_dir, rep = run["sf_dir"], run["replication"]
        for k, v in run["levels"].items():
            levels[int(k)] = v
    keys = sorted(levels)

    bench = None
    if args.bench:
        with open(args.bench) as f:
            bench = json.load(f)

    cal = {} if args.no_calibrate else calibrate()

    lines = [
        "# BENCH — measured performance & scaling evidence",
        "",
        "North rule: indexing throughput must scale from N to 4N executors at",
        ">= 0.8 efficiency. No real cluster exists in this sandbox, so (per",
        "driver instruction) the evidence is the SAME job on the SAME input in",
        "fresh JVMs at multiple `local[N]` parallelism levels.",
        "",
        "## Measured levels",
        "",
        f"Input: `{sf_dir}` documents amplified deterministically {rep}x",
        "(doc_id = orig*rep + r, text unchanged) = "
        f"{levels[keys[0]]['n_docs']:,} docs, so the job is compute-bound,",
        "not overhead-bound. Harness: `scripts/scaling_bench.py` (fresh",
        "subprocess per level; full segment build + finalize, best-of-2;",
        "batch retrieval k=1000, best-of-2 — the first batch also pays",
        "codegen JIT + python-worker spawn; 12 sequential single-query",
        "runs for latency).",
        "",
        "| metric | " + " | ".join(f"local[{c}]" for c in keys) + " |",
        "|---|" + "---|" * len(keys),
    ]

    def row(label, fmt, key):
        vals = " | ".join(fmt.format(levels[c][key]) for c in keys)
        lines.append(f"| {label} | {vals} |")

    row("index build wall (s)", "{}", "build_wall_sec")
    row("**index docs/sec**", "**{:,}**", "docs_per_sec")
    row("batch query wall (s)", "{}", "batch_query_wall_sec")
    row("queries/sec (batch)", "{}", "queries_per_sec")
    row("single-query p50 (s)", "{}", "query_p50_sec")
    row("single-query p99 (s)", "{}", "query_p99_sec")
    if all("query_maxscore_p50_sec" in levels[c] for c in keys):
        row("single-query p50, Block-Max fused (s)", "{}", "query_maxscore_p50_sec")
        row("single-query p99, Block-Max fused (s)", "{}", "query_maxscore_p99_sec")
        lines += [
            "",
            "(The Block-Max rows can only TIE-or-lose here: replicated docs",
            "equalize every block max, so pruning cannot fire on this corpus",
            "and the fused path pays its driver passes for nothing. The",
            "pruning section below shows the regime it exists for. The",
            "batch-q/s row is dense-match — the 31-term vocabulary makes",
            "every query match all 4M docs; since round 4 `search_fused`",
            "auto-routes this regime to the DOC-MAJOR plan (postings",
            "shuffled once into doc-range shards, local dense-accumulator",
            "scoring, only per-partition top-ks emitted), which is what the",
            "batch and single-query rows above measure. Its one exchange",
            "moves ~12 bytes/posting for EVERY posting of the batch's",
            "terms — ~1.5 GB here (124M postings) — so the dense batch is",
            "heavily shuffle-bandwidth-bound: 8->32 cores buys 1.37x, not",
            "4x (page-cache shuffle bandwidth grows little with cores; on",
            "a real cluster the exchange fans out across machines'",
            "disks/NICs instead). The selective-vocabulary",
            "section below is the honest q/s number",
            "for sparse-match workloads.)",
        ]

    lines += ["", "### N -> 4N efficiency (index docs/sec)", ""]
    for lo, hi in [(a, b) for a in keys for b in keys if b == 4 * a]:
        sp = levels[hi]["docs_per_sec"] / levels[lo]["docs_per_sec"]
        eff = sp / (hi / lo)
        verdict = "**meets the >= 0.8 target**" if eff >= 0.8 else "below 0.8 — see hardware ceiling"
        lines.append(
            f"- local[{lo}] -> local[{hi}]: speedup {sp:.2f}x, "
            f"efficiency **{eff:.3f}** ({verdict})"
        )

    if args.headroom:
        lines += [
            "",
            "### Data-size headroom (fixed cores, growing corpus)",
            "",
            "The other axis of the 100 TB question: hold parallelism fixed",
            "and grow the input. Build throughput should stay ~flat if the",
            "plan is shuffle- and memory-linear (no driver-side state, no",
            "accumulating skew):",
            "",
            "| corpus docs | build wall (s) | build docs/sec | vs 4M-doc row |",
            "|---|---|---|---|",
        ]
        ref32 = levels.get(32, {}).get("docs_per_sec")
        for hf in args.headroom:
            with open(hf) as f:
                hd = json.load(f)
            for c, lv in sorted(hd["levels"].items(), key=lambda kv: int(kv[0])):
                rel = (
                    f"{lv['docs_per_sec'] / ref32:.2f}x" if ref32 else "—"
                )
                lines.append(
                    f"| {lv['n_docs']:,} (local[{c}]) | {lv['build_wall_sec']} |"
                    f" {lv['docs_per_sec']:,} | {rel} |"
                )
        if ref32:
            lines.append(
                f"| 4,000,000 (local[32]) | {levels[32]['build_wall_sec']} |"
                f" {ref32:,} | 1.00x |"
            )
        lines += [
            "",
            "Per-doc throughput RISES 1.27x at 4x the data — per-job fixed",
            "costs amortize and nothing superlinear appears. This run also",
            "caught a real scale bug: the 16M corpus's hottest term spans",
            ">128 salt units, overflowing the old int32 block_id",
            "(= salt * 2^24 + seq); block_id is long now — see",
            "tests/test_index_build.py::test_block_id_beyond_int32.",
            "",
            "Query-side headroom (selective fixture, local[32], 2M -> 8M",
            "docs, so every term's df and each query's candidate set grow",
            "4x): 1024-batch wall 1.82 s -> 4.11 s (2.26x for 4x the",
            "candidate mass — sublinear, the shuffle amortizes), build",
            "40.8k -> 65.3k docs/s (rises again), single-query fused p50",
            "flat (0.54 -> 0.46 s). Only maxscore_fused's single-query p50",
            "grows (0.45 -> 0.91 s): this fixture has uniform impacts, so",
            "pruning retains ALL blocks and the driver-side fetch scales",
            "with df — by design the fused path's regime is skewed corpora",
            "(pruning table: 0.02% blocks kept) and the cluster paths carry",
            "the no-skew case (BENCH/qps_8m.json).",
        ]

    if cal:
        base = cal.get(1, 1.0)
        lines += [
            "",
            "## Hardware calibration (why N=2 is the honest N)",
            "",
            "Raw-CPU scaling of a pure busy loop (multiprocessing, no Spark, no",
            "I/O) on this box — the ceiling ANY software can reach:",
            "",
            "| procs | aggregate throughput (xN of 1-proc) | parallel efficiency |",
            "|---|---|---|",
        ]
        for procs, thr in sorted(cal.items()):
            lines.append(
                f"| {procs} | {thr / base:.2f}x | {thr / base / procs:.2f} |"
            )
        e8 = cal.get(8, 0) / base / 8 if base else 0
        e32 = cal.get(32, 0) / base / 32 if base else 0
        lines += [
            "",
            f"1→8 procs scale near-perfectly (eff {e8:.2f}), but 32 procs reach",
            f"only {e32:.2f} efficiency: the box exposes 32 hyperthreads on ~16",
            "physical cores, so a 4x step ENDING above ~8-16 busy threads is",
            "capped by SMT/memory bandwidth, not by our plan. The",
            "local[2]→local[8] pair is therefore the faithful stand-in for",
            "N→4N *executors* (real executors add machines — they do not share",
            "one socket's execution ports); the local[8]→local[32] pair is",
            "reported too, with this ceiling as context.",
        ]

    lines += [
        "",
        "## vs reference baseline (BASELINE.md)",
        "",
        "| metric | reference | this repo |",
        "|---|---|---|",
        f"| index throughput | ~250 docs/s/GPU (A40, batch 128) | "
        f"{levels[keys[-1]]['docs_per_sec']:,} docs/s on local[{keys[-1]}] CPU |",
        f"| query latency | ~12-13 q/s batch-1 (GPU encode + numba) | "
        "p50 66 ms single query served via the fused MaxScore driver "
        "path (`as_local=True`, selective corpus — ~15 q/s sequential "
        "from one process; core-count-independent); "
        f"p50 {levels[keys[-1]]['query_p50_sec']} s through a full Spark "
        "job on the dense worst-case corpus |",
        "| retrieval depth | k=1000, threshold 0 | same (rank-identical, tested) |",
        "",
    ]

    if args.prune:
        lines += [
            "## MaxScore / Block-Max pruning evidence (skewed corpus)",
            "",
            "The replicated scaling corpus equalizes block maxima, so pruning",
            "can't fire there. `scripts/maxscore_prune_bench.py` builds a",
            "corpus with the skew pruning exploits (doc-length variation +",
            "tf-heavy candidate docs — the BM25 analog of SPLADE's",
            "impact-weight skew) and runs TWO queries: the timed 11-term",
            "query (rare champion + 10 mid-df terms; its retained set",
            "collapses to the blocks covering the tf-heavy candidate docs)",
            "and a 10-term block-max query without the champion, whose",
            "retained set is driven by BLOCK MAXIMA — the layout-sensitive",
            "mechanism. Both are asserted lossless vs exhaustive on every",
            "run (the block-max query caught a knife-edge retain bug:",
            "PRUNE_EPS in operators/maxscore.py).",
            "",
        ]
        prs = []
        for path in args.prune:
            with open(path) as f:
                prs.append(json.load(f))
        hdr = " | ".join(
            f"{pr['docs']:,} docs"
            + (f" ({pr['layout']})" if "layout" in pr else "")
            for pr in prs
        )
        lines += [
            f"| metric | {hdr} |",
            "|---|" + "---|" * len(prs),
        ]

        def prow(label, fmt, key, bold=False):
            cells = " | ".join(
                (f"**{fmt.format(pr[key])}**" if bold else fmt.format(pr[key]))
                for pr in prs
            )
            lines.append(f"| {label} | {cells} |")

        prow("blocks total (per-query-term)", "{:,}", "blocks_total")
        lines.append(
            "| blocks kept after pruning | "
            + " | ".join(
                f"{pr['blocks_kept']:,} ({pr['kept_frac']:.2%})" for pr in prs
            )
            + " |"
        )
        prow("`search_fused` (exhaustive, 2-stage) best wall (s)", "{}", "exhaustive_fused_best_s")
        prow("`search_maxscore_fused` (driver-side passes) best wall (s)", "{}", "maxscore_fused_best_s", bold=True)
        if all("maxscore_serve_best_s" in pr for pr in prs):
            prow(
                "`as_local=True` serving best wall (s) — result identity asserted",
                "{}",
                "maxscore_serve_best_s",
                bold=True,
            )
        prow("`search` (exhaustive DataFrame) best wall (s)", "{}", "exhaustive_best_s")
        if all("pruned_bytes_frac" in pr for pr in prs):
            prow("parquet row groups (query-term buckets)", "{:,}", "rg_count")
            lines.append(
                "| row groups surviving the retained-pass fetch | "
                + " | ".join(f"{pr['rg_survived']['retained']:,}" for pr in prs)
                + " |"
            )
            prow("exhaustive scan bytes (row-group accounted)", "{:,}", "exhaustive_rg_bytes")
            lines.append(
                "| pruned payload bytes (scales with blocks kept) | "
                + " | ".join(
                    f"**{pr['pruned_payload_rg_bytes']:,}**"
                    f" ({pr['pruned_payload_bytes_frac']:.1%})"
                    for pr in prs
                )
                + " |"
            )
            lines.append(
                "| + block-metadata working set (read once per batch) | "
                + " | ".join(
                    f"{pr['pruned_meta_rg_bytes']:,}"
                    f" (total {pr['pruned_bytes_frac']:.1%})"
                    for pr in prs
                )
                + " |"
            )
        if all("blockmax_query" in pr for pr in prs):
            lines.append(
                "| block-max query: blocks kept | "
                + " | ".join(
                    f"{pr['blockmax_query']['blocks_kept']:,}"
                    f" ({pr['blockmax_query']['kept_frac']:.2%})"
                    for pr in prs
                )
                + " |"
            )
            lines.append(
                "| block-max query: row groups surviving retained pass | "
                + " | ".join(
                    f"{pr['blockmax_query']['rg_survived']['retained']:,}"
                    f" of {pr['blockmax_query']['rg_count']:,}"
                    for pr in prs
                )
                + " |"
            )
            lines.append(
                "| block-max query: pruned payload bytes | "
                + " | ".join(
                    f"**{pr['blockmax_query']['pruned_payload_rg_bytes']:,}**"
                    f" ({pr['blockmax_query']['pruned_payload_bytes_frac']:.1%})"
                    for pr in prs
                )
                + " |"
            )
        lines += [
            "| results vs exhaustive | " + " | ".join("identical (lossless, asserted)" for _ in prs) + " |",
            "",
            "Byte accounting replays parquet's row-group statistics filter",
            "over the REAL footers (pyarrow) against the literal",
            "(term_id, block_id) pair set the live search retained",
            "(`search_maxscore_fused` `debug_counts[\"retained_pairs\"]`),",
            "summing surviving row",
            "groups' compressed column-chunk sizes for the columns each scan",
            "projects. Spark's stage `inputBytes` is NOT usable for this on",
            "local[*]: a probe showed it attributes only footer reads (an",
            "impossible pushed filter and a full-table scan reported",
            "byte-identical totals), so it cannot tell a pruned scan from an",
            "exhaustive one. Row groups are written at 16 KB here so a",
            "query term spans many groups — the at-scale shape (a hot term",
            "at 10^12 docs spans thousands of 8 MB groups).",
            "",
            "The 'clustered' layout is quality/length-ordered docID",
            "assignment (standard web-IR docID reassignment; crawl/site",
            "locality gives the same effect): hot blocks cluster, the",
            "retained-set literal filter skips everything else, and pruned",
            "payload bytes track blocks KEPT. The 'scattered' layout",
            "(doc-length cycling faster than a row group) is the honest",
            "negative control: pruning drops the same block fraction but",
            "every row group contains a hot block, so no stats granularity",
            "can skip — the measured reason docID assignment (or BMP's",
            "doc-partitioned layout) matters at 100 TB. The block-metadata",
            "working set (the columns MaxScore prunes on) is read ONCE per",
            "query batch by the fused planner's driver-side pyarrow pass",
            "and amortizes across the batch.",
            "",
            "Timed rows run on the production 8 MB-row-group build (the",
            "accounting build's tiny groups would inflate the fused",
            "planner's driver metadata passes). The FUSED path wins",
            "outright at both sizes (2.4-2.9x over exhaustive fused): its",
            "driver-side passes stay metadata-scale — the summed guard",
            "admits up to ~1M block-metadata rows (~40 MB Arrow) before",
            "falling back, with the per-term cap as the true skew guard",
            "(a 10^12-doc stopword is ~10^8 blocks and never",
            "materializes). Its driver fast path answers with zero",
            "cluster jobs while the retained postings of each query's",
            "terms, summed over queries, fit DRIVER_POSTING_LIMIT; past",
            "it one pruned Spark scan reads only the retained blocks.",
            "",
        ]

    if args.codec:
        with open(args.codec) as f:
            cz = json.load(f)
        lines += [
            "## Posting-block codec footprint",
            "",
            f"`scripts/codec_size_bench.py` at `{cz['sf_dir']}`"
            f" ({cz['n_postings']:,} postings); bytes are the whole",
            "bucket-partitioned parquet postings dir (snappy on top of the",
            "block encodings).",
            "",
            "| layout | bytes | bytes/posting |",
            "|---|---|---|",
            f"| VByte gaps + float64 + uint8 impacts (default) | {cz['vbyte_postings_bytes']:,} | {cz['vbyte_bytes_per_posting']} |",
            f"| bit-packed gaps + float64 + uint8 impacts | {cz['bitpack_postings_bytes']:,} | {cz['bitpack_bytes_per_posting']} |",
            f"| bit-packed gaps + uint8 impacts only (PISA-shaped) | {cz['bitpack_qonly_postings_bytes']:,} | **{cz['bitpack_qonly_bytes_per_posting']}** |",
            "",
            "The float64 impact payload exists for hash-exact float scoring",
            "parity; production indexes that score on quantized impacts",
            "(`search_fused(quantized=True)`, the PISA arithmetic) drop it with",
            "`store_impacts=False` for ~2.2x smaller postings.",
            "",
        ]

    if args.qps:
        with open(args.qps[0]) as f:
            qp = json.load(f)
        lvls = {int(k): v for k, v in qp["levels"].items()}
        qkeys = sorted(lvls)
        any_l = lvls[qkeys[0]]
        lines += [
            "## Batch query throughput — selective-vocabulary corpus",
            "",
            "The replicated scaling corpus has a ~31-term vocabulary, so every",
            "query matches every document and batch q/s degenerates to",
            "exhaustive scoring (fixture-bound). `scripts/batch_qps_bench.py`",
            f"draws each doc's {qp_tokens(any_l)} tokens pseudo-randomly from a",
            f"{any_l['vocab']:,}-term vocabulary (multiplicative doc_id hashing,",
            "deterministic), so a 4-term query touches ~0.26% of the corpus —",
            "the regime an inverted index exists for. One index is built and",
            "REUSED across levels (the dictionary-driven range write makes the",
            "postings layout build-parallelism-independent — verified: a warm",
            "1024-batch runs in 1.8s on the local[2]-built index vs 2.0s on",
            "the local[32]-built one, same JVM), so every level queries the",
            "IDENTICAL on-disk input; a discarded 64-query warmup precedes the",
            "timed batch and the batch runs twice (best-of-2, like the",
            "build bench) so the number is steady-state serving throughput,",
            "not first-job JVM/codegen warmup (~8s, once per process).",
            "Process-to-process variance on this box is ~20-30% (JIT depth,",
            "page-cache state), so each level's row is the best over the",
            "repeated fresh-process runs (levels are independent JVMs — see",
            "batch_walls_all / process_runs_per_level in BENCH/qps*.json):",
            "",
            "| metric | " + " | ".join(f"local[{c}]" for c in qkeys) + " |",
            "|---|" + "---|" * len(qkeys),
            "| corpus docs | " + " | ".join(f"{lvls[c]['n_docs']:,}" for c in qkeys) + " |",
            "| batch queries | " + " | ".join(str(lvls[c]["n_queries"]) for c in qkeys) + " |",
            "| batch wall (s) | " + " | ".join(str(lvls[c]["batch_query_wall_sec"]) for c in qkeys) + " |",
            "| **queries/sec** | " + " | ".join(f"**{lvls[c]['queries_per_sec']}**" for c in qkeys) + " |",
        ]
        if any("single_fused_p50_sec" in lvls[c] for c in qkeys) :
            def _sv(c, key):
                v = lvls[c].get(key)
                return str(v) if v is not None else "—"
            lines += [
                "| single-query p50 / p99, `search_fused` (s) | "
                + " | ".join(
                    f"{_sv(c, 'single_fused_p50_sec')} / {_sv(c, 'single_fused_p99_sec')}"
                    for c in qkeys
                )
                + " |",
                "| single-query p50 / p99, `search_maxscore_fused` (s) | "
                + " | ".join(
                    f"{_sv(c, 'single_maxscore_fused_p50_sec')} / {_sv(c, 'single_maxscore_fused_p99_sec')}"
                    for c in qkeys
                )
                + " |",
                "| single-query p50 / p99, `as_local=True` serving (s) | "
                + " | ".join(
                    f"{_sv(c, 'single_maxscore_local_p50_sec')} / {_sv(c, 'single_maxscore_local_p99_sec')}"
                    for c in qkeys
                )
                + " |",
                "",
                "(Single-query rows are the sparse-match SERVING shape —",
                "sequential, driver-resident, result fetched to pandas;",
                "the scaling table's replicated-corpus latency rows are the",
                "dense worst case where every query matches all docs. The",
                "fused MaxScore path answers entirely driver-side — zero",
                "cluster jobs — while the retained postings of each query's",
                "terms, summed over queries, fit DRIVER_POSTING_LIMIT; with the",
                "bucket partition-dir pruned pyarrow fetches its p50 beats",
                "the exhaustive fused plan; the residual ~0.4s of the",
                "Spark-API rows is the createDataFrame -> collect round",
                "trip, not retrieval work — `as_local=True` returns the",
                "identical rows as pandas and is the serving number.)",
            ]
        lines += [
            "",
        ]
        for lo, hi in [(a, b) for a in qkeys for b in qkeys if b == 4 * a]:
            sp = lvls[hi]["queries_per_sec"] / lvls[lo]["queries_per_sec"]
            eff = sp / (hi / lo)
            lines.append(
                f"- q/s local[{lo}] -> local[{hi}]: speedup {sp:.2f}x,"
                f" efficiency **{eff:.3f}**"
            )
        lines += [
            "",
            "(Reference baseline: ~12-13 q/s batch-1 on an A40. The same",
            "SMT/bandwidth ceiling as the index side applies: the",
            "local[2]->local[8] pair is the faithful N->4N stand-in; the",
            "8->32 step ends above the box's physical-core budget.)",
            "",
        ]
        for extra in args.qps[1:]:
            with open(extra) as f:
                qp2 = json.load(f)
            l2 = {int(k): v for k, v in qp2["levels"].items()}
            k2 = sorted(l2)
            nq = l2[k2[0]]["n_queries"]
            lines += [
                f"### Large-batch amortization ({nq:,} queries, shared index)",
                "",
                "A query batch has a serial driver floor (predicate",
                "construction + Catalyst/codegen, ~1s — measured via the",
                "in_literals fix, commit history) that no cluster size",
                "removes; at 1,024 queries it caps 8->32 scaling. The same",
                "bench at a larger batch on ONE shared index (layout is",
                "build-parallelism-independent, so reuse is sound):",
                "",
                "| metric | " + " | ".join(f"local[{c}]" for c in k2) + " |",
                "|---|" + "---|" * len(k2),
                "| batch wall (s) | "
                + " | ".join(str(l2[c]["batch_query_wall_sec"]) for c in k2)
                + " |",
                "| **queries/sec** | "
                + " | ".join(f"**{l2[c]['queries_per_sec']}**" for c in k2)
                + " |",
                "",
            ]
            for lo, hi in [(a, b) for a in k2 for b in k2 if b == 4 * a]:
                sp = l2[hi]["queries_per_sec"] / l2[lo]["queries_per_sec"]
                lines.append(
                    f"- q/s local[{lo}] -> local[{hi}]: speedup {sp:.2f}x,"
                    f" efficiency **{sp / (hi / lo):.3f}**"
                )
            lines.append("")

    # 1024-batch driver-floor profile, if archived
    prof_dir = os.path.join(REPO, "BENCH")
    if os.path.exists(os.path.join(prof_dir, "qps_profile_aqe.jsonl")):
        lines += [
            "### Mid-size (1,024) batch floor — measured profile"
            " (scripts/qps_profile.py)",
            "",
            "Per level: prep = driver-only (tokenize, term_dict pyarrow",
            "read, predicate + plan build), exec = the action; run 1 cold,",
            "run 2 warm. 2M docs / 50k vocab, k=1000",
            "(BENCH/qps_profile_*.jsonl):",
            "",
            "| config | l8 warm prep+exec | l32 warm prep+exec | warm eff |",
            "|---|---|---|---|",
            "| AQE on (default) | 0.36 + 3.31 s | 0.38 + 2.30 s | 0.342 |",
            "| AQE off | 0.48 + 3.80 s | 0.40 + 2.11 s | 0.425 |",
            "| single query (fixed pipeline cost) | 0.24 + 0.49 s |"
            " 0.31 + 0.63 s | — |",
            "",
            "Attribution: the floor is NOT predicate/plan construction",
            "(prep is ~0.4 s and FLAT across levels — the in_literals fix",
            "holds) and NOT AQE re-planning (±0.2 s either way). It is the",
            "per-batch FIXED pipeline cost — stage scheduling + Python",
            "worker dispatch across the 4-stage plan — measured directly",
            "as the warm single-query exec (0.49 s at l8, 0.63 s at l32:",
            "it GROWS with task count), plus the box's SMT ceiling on the",
            "data work (pure-CPU calibration 0.77 at 32 procs). Removing",
            "the fixed cost from the 1,024-batch walls leaves data-work",
            "scaling of 2.82 s -> 1.67 s (1.7x of the 4x cores, consistent",
            "with the SMT ceiling on a shuffle-heavy profile). The fix is",
            "amortization, not plan surgery: at 4,096 queries the same",
            "pipeline amortizes the floor 4x further (table above); cold",
            "run 1 pays a one-time 3-6 s worker-spawn + JIT cost a serving",
            "session never repeats. Concurrent sub-batches — the other",
            "candidate fix — were measured and LOSE: splitting the warm",
            "1,024 batch into 2/4/8 parallel search_fused jobs (threads,",
            "one SparkContext) gives 1.71/2.41/3.84 s vs 1.49 s for the",
            "single job at local[32] — the fused batch already saturates",
            "the cores, so extra jobs only add scheduling overhead.",
            "",
        ]

    # doc-major/term-major crossover sweep, if archived
    xfiles = sorted(
        os.path.join(REPO, "BENCH", f)
        for f in os.listdir(os.path.join(REPO, "BENCH"))
        if f.startswith("docmajor_crossover")
    ) if os.path.isdir(os.path.join(REPO, "BENCH")) else []
    cells = []
    for xf in xfiles:
        with open(xf) as f:
            for line in f:
                line = line.strip()
                if line.startswith('{"vocab"'):
                    cells.append(json.loads(line))
    if cells:
        cells.sort(key=lambda c: (c["ratio"], c["batch"]))
        lines += [
            "## Doc-major / term-major crossover"
            " (scripts/docmajor_crossover_bench.py)",
            "",
            "1M docs, vocabulary shrunk to raise per-term df; ratio =",
            "dictionary-estimated candidate pairs / doc-major's emission",
            "bound (n_parts x n_queries x k). The plans cross at ratio ~1 —",
            "where the two row bounds cross, as the cost model predicts —",
            "so `DOC_MAJOR_FACTOR = 1` (was 8, from a single ratio-850",
            "point).",
            "",
            "| ratio | df | batch | term-major s | doc-major s | winner |",
            "|---|---|---|---|---|---|",
        ]
        lines += [
            f"| {c['ratio']} | {c['df_est']:,} | {c['batch']} |"
            f" {c['term_s']} | {c['doc_s']} | **{c['winner']}** |"
            for c in cells
        ]
        lines.append("")

    if args.probes:
        cells = []
        with open(args.probes) as f:
            for line in f:
                line = line.strip()
                if line.startswith('{"probe"'):
                    cells.append(json.loads(line))
        if cells:
            lines += [
                "## Scale-probe campaign (scripts/scale_probes.py)",
                "",
                "Every subsystem run at >= 4x its benched size, asserting",
                "completion + correctness — the harness that caught the",
                "int32 block_id overflow (16M-doc build failure, fixed) and",
                "the LSH duplicate-cluster pair blow-up (1M docs in",
                "1000-clone clusters -> 499.5M uncapped candidate pairs;",
                "bucket_cap added across minhash/simhash/embedding pair",
                "generators). Correctness tests prove semantics at small SF;",
                "these prove the same code paths survive the data growing.",
                "",
                "| probe | wall (s) | detail |",
                "|---|---|---|",
            ]
            for c in cells:
                detail = ", ".join(
                    f"{k}={v}" for k, v in c.items() if k not in ("probe", "wall_s")
                )
                lines.append(f"| {c['probe']} | {c['wall_s']} | {detail} |")
            lines.append("")

    if args.drain:
        with open(args.drain) as f:
            dr = json.load(f)
        lines += [
            "## Continuous ingestion — drain-frequency economics",
            "",
            f"`scripts/append_drain_bench.py`: base index of"
            f" {dr['base_docs']:,} synthetic docs (50k-term vocabulary,"
            f" build {dr['base_build_s']} s at local[{dr['cores']}]), then"
            " one `append_index` per drained fraction vs a full rebuild of",
            "the union. Finalize rewrites ALL postings (BM25 stats are",
            "global), so append cost is dominated by index size, not drain",
            "size — stage A (tokenize/encode, the dominant cost with a real",
            "neural encoder) is the only per-new-doc part:",
            "",
            "| drained fraction | new docs | append wall (s) | full rebuild (s) | append/rebuild |",
            "|---|---|---|---|---|",
        ]
        for f_ in dr["fracs"]:
            lines.append(
                f"| {f_['frac']:.0%} | {f_['new_docs']:,} |"
                f" {f_['append_wall_s']} | {f_['full_rebuild_wall_s']} |"
                f" {f_['append_vs_rebuild']} |"
            )
        lines += [
            "",
            "Guidance (MIGRATION.md): with a cheap tokenizer the append's",
            "finalize floor makes FREQUENT small drains uneconomical —",
            "batch drains so the drained fraction is a meaningful share of",
            "the index, or accept ~rebuild cost per drain. With a neural",
            "encoder (the reference's regime, ~250 docs/s/GPU) stage A",
            "dominates and the append's skip-committed-segments resume is",
            "the win that matters.",
            "",
            "Scale probe: appending 2M docs onto a 2M-doc index at",
            "local[32] takes 31.9 s vs 31.3 s for the base build — the",
            "documented parity (finalize rewrites all postings; global",
            "BM25 stats), with correct merged stats (n_docs=4M) and a",
            "sub-second search over the appended index.",
            "",
        ]

    if bench:
        lines += [
            f"## Per-query suite (bench.py, sf={bench['sf']}, local[{bench['cpus']}])",
            "",
            f"Total {bench['value']} s. Un-amplified input — fixed per-job",
            "overhead dominates at this SF; the amplified table above is the",
            "throughput evidence.",
            "",
            "| query | sec |",
            "|---|---|",
        ]
        lines += [f"| {k} | {v} |" for k, v in sorted(bench["queries"].items())]
        lines += [
            "",
            "Round-5 notes: the contract is curated to EXACTLY 50",
            "oracle-checked entries (per-query metrics folded into",
            "`eval_metrics`; `qrels_graded` and the redundant k=10",
            "`bm25_topk` retired; `index_search_appended` — build even",
            "half, append odd half, search — is new and the most expensive",
            "row by construction: two finalizes). `index_search_maxscore_",
            "k1000` runs MaxScore's pruned Spark scan",
            "(`driver_posting_limit=0`).",
            "",
            "### r3->r4 suite-drift attribution (BENCH/drift/*.json)",
            "",
            "Round 4 left ~20 untouched entries 1.2-1.4x slower without a",
            "named cause. Controlled A/B this round (same machine, same",
            "hour, interleaved runs, best-of-2, sf0.1/local[32]):",
            "",
            "- config suspects EXONERATED: arrow.maxRecordsPerBatch",
            "  131072 -> 10000 made the suite ~5.6s SLOWER, driver heap",
            "  32g -> 16g ~5.8s SLOWER (the r4 session changes help, not",
            "  hurt).",
            "- r3 CODE re-run today: 70.1s (recorded) -> 72.6s on common",
            "  entries = 1.035x pure machine drift.",
            "- HEAD vs r3 code, same day, common entries: 78.8 vs 72.6 =",
            "  1.087x, of which +3.7s is the DELIBERATE relation-plan pin",
            "  and +0.9s the eval_metrics fold (which retired a 3.9s",
            "  standalone row — net win); excluding the pin: 1.038x,",
            "  within run-to-run noise.",
            "- Bottom line: HEAD total minus the three post-r3 entries",
            "  minus the pin delta = 76.7s vs r3's recorded 76.9s — the",
            "  'drift' was machine noise + deliberate plan changes, not a",
            "  regression.",
            "",
        ]

    lines += [
        "## Raw level JSON",
        "",
        "```json",
        json.dumps({str(k): levels[k] for k in keys}, indent=1),
        "```",
        "",
    ]
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    out = os.path.join(REPO, "BENCH", "BASELINE.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
