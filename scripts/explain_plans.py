"""Dump annotated physical plans of the headline queries -> PLANS.md.

Evidence that the declared DataFrame plans compile to the physical
strategies the 100 TB design assumes: parquet pushdown + column
pruning, broadcast joins for query terms / small dims, partial (map-
side) aggregation before the single score shuffle, AQE-coalesced
exchanges, no per-row Python in the hot path.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    txt = buf.getvalue()
    # drop the verbose per-node detail section; keep the tree + scans
    tree, _, detail = txt.partition("\n\n")
    scans = "\n".join(
        line
        for line in detail.splitlines()
        if re.search(r"PushedFilters|ReadSchema|Location: .*(documents|embeddings)", line)
    )
    return tree + ("\n\n" + scans if scans else "")


def main() -> None:
    from splade_spark.session import get_spark

    spark = get_spark(app="explain", cores=8)

    import __spark_entry__ as m

    from splade_spark.operators.index_build import build_index
    from splade_spark.operators.index_query import search_fused
    from splade_spark.sources.pages import load_documents
    from splade_spark.synth import derive_queries
    import tempfile

    sections: list[tuple[str, str, str]] = []

    sections.append((
        "bm25_topk_k1000 (logical path: tokenize → postings → broadcast join → agg → window top-k)",
        formatted(m.q_bm25_topk_k1000(spark, SF_DIR)),
        "What to check: the `documents` scan reads only (doc_id, text) "
        "(ReadSchema — column pruning through tokenize); q_terms enters via "
        "BroadcastExchange + BroadcastHashJoin (never a shuffle of the postings "
        "side on qid); the score aggregation is HashAggregate(partial) → "
        "Exchange(term→(qid,doc_id)) → HashAggregate(final) — map-side combine "
        "bounds the shuffle by candidate count, not posting count; the window "
        "top-k is the only other exchange.",
    ))

    idx_dir = tempfile.mkdtemp(prefix="plans_idx_")
    docs = load_documents(spark, SF_DIR).select("doc_id", "text")
    build_index(docs, idx_dir, n_segments=2)
    qs = derive_queries(load_documents(spark, SF_DIR)).limit(8)
    qr = [(int(r.qid), r.text) for r in qs.limit(2).collect()]
    sections.append((
        "search_fused strategy='term' (driver-resident queries: doubly-pruned scan → one Arrow kernel → one shuffle → top-k)",
        formatted(search_fused(spark, idx_dir, qr, strategy="term")),
        "What to check: the postings scan carries BOTH prune predicates as "
        "literals (bucket partition-dir pruning AND term_id row-group "
        "min/max skipping — no semi-join, no term_dict stage; term_ids were "
        "resolved driver-side via a pyarrow predicate read); decode + q_tf "
        "multiply + per-doc partial aggregation all happen inside ONE "
        "mapInPandas kernel, so the only exchange is candidate partials; "
        "single-query top-k is TakeOrderedAndProject, not a window. "
        "strategy='term' pins this Spark route: by default a batch this "
        "small is scored on the driver and the result is a local relation "
        "with no scan.",
    ))

    qr_batch = [(int(r.qid), r.text) for r in qs.collect()]
    sections.append((
        "search_fused strategy='doc' (doc-major batch: pack → ONE doc-range exchange → shard-local scoring)",
        formatted(search_fused(spark, idx_dir, qr_batch, strategy="doc")),
        "What to check: the same doubly-pruned scan (bucket partition-dir "
        "filter + pushed term_id IN), then TWO Arrow kernels around a SINGLE "
        "exchange hashed on the doc shard: pack (decode blocks, group postings "
        "into per-(shard, term) binary blob rows — shuffle bytes stay O(pruned "
        "postings) but row count collapses ~1000×, killing per-row exchange "
        "overhead) and score (shard-local dense accumulators score EVERY query "
        "of the batch; only per-partition top-k candidates are emitted, so "
        "output is bounded by parts × queries × k regardless of match depth). "
        "The partial `WindowGroupLimit` then caps each partition's contribution "
        "before the final qid exchange. Batch size never multiplies shuffle "
        "volume — the doc-partitioned shard architecture of a search cluster, "
        "as one Spark exchange. Measured (4M-doc replicated corpus, 12-query "
        "batch, local[8]): term-major 50s → doc-major 6-13s; dense single "
        "query 5s → 1.5s. `strategy=\"auto\"` picks doc-major from dictionary "
        "metadata only: past DRIVER_POSTING_LIMIT, when candidate pairs exceed "
        "DOC_MAJOR_FACTOR × the emission bound (parts × queries × k).",
    ))

    from splade_spark.operators.maxscore import search_maxscore_fused

    sections.append((
        "search_fused quantized=True strategy='term' (integer scoring on uint8 quant_bytes)",
        formatted(search_fused(spark, idx_dir, qr, strategy="term", quantized=True)),
        "What to check: the same doubly-pruned scan and kernel as the float "
        "term route, but ReadSchema carries quant_bytes (uint8, 8x fewer "
        "payload bytes per posting than float64 impact_bytes) and the final "
        "Project casts the integer sum to a bigint score — PISA's scoring "
        "arithmetic, hash-exact across engines.",
    ))

    sections.append((
        "search_maxscore_fused driver_posting_limit=0 (driver-side pruning passes → ONE pruned scan)",
        formatted(search_maxscore_fused(spark, idx_dir, qr, driver_posting_limit=0)),
        "What to check: the champion-floor and block-UB passes ran on the "
        "DRIVER (pyarrow metadata reads — they are invisible here); the "
        "distributed plan is just the retained-block scan (bucket partition "
        "filter AND per-term block_id IN-lists pushed to parquet, so byte "
        "reads scale with blocks KEPT), one mapInPandas kernel, one "
        "exchange, top-k. driver_posting_limit=0 forces this Spark route: "
        "by default a retained set this small is scored on the driver and "
        "the result is a local relation with no scan.",
    ))

    sections.append((
        "embedding_dup_pairs (LSH-bucketed near-dup candidates)",
        formatted(m.q_emb_dup(spark, SF_DIR)),
        "What to check: the self-join keys on `bucket` equality — a "
        "BroadcastHashJoin/SortMergeJoin, NOT the BroadcastNestedLoopJoin "
        "cartesian the round-1 theta-join compiled to; exact cosine runs "
        "only within buckets.",
    ))

    sections.append((
        "exact_dedup (hash-groupBy canonicalization)",
        formatted(m.q_exact_dedup(spark, SF_DIR)),
        "What to check: one Exchange on text_hash; md5 computed in the scan "
        "projection (codegen); window min over the hash partition.",
    ))

    sections.append((
        "minhash_lsh_pairs (shingle → 16 linear minhashes → band join)",
        formatted(m.q_minhash_lsh(spark, SF_DIR)),
        "What to check: ONE md5 per shingle then 16 linear mixes (projection, "
        "no repeated hashing); signature build is a single groupBy(doc_id); "
        "the candidate join keys on (band_idx, band_key) — an equi-join, never "
        "an O(n^2) cross product.",
    ))

    sections.append((
        "ann_cosine_topk (brute-force cosine, zip_with dot product)",
        formatted(m.q_ann_cosine(spark, SF_DIR)),
        "What to check: dot products are `aggregate(zip_with(...))` column "
        "expressions (JVM, codegen) — no Python UDF; the query side is "
        "broadcast; top-k via per-query window.",
    ))

    from splade_spark.operators.bmp import bmp_table_df

    sections.append((
        "build_bmp_index (postings → doc-partitioned block-max table)",
        formatted(bmp_table_df(spark, idx_dir)),
        "What to check: ONE decode pass over the postings (MapInPandas "
        "directly on the scan — no pre-shuffle), map-side partial `max` "
        "before the single exchange on (term_id, doc_block) (the "
        "HashAggregate pair around the Exchange), and the bucket attach is a "
        "broadcast of the vocab-sized term dictionary — the only shuffle in "
        "the whole derivation is the aggregate's. At 10^12 docs this is a "
        "linear scan + one metadata-scale shuffle (output rows <= "
        "min(df_t, N/B) per term); build_bmp_index then writes it with the "
        "same sorted bucket-partitioned layout as the postings so "
        "query-time bmp scans bucket-prune and row-group-skip identically. "
        "`search_bmp` itself has no distributed plan to show: the UB "
        "ranking, batch-synchronous block rounds, and the lossless stop "
        "certificate run driver-side on metadata-scale pyarrow reads "
        "(operators/bmp.py), exactly like `search_maxscore_fused`'s "
        "passes; its result is a driver-local relation. Over-limit terms "
        "fall back to `search_fused`, whose plan is documented above.",
    ))

    out = [
        "# PLANS — physical-plan evidence for the 100 TB design",
        "",
        f"Generated by `python scripts/explain_plans.py` at `{SF_DIR}`.",
        "Plan SHAPE is scale-invariant (same plan at sf0.01 and 100 TB; only",
        "statistics change); this file is re-generated whenever operators",
        "change.",
        "",
    ]
    for title, plan, note in sections:
        out += [f"## {title}", "", note, "", "```", plan.rstrip(), "```", ""]

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    import shutil

    shutil.rmtree(idx_dir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
