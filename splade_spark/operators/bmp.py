"""BMP-style doc-partitioned block-max layout + block-at-a-time search.

The reference feeds its quantized vectors to the external BMP engine
(bmp_inference/inference_all_beir_doc_bmp.py exports; the engine
implements Mallia et al.'s "Faster Learned Sparse Retrieval with
Block-Max Pruning", doc-space blocks + per-(term, block) maxima +
block-at-a-time evaluation). Like the PISA/MaxScore case, the engine
itself is external to the reference — here the same structure is
built and queried in-engine, Spark-first.

Layout (``bmp/`` beside the postings table):
    (term_id int, doc_block long, ub double) partitioned by the SAME
    content-addressed ``bucket(md5(term))`` as the postings, sorted by
    (term_id, doc_block) — query-time scans prune by bucket directory
    and row-group stats exactly like the inverted index. doc_block =
    doc_id // doc_block_size; ub = max BM25 impact of the term inside
    that doc range. The relation is metadata-scale relative to
    postings: <= min(df_t, N/B) rows per term.

Search (driver-planned, the fused-path shape):
    1. per doc_block, UB(block) = sum_t q_tf_t * ub_{t,block} — an
       upper bound on every member doc's score (monotone, like WAND's
       total UB but at doc-block granularity);
    2. evaluate blocks in DESCENDING UB order: exact-score all docs of
       the first M blocks (postings fetched through the same literal
       doc-range + term filters the index serves), take the running
       k-th score theta;
    3. LOSSLESS CERTIFICATE: if theta >= UB of the best unevaluated
       block, no remaining doc can enter the top-k — stop. Otherwise
       double M and repeat (geometric, so total work <= 2x the final
       evaluated set). This reproduces BMP's block-at-a-time loop
       set-at-a-time instead of block-at-a-time, which is the batch
       shape Spark/numpy want.

Queries are resolved by ``index_query.prepare_queries``, the prep step
shared with ``search_fused`` and ``search_maxscore_fused``. Scale
guards mirror ``search_maxscore_fused``: per-term bmp rows are bounded
by df/doc_block_size from that dictionary read, BEFORE any
bmp/postings access; over-limit queries fall back to ``search_fused``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from splade_spark import SCORE_THRESHOLD, TOPK_DEFAULT

DEFAULT_DOC_BLOCK = 4096

# cap on the number of doc-range predicates pushed into one round's
# postings fetch; beyond this, the smallest inter-run gaps are merged
_MAX_FETCH_RANGES = 64


def _block_runs(blocks, max_ranges: int = _MAX_FETCH_RANGES):
    """Sorted unique block ids -> [(lo_block, hi_block), ...] maximal
    contiguous runs; if there are more than ``max_ranges`` runs, keep
    only the max_ranges-1 WIDEST gaps as separators (merging a gap
    re-admits exactly that gap's postings — smallest gaps cost least)."""
    import numpy as np

    if len(blocks) == 0:
        return []
    gaps = np.diff(blocks)
    break_idx = np.nonzero(gaps > 1)[0]  # run ends at i, next starts i+1
    if len(break_idx) + 1 > max_ranges:
        widths = gaps[break_idx]
        keep = np.sort(break_idx[np.argsort(-widths)[: max_ranges - 1]])
        break_idx = keep
    starts = np.concatenate([[0], break_idx + 1])
    ends = np.append(break_idx, len(blocks) - 1)
    return [(int(blocks[s]), int(blocks[e])) for s, e in zip(starts, ends)]


def bmp_table_df(
    spark: SparkSession,
    index_dir: str,
    doc_block_size: int = DEFAULT_DOC_BLOCK,
    quantized: bool = False,
) -> DataFrame:
    """The block-max table derivation as a DataFrame: one decode pass
    over the postings -> partial-then-final max per (term_id,
    doc_block) -> broadcast bucket attach. Shared by build_bmp_index
    (which writes it sorted/bucket-partitioned) and the plan dump
    (scripts/explain_plans.py)."""
    from splade_spark.operators.index_query import (
        decode_blocks_df,
        decode_blocks_quant_df,
        load_postings,
        load_stats,
    )

    stats = load_stats(index_dir)
    postings = load_postings(spark, index_dir)
    if quantized:
        decoded = decode_blocks_quant_df(postings, stats.get("gap_codec", "vbyte"))
        val = F.col("d_w")
    else:
        from splade_spark.operators.index_query import require_impacts

        require_impacts(stats)
        decoded = decode_blocks_df(postings, stats.get("gap_codec", "vbyte"))
        val = F.col("impact")
    bmp = (
        decoded.withColumn(
            "doc_block", (F.col("doc_id") / F.lit(doc_block_size)).cast("long")
        )
        .groupBy("term_id", "doc_block")
        .agg(F.max(val).alias("ub"))
    )
    # bucket comes from the term dictionary (content-addressed md5) so
    # query-time bucket literals prune bmp exactly like postings
    term_dict = spark.read.parquet(os.path.join(index_dir, "term_dict")).select(
        "term_id", "bucket"
    )
    return bmp.join(F.broadcast(term_dict), "term_id")


def build_bmp_index(
    spark: SparkSession,
    index_dir: str,
    doc_block_size: int = DEFAULT_DOC_BLOCK,
    quantized: bool = False,
) -> str:
    """Derive the doc-partitioned block-max table from the compressed
    postings (one decode pass -> groupBy max -> sorted bucket write).
    Idempotent: committed via the index manifest like a finalize step.

    ``quantized=True`` derives integer maxima from the uint8
    quant_bytes payload (``bmp_q/`` table) — this is the layout the
    external BMP engine actually consumes (quantized impacts,
    bmp_inference exports) and the only one available on a
    ``store_impacts=False`` index.
    """
    from splade_spark.operators.index_build import POSTINGS_ROWGROUP_BYTES
    from splade_spark.plans.snapshots import Manifest, dir_bytes

    import json

    bmp_dir = os.path.join(index_dir, "bmp_q" if quantized else "bmp")
    meta_path = os.path.join(bmp_dir, "_bmp.json")
    man = Manifest.load(index_dir)
    prefix = "bmpq:" if quantized else "bmp:"
    key = f"{prefix}{doc_block_size}"
    prior = {k for k in man.committed("bmp") if k.startswith(prefix)}
    if key in prior:
        # trust the commit only if the directory's metadata agrees: a
        # crash before the (last, atomicity-carrying) _bmp.json write,
        # or a later build with a different block size into the same
        # directory, leaves the dir holding something else
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                if int(json.load(f)["doc_block_size"]) == doc_block_size:
                    return bmp_dir
        man.retract("bmp", reason=f"stale:{key}", keys={key})
    elif prior:
        # the directory is about to be overwritten with THIS block
        # size's layout — retract the other sizes' keys so a later
        # call with one of them rebuilds instead of silently returning
        # a directory holding this size
        man.retract("bmp", reason=f"superseded-by:{key}", keys=prior)
    import time as _time

    t0 = _time.time()
    (
        bmp_table_df(spark, index_dir, doc_block_size, quantized)
        .repartition("bucket")
        .sortWithinPartitions("term_id", "doc_block")
        .write.mode("overwrite")
        .option("parquet.block.size", str(POSTINGS_ROWGROUP_BYTES))
        .partitionBy("bucket")
        .parquet(bmp_dir)
    )
    # block size for the query side, written BEFORE the manifest
    # commit: the commit is the last, atomicity-carrying step (same
    # discipline as finalize), so a committed key always has readable
    # metadata — a crash in between just rebuilds next call
    with open(meta_path, "w") as f:
        json.dump({"doc_block_size": doc_block_size}, f)
    man.commit(
        "bmp",
        key,
        bytes_=dir_bytes(bmp_dir),
        wall_ms=int((_time.time() - t0) * 1000),
    )
    return bmp_dir


def search_bmp(
    spark: SparkSession,
    index_dir: str,
    query_rows: list[tuple[int, str]],
    k: int = TOPK_DEFAULT,
    threshold: float = SCORE_THRESHOLD,
    term_block_limit: int = 500_000,
    debug_counts: dict | None = None,
    quantized: bool = False,
) -> DataFrame:
    """Block-at-a-time BMP search for driver-resident queries, resolved
    by ``prepare_queries`` (the prep step shared with ``search_fused``
    and ``search_maxscore_fused``).

    Lossless: stops only when the running k-th EXACT score >= the best
    unevaluated doc-block's UB (each UB bounds every member doc's
    total score from above because per-(term, block) ub >= every
    member impact and contributions are nonnegative).

    Falls back to exhaustive ``search_fused`` BEFORE touching the bmp
    or postings datasets when any hit term's bmp row estimate
    (min(df, n_docs/doc_block_size), df from ``prepare_queries``)
    exceeds ``term_block_limit`` — the same dictionary-scan-only guard
    discipline as ``search_maxscore_fused``.

    ``quantized=True`` runs the PISA/BMP integer arithmetic: x50-clip
    query weights (min(q_tf * 50, 255)), uint8 doc impacts from
    quant_bytes, integer score ``sum(q_w * d_w)`` with an EXACT
    integer certificate (no rounding slop) — matches
    ``search_fused(quantized=True)`` row-for-row, which is also its
    fallback. Returns score long instead of double.
    """
    import json

    import numpy as np
    import pyarrow.dataset as pads

    from splade_spark.operators.index_query import (
        block_cols,
        decode_block_frame,
        empty_tops,
        payload_for,
        prepare_queries,
        query_weights,
        rank_top,
        require_impacts,
        search_fused,
        tops_relation,
    )

    prep = prepare_queries(index_dir, query_rows)
    if not quantized:
        require_impacts(prep.stats)

    def exhaustive_fallback():
        return search_fused(spark, index_dir, query_rows, k, threshold, quantized=quantized)

    # an index whose BMP table was never built (or was invalidated by
    # an append's postings rewrite) answers exhaustively, same routing
    # as the over-limit guard — not a FileNotFoundError
    bmp_dir = os.path.join(index_dir, "bmp_q" if quantized else "bmp")
    meta_path = os.path.join(bmp_dir, "_bmp.json")
    if not os.path.exists(meta_path):
        return exhaustive_fallback()
    with open(meta_path) as f:
        doc_block_size = int(json.load(f)["doc_block_size"])

    max_blocks = int(prep.stats["n_docs"]) // doc_block_size + 1
    if any(min(df, max_blocks) > term_block_limit for df in prep.df.values()):
        return exhaustive_fallback()

    # qid -> (term_ids ascending, query weights)
    q_terms = query_weights(prep.q_arrs, quantized)
    if not q_terms:
        return tops_relation(spark, empty_tops(quantized))

    # bucket partition-dir pruning for the driver-side metadata and
    # payload fetches (same pushdown the Spark plans get from
    # in_literals("bucket", ...)): both the bmp block-max table and the
    # postings table are hive-partitioned by bucket, so a q-term query
    # touches <= q of the n_buckets directories
    bucket_flt = pads.field("bucket").isin(prep.buckets)
    bmp_tbl = pads.dataset(bmp_dir, partitioning="hive").to_table(
        columns=["term_id", "doc_block", "ub"],
        filter=bucket_flt & pads.field("term_id").isin(prep.hit_terms),
    )
    b_tid = bmp_tbl.column("term_id").to_numpy()
    b_blk = bmp_tbl.column("doc_block").to_numpy()
    b_ub = bmp_tbl.column("ub").to_numpy()

    post_ds = pads.dataset(
        os.path.join(index_dir, "postings"), partitioning="hive"
    )

    # ---- per-query UB ordering over doc blocks ----------------------
    state: dict[int, dict] = {}
    total_blocks = 0
    for qid, (tids, qw) in q_terms.items():
        # per-doc_block UB = sum q_tf * ub over the query's terms
        m = np.isin(b_tid, tids)
        if not m.any():
            continue
        blk = b_blk[m]
        ubs = b_ub[m] * qw[np.searchsorted(tids, b_tid[m])]
        uniq_blk, inv = np.unique(blk, return_inverse=True)
        blk_ub = np.bincount(inv, weights=ubs)
        order = np.argsort(-blk_ub, kind="stable")
        total_blocks += len(uniq_blk)
        state[qid] = {
            "blk": uniq_blk,
            "ub": blk_ub,
            "order": order,
            "done": 0,
            "m": max(1, (k + doc_block_size - 1) // doc_block_size),
            "misses": 0,
            "d": np.zeros(0, dtype=np.int64),
            "s": np.zeros(0),
        }

    # ---- batch-synchronous block-at-a-time rounds -------------------
    # All active queries' newly chosen blocks are fetched in ONE
    # postings scan per round (queries share the index bytes), scored
    # from the shared decode, then each query re-checks its lossless
    # certificate. A query that misses twice jumps straight to full
    # evaluation — the geometric ladder only pays when the UB ordering
    # is actually selective.
    fetched_rows = 0
    fetched_postings = 0
    fetch_ranges = 0
    active = set(state)
    while active:
        need: dict[int, np.ndarray] = {}
        for qid in sorted(active):
            st = state[qid]
            take = st["order"][st["done"] : min(st["m"], len(st["order"]))]
            if len(take):
                need[qid] = st["blk"][take]
        if need:
            all_blocks = np.unique(np.concatenate(list(need.values())))
            # Per-contiguous-run doc-range predicates, NOT one global
            # [min, max]: when a round's blocks are scattered across the
            # id space a single range degenerates to a near-full read of
            # every hit term's posting list. A union of run ranges keeps
            # bytes read proportional to blocks EVALUATED. The run count
            # is capped by merging the smallest inter-run gaps first
            # (each merge only re-admits the postings of the swallowed
            # gap), so the pushed filter expression stays bounded.
            runs = _block_runs(all_blocks, max_ranges=_MAX_FETCH_RANGES)
            round_terms = np.unique(
                np.concatenate([q_terms[qid][0] for qid in need])
            ).tolist()
            payload = payload_for(quantized)
            range_pred = None
            for blo, bhi in runs:
                p = (
                    pads.field("first_doc_id") <= int(bhi) * doc_block_size
                    + doc_block_size - 1
                ) & (pads.field("last_doc_id") >= int(blo) * doc_block_size)
                range_pred = p if range_pred is None else (range_pred | p)
            tbl = post_ds.to_table(
                columns=block_cols(payload),
                filter=bucket_flt
                & pads.field("term_id").isin(round_terms)
                & range_pred,
            )
            fetched_rows += tbl.num_rows
            fetched_postings += int(tbl.column("n").to_numpy().sum())
            fetch_ranges += len(runs)
            tid_rep, doc_ids, impacts = decode_block_frame(
                tbl.to_pandas(), prep.gap_codec, payload
            )
            blk_of = doc_ids // doc_block_size
        for qid in sorted(need):
            st = state[qid]
            tids, w = q_terms[qid]
            blocks = need[qid]
            if len(doc_ids):
                qw = np.zeros(int(tids[-1]) + 1)
                qw[tids] = w
                sel = np.isin(blk_of, blocks) & (tid_rep <= tids[-1])
                sel &= qw[np.where(sel, tid_rep, 0)] > 0
                if sel.any():
                    d = doc_ids[sel]
                    contrib = impacts[sel] * qw[tid_rep[sel]]
                    uniq, inv = np.unique(d, return_inverse=True)
                    sums = np.bincount(inv, weights=contrib)
                    # integer sums are exact in float64 far beyond the
                    # 255*255*n_terms range; float scores share the
                    # oracle's 6dp rounding
                    st["d"] = np.concatenate([st["d"], uniq])
                    st["s"] = np.concatenate(
                        [st["s"], sums if quantized else np.round(sums, 6)]
                    )
            st["done"] = min(st["m"], len(st["order"]))
        for qid in sorted(active):
            st = state[qid]
            if st["done"] >= len(st["order"]):
                active.discard(qid)
                continue
            next_ub = st["ub"][st["order"][st["done"]]]
            # STRICT certificate: '>' not '>=' because ties break by
            # doc_id and an unevaluated equal-score doc could still
            # enter the top-k. Float scores additionally clear one 6dp
            # rounding ulp (they are rounded, shared with the oracle);
            # integer (quantized) arithmetic is exact — no slop.
            slop = 0.0 if quantized else 1e-6
            if len(st["s"]) >= k and np.partition(st["s"], -k)[-k] > next_ub + slop:
                active.discard(qid)
                continue
            st["misses"] += 1
            st["m"] = len(st["order"]) if st["misses"] >= 2 else st["m"] * 2

    # one (-score, doc_id) ranking of every query's exact scores
    eval_blocks = sum(st["done"] for st in state.values())
    q = np.repeat(np.array(list(state), dtype=np.int64), [len(st["d"]) for st in state.values()])
    d = np.concatenate([st["d"] for st in state.values()] + [np.zeros(0, dtype=np.int64)])
    s = np.concatenate([st["s"] for st in state.values()] + [np.zeros(0)])
    keep = s > (0 if quantized else threshold)
    q, d, s, rank = rank_top(q[keep], d[keep], s[keep], k)

    if debug_counts is not None:
        debug_counts["doc_blocks_total"] = total_blocks
        debug_counts["doc_blocks_evaluated"] = eval_blocks
        debug_counts["postings_block_rows_fetched"] = fetched_rows
        debug_counts["postings_fetched"] = fetched_postings
        debug_counts["fetch_ranges"] = fetch_ranges
    return tops_relation(spark, (q, d, s.astype(np.int64) if quantized else s, rank))
