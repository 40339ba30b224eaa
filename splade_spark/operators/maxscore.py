"""Lossless Block-Max / MaxScore pruning for the compressed index.

The reference delegates this to the external PISA engine (binary
format produced at pisa_inference/index2pisa.py:59-74; PISA runs
Block-Max WAND / MaxScore on it, pisa_inference/README.md) on one
node. ``search_maxscore_fused`` is the one implementation here: it
resolves the batch with ``index_query.prepare_queries`` (the prep step
shared with ``search_fused`` and ``search_bmp``), both pruning passes
run on the driver over metadata-scale pyarrow reads, then the retained
blocks are scored on the driver or by one pruned Spark scan. Callers
holding a query relation collect its ``(qid, text)`` rows first.

Two-pass plan (SURVEY.md §4), per query:

Pass 1 (floor): for each query pick the champion term (highest
  ub_t = q_tf * max_impact_t); decode only its highest-block_max
  blocks covering >= k postings (O(k) floor work). The top-k
  decoded docs by single-term partial become floor CANDIDATES; their exact
  total scores are computed by decoding only the blocks whose
  [first_doc_id, last_doc_id] range contains a candidate. With >= k
  candidates exactly scored, theta_q = their k-th largest exact
  score is a valid lower bound of the true k-th score.

Pass 2 (prune + exact): a block b of term t upper-bounds every
  member doc's total score by
     UB(b) = total_ub_q - ub_t + q_tf_t * block_max_b.
  If UB(b) < theta_q the block can contain no top-k doc, and every
  doc with true score >= theta_q keeps ALL its blocks, so surviving
  scores are exact and the top-k is identical to exhaustive scoring
  (proof sketch in docstring of test_maxscore.py).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession

from splade_spark import SCORE_THRESHOLD, TOPK_DEFAULT
from splade_spark.functions.codec import BLOCK_SIZE
from splade_spark.operators.index_build import DEFAULT_SALT_UNIT
from splade_spark.operators.index_query import (
    DRIVER_POSTING_LIMIT,
    block_pairs_expr,
    decode_block_frame,
    in_literals,
    prepare_queries,
    require_impacts,
    score_batch,
    search_fused,
    term_major_top,
    tops_relation,
)

# slack on the block-retain inequality `block_ub >= theta - PRUNE_EPS`.
# Final scores are rounded to 6dp and ties break by doc_id, so a doc
# whose TRUE score is within ~1e-6 of theta can round into a tie with
# the k-th candidate and win the tiebreak — it must keep its blocks.
# The same slack absorbs float-summation order: theta (sum of decoded
# impacts per doc) and total_ub (sum of dictionary maxima) add the
# same values in different orders, so on a corpus of identically
# scored candidates theta can land ULPs ABOVE every block UB and a
# strict >= would retain NOTHING (caught by the prune bench's
# uniform-candidate fixture: retained=0 at 6M docs). Retaining more
# is always lossless; 1.5x the rounding step covers the half-ulp
# round-to-even boundary. BMP's certificate carries the same slop
# (operators/bmp.py).
PRUNE_EPS = 1.5e-6


def search_maxscore_fused(
    spark: SparkSession,
    index_dir: str,
    query_rows: list[tuple[int, str]],
    k: int = TOPK_DEFAULT,
    threshold: float = SCORE_THRESHOLD,
    debug_counts: dict | None = None,
    champion_block_limit: int = 50_000,
    driver_posting_limit: int = DRIVER_POSTING_LIMIT,
    as_local: bool = False,
) -> DataFrame:
    """Block-Max/MaxScore search for driver-resident queries. The
    pruning passes run DRIVER-SIDE on metadata-scale data (pyarrow
    scans of the query terms' dictionary rows, block metadata and the
    champion/candidate block bytes); the retained blocks are then
    scored on the driver or by ONE pruned Spark scan -> score kernel
    -> agg -> top-k — the same two-stage shape as ``search_fused``,
    minus the pruned blocks' decode work. This mirrors the reference,
    where PISA prunes on one node (evaluate.py:80-86).

    Lossless: a block survives iff total_ub_q - ub_t + q_tf*block_max
    >= theta, theta = k-th exact candidate score (candidates = top-k
    by champion partial), so every doc with true score >= theta keeps
    all its blocks. Scoring a superset of one query's retained blocks
    (the union across queries) stays lossless: fully-retained docs
    score exactly, others partially UNDER their true (< theta) score.

    If ANY hit term's estimated block count (from the ``df`` that
    ``prepare_queries`` reads in the same dictionary scan that
    resolves term_ids) exceeds ``champion_block_limit``, the
    driver-side passes would stop being metadata-scale — fall back
    to exhaustive ``search_fused`` BEFORE touching the postings
    dataset, so a stopword-ish term at 10^12 docs (~df/block_size
    metadata rows) can never materialize on the driver. The same
    guard caps the summed estimate across hit terms at 20x the
    per-term limit.

    Route: when the driver work left after pruning — the retained
    postings of each query's terms, summed over queries (exact from
    the block metadata's ``n``) — is at most ``driver_posting_limit``,
    the retained set is scored entirely on the driver (numpy over the
    already-open pyarrow dataset) and returned as a local relation —
    zero cluster jobs, the analog of PISA answering a query from one
    node once Block-Max has shrunk the work below cluster scale.
    Otherwise ONE Spark scan reads only the retained blocks (bucket
    partition filter AND per-term block_id IN-lists pushed to
    parquet). Both routes return identical rows (same kernel
    arithmetic, same 6dp rounding, same tie rule).

    ``debug_counts``, when passed, receives the ``route`` taken
    (``"driver"``, ``"spark"`` or ``"fused_fallback"`` when the df
    guard trips), the ``driver_work`` estimate that chose it,
    ``blocks_total``/``blocks_kept`` and ``retained_pairs``
    (``{term_id: block_ids}``, the retained block set the answer
    reads).

    ``as_local=True`` returns a pandas DataFrame instead of a Spark
    one: when the driver route answers, the rows ALREADY live on the
    driver and the createDataFrame -> collect round trip is the
    dominant serving cost (~0.3 s of py4j/Arrow transfer for a k-row
    result — measured p50 0.42 s with it, ~0.05 s without). The Spark
    route just toPandas() the result, so the value is identical
    either way.
    """
    prep = prepare_queries(index_dir, query_rows)
    require_impacts(prep.stats)
    gap_codec, buckets = prep.gap_codec, prep.buckets
    # scale guard BEFORE any postings access: estimate each hit term's
    # block count from its df (upper bound: full blocks + one partial
    # block per salt group). A term over the limit — or a query set
    # whose total estimate exceeds 20x the limit — would make the
    # metadata scan below driver-scale-unsafe, so bail to the
    # exhaustive fused plan while still only having read the
    # dictionary rows.
    block_size = int(prep.stats.get("block_size", BLOCK_SIZE))
    salt_unit = int(prep.stats.get("salt_unit", DEFAULT_SALT_UNIT))
    blocks_est = [df // block_size + df // salt_unit + 2 for df in prep.df.values()]
    # summed cap: 20x the per-term limit = ~1M block-metadata rows,
    # ~40 MB as Arrow — still metadata-scale on any driver. (The
    # per-term cap is the skew guard: one stopword at 10^12 docs is
    # ~10^8 blocks and must never materialize. The old 4x summed cap
    # was so conservative that an ordinary 11-term query over a 6M-doc
    # corpus fell back to exhaustive scoring while its true retained
    # set was 11 blocks.)
    if (
        max(blocks_est, default=0) > champion_block_limit
        or sum(blocks_est) > 20 * champion_block_limit
    ):
        if debug_counts is not None:
            debug_counts["route"] = "fused_fallback"
        return search_fused(spark, index_dir, query_rows, k, threshold, as_local=as_local)
    # per query: [(term_id, q_tf, ub)] in term_id order
    q_plan = {
        qid: [(t, w, w * prep.max_impact[t]) for t, w in zip(tids.tolist(), ws.tolist())]
        for qid, (tids, ws) in prep.q_arrs.items()
    }
    if not q_plan:
        if debug_counts is not None:
            debug_counts.update(route="driver", driver_work=0)
        return tops_relation(spark, as_local=as_local)

    post_ds = pads.dataset(
        os.path.join(index_dir, "postings"), partitioning="hive"
    )
    # bucket is the hive partition field: filtering on it prunes whole
    # partition directories before any footer/row-group work — the
    # driver-side twin of load_postings' in_literals("bucket", ...)
    # pushdown (a q-term query touches <= q of the n_buckets dirs)
    bucket_flt = pads.field("bucket").isin(buckets)
    meta = post_ds.to_table(
        columns=["term_id", "block_id", "first_doc_id", "last_doc_id", "n", "block_max"],
        filter=bucket_flt & pads.field("term_id").isin(prep.hit_terms),
    ).to_pandas()
    # block sets travel as packed int64 (term_id << 32) | rank keys and
    # membership is one np.isin, not a per-row tuple-set probe. The low
    # half is the block_id's dense rank: block_id = salt * 2^24 + seq
    # itself passes 32 bits once a term spans 256 salt groups.
    uniq_bid, bid_rank = np.unique(meta["block_id"].to_numpy(), return_inverse=True)
    meta["key"] = meta["term_id"].to_numpy(np.int64) << 32 | bid_rank
    by_term = dict(iter(meta.groupby("term_id")))

    def fetch_decode(keys: list[np.ndarray]):
        """(term_ids, doc_ids, impacts) of the blocks with the given
        packed keys, decoded driver-side."""
        if not keys:
            return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64), np.zeros(0)
        want = np.unique(np.concatenate(keys))
        tbl = post_ds.to_table(
            columns=["term_id", "block_id", "first_doc_id", "n", "doc_gap_bytes", "impact_bytes"],
            filter=bucket_flt
            & pads.field("term_id").isin(np.unique(want >> 32).tolist())
            & pads.field("block_id").isin(uniq_bid[np.unique(want & 0xFFFFFFFF)].tolist()),
        ).to_pandas()
        # every fetched block_id is in uniq_bid (the filter above), so
        # searchsorted recovers its exact rank
        rank = np.searchsorted(uniq_bid, tbl["block_id"].to_numpy())
        tbl = tbl[np.isin(tbl["term_id"].to_numpy(np.int64) << 32 | rank, want)]
        return decode_block_frame(tbl.sort_values("term_id", kind="stable"), gap_codec)

    def by_term_postings(keys: list[np.ndarray]) -> dict[int, tuple]:
        """fetch_decode split per term: {term_id: (doc_ids, impacts)}."""
        tids, doc_ids, impacts = fetch_decode(keys)
        order = np.argsort(tids, kind="stable")
        uniq_t, starts = np.unique(tids[order], return_index=True)
        ends = np.append(starts[1:], len(order))
        return {
            int(t): (doc_ids[order[a:b]], impacts[order[a:b]])
            for t, a, b in zip(uniq_t.tolist(), starts.tolist(), ends.tolist())
        }

    # ---- pass 1 driver-side: champion floor -> theta per query ------
    champ_keys: list[np.ndarray] = []
    for qid, rows in q_plan.items():
        champ = max(rows, key=lambda r: (r[2], -r[0]))
        cm = by_term.get(champ[0])
        if cm is None:
            continue
        # decode only the highest-block_max champion blocks covering
        # >= k postings — O(k) floor work instead of O(champion df);
        # candidates drawn from a subset still yield a valid (at most
        # slightly looser) exact floor, since every candidate's exact
        # score is a true score
        order_b = np.lexsort(
            (cm["block_id"].to_numpy(), -cm["block_max"].to_numpy())
        )
        n_cum = np.cumsum(cm["n"].to_numpy()[order_b])
        nb = min(int(np.searchsorted(n_cum, k, side="left")) + 1, len(order_b))
        champ_keys.append(cm["key"].to_numpy()[order_b[:nb]])
    champ_dec = by_term_postings(champ_keys)

    theta: dict[int, float] = {}
    cover_keys: list[np.ndarray] = []
    cand_of: dict[int, np.ndarray] = {}
    for qid, rows in q_plan.items():
        champ = max(rows, key=lambda r: (r[2], -r[0]))
        dec = champ_dec.get(champ[0])
        if dec is None:
            continue
        d, w = dec
        part = w * champ[1]
        order = np.lexsort((d, -part))[:k]
        # ASCENDING doc ids: the exact-scoring pass binary-searches this
        # array (np.searchsorted below), which silently mis-positions on
        # champion-partial order; the covered-range check is
        # order-insensitive, so sorting is safe
        cand = np.sort(d[order])
        q_cover: list[np.ndarray] = []
        n_cover = 0
        # exact-floor cover budget: when candidates are spread across
        # ~every block (uniform corpora), the cover set degenerates to
        # the whole hit-term block set and the driver would decode the
        # index to seed theta. Past the budget, fall back to the k-th
        # champion PARTIAL as theta — a valid (weaker) floor that is
        # already decoded, exactly the regime where the exact floor
        # wouldn't have pruned anything anyway.
        cover_budget = 64 * (k // block_size + 1) * max(1, len(rows))
        for tid, _, _ in rows:
            tm = by_term.get(tid)
            if tm is None:
                continue
            # block [fd_i, ld_i] holds a candidate iff some cand falls
            # inside: searchsorted interval test, O(n_blocks log k) and
            # memory-free — the earlier (n_blocks x k) boolean matrix
            # was a ~50 MB transient per term at the guard ceiling
            # (50k blocks x k=1000)
            lo = np.searchsorted(cand, tm["first_doc_id"].to_numpy(), side="left")
            hi = np.searchsorted(cand, tm["last_doc_id"].to_numpy(), side="right")
            q_cover.append(tm["key"].to_numpy()[lo < hi])
            n_cover += len(q_cover[-1])
            if n_cover > cover_budget:
                break
        if n_cover > cover_budget:
            if len(part) >= k:
                theta[qid] = float(np.sort(part)[-k])
            continue
        cand_of[qid] = cand
        cover_keys += q_cover
    cover_dec = by_term_postings(cover_keys)
    for qid, rows in q_plan.items():
        cand = cand_of.get(qid)
        if cand is None:
            continue
        scores = np.zeros(len(cand), dtype=np.float64)
        for tid, q_tf, _ in rows:
            dec = cover_dec.get(tid)
            if dec is None:
                continue
            d, w = dec
            pos = np.searchsorted(cand, d)
            pos = np.clip(pos, 0, len(cand) - 1)
            hit = cand[pos] == d
            np.add.at(scores, pos[hit], q_tf * w[hit])
        if len(scores) >= k:
            theta[qid] = float(np.sort(scores)[-k])

    # ---- pass 2 driver-side: retained block mask per term -----------
    retained: dict[int, np.ndarray] = {}
    total_blocks = 0
    for qid, rows in q_plan.items():
        total_ub = sum(r[2] for r in rows)
        th = theta.get(qid, threshold) - PRUNE_EPS
        for tid, q_tf, ub in rows:
            tm = by_term.get(tid)
            if tm is None:
                continue
            total_blocks += len(tm)
            block_ub = total_ub - ub + q_tf * tm["block_max"].to_numpy()
            retained[tid] = retained.get(tid, False) | (block_ub >= th)
    n_retained = sum(int(m.sum()) for m in retained.values())
    # driver work = each query's terms' whole retained postings (the
    # driver path concatenates a term's retained set per query using it)
    ret_n = {t: int(by_term[t]["n"].to_numpy()[m].sum()) for t, m in retained.items()}
    driver_work = sum(ret_n.get(t, 0) for rows in q_plan.values() for t, _, _ in rows)
    route = "driver" if driver_work <= driver_posting_limit else "spark"
    ret_bids = {t: by_term[t]["block_id"].to_numpy()[m] for t, m in retained.items()}
    if debug_counts is not None:
        debug_counts.update(route=route, driver_work=driver_work)
        debug_counts.update(blocks_total=total_blocks, blocks_kept=n_retained)
        debug_counts["retained_pairs"] = {t: sorted(b.tolist()) for t, b in ret_bids.items()}

    # ---- driver path: retained work under the limit, zero jobs -----
    if route == "driver":
        ret = fetch_decode([by_term[t]["key"].to_numpy()[m] for t, m in retained.items()])
        return tops_relation(spark, score_batch(prep.q_arrs, *ret, k, threshold), as_local)

    # ---- distributed: ONE pruned scan -> kernel -> agg -> top-k -----
    if n_retained >= sum(len(tm) for tm in by_term.values()):
        # theta fallback retained everything — a per-term IN-list the
        # size of the whole block set buys nothing and bloats the
        # filter expression; the term semi-restriction is equivalent
        keep_expr = in_literals("term_id", retained)
    else:
        keep_expr = block_pairs_expr(ret_bids)
    top = term_major_top(
        spark, index_dir, in_literals("bucket", buckets) & keep_expr,
        prep.q_arrs, gap_codec, k, threshold,
    )
    return top.toPandas() if as_local else top
