"""Lossless Block-Max / MaxScore pruning for the compressed index.

The reference delegates this to the external PISA engine (binary
format produced at pisa_inference/index2pisa.py:59-74; PISA runs
Block-Max WAND / MaxScore on it, pisa_inference/README.md). Here the
same pruning is expressed as ordinary DataFrame joins/filters — no
Catalyst extension.

Two-pass plan (SURVEY.md §4), per query but fully set-based:

Pass 1 (floor): for each query pick the champion term (highest
  ub_t = q_tf * max_impact_t); decode only its highest-block_max
  blocks covering >= k postings (O(k) floor work). The top-k
  decoded docs by single-term partial become floor CANDIDATES; their exact
  total scores are computed by decoding only the blocks whose
  [first_doc_id, last_doc_id] range contains a candidate (a
  broadcast range join — candidates are <= k per query). With >= k
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

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from splade_spark import SCORE_THRESHOLD, TOPK_DEFAULT
from splade_spark.operators.index_query import (
    block_pairs_expr,
    buckets_for_queries,
    decode_blocks_df,
    in_literals,
    load_postings,
    load_stats,
    load_term_dict,
)
from splade_spark.operators.retrieval import query_terms, topk_window

# query relations at or under this row count delegate to the
# driver-planned fused path (texts collect to ~MBs; the fused planner's
# per-query work is trivial at this size and its df guard bounds the
# driver-side metadata)
FUSED_DELEGATE_LIMIT = 4096

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

# search_maxscore_fused answers on the driver while its driver work
# (retained postings of each query's terms, summed over queries) is at
# most this; past it one Spark job decodes and scores in parallel.
#
# Pinned by scripts/driver_crossover_bench.py (perfbench's seeded
# generators, k=1000, local[4], 4 cores / 15 GB; driver vs forced-Spark
# route, best of 3, identical rows in every cell; ms for the pandas
# return, then for a counted Spark relation):
#   dense, 240k docs,  1 query,     394k postings  141 vs 1226 /  318 vs 1314
#   dense, 240k docs,  4 queries,   1.8M           440 vs 2587 /  543 vs 2909
#   dense, 240k docs,  16 queries,  7.3M          1177 vs 6029 / 1370 vs 6184
#   dense, 240k docs,  32 queries,  14.8M         2239 vs 12223 / 2375 vs 11958
#   selective, 30k docs, 1024 queries, 245k       1878 vs 4321 / 2874 vs 4087
#   selective, 30k docs, 4096 queries, 981k       3644 vs 7907 / 6891 vs 8083
# The driver wins every cell, so there is no crossover on this box up
# to 14.8M: both routes grow linearly in postings and the driver's
# ~0.15 us/posting undercuts Spark's ~0.8. The selective cells bound
# the per-query fixed cost (4096 small queries, the most
# search_maxscore's default strategy hands over, still win), so the
# estimate needs no per-query term. The limit is the largest measured
# cell, rounded down. Driver memory follows the UNIQUE retained
# postings, not this sum (~80 B each at peak for one query: ~30 MB at
# 394k; 16 queries over the same terms, 55 MB), so one query at the
# limit peaks near 1.1 GB. More cores shrink only Spark's per-posting
# share; re-measure before raising this on a cluster.
DRIVER_POSTING_LIMIT = 14_000_000

# Persisted working-set relations (query-term cache, block metadata,
# per-query floors) from the LAST search_maxscore relation-path call.
# They must outlive the call — the returned lazy plan references them —
# so each call evicts the previous call's set instead, and
# ``release_maxscore_cache()`` is the explicit end-of-session hook.
# Unpersisting is always safe: a still-held old plan just recomputes.
_RELATION_WORKING_SET: list[DataFrame] = []


def release_maxscore_cache() -> None:
    """Unpersist the metadata/floor relations persisted by the most
    recent ``search_maxscore`` relation-path call (storage-pool hygiene
    for long-running sessions)."""
    while _RELATION_WORKING_SET:
        df = _RELATION_WORKING_SET.pop()
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped


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
    """Minimal-plan Block-Max/MaxScore search for driver-resident
    queries: the pruning passes run DRIVER-SIDE on metadata-scale data
    (pyarrow scans of the query terms' dictionary rows, block metadata
    and the champion/candidate block bytes), so the distributed part
    is ONE pruned scan -> score kernel -> agg -> top-k — the same
    two-stage shape as ``search_fused``, minus the pruned blocks'
    decode work. ``search_maxscore`` (all-DataFrame, ~12 stages) stays
    the cluster path for query RELATIONS; this is the low-latency path
    for the reference's own driver-resident query shape
    (evaluate.py:80-86).

    Lossless: same floor/prune rules as search_maxscore — a block
    survives iff total_ub_q - ub_t + q_tf*block_max >= theta, theta =
    k-th exact candidate score (candidates = top-k by champion
    partial), so every doc with true score >= theta keeps all its
    blocks. Scoring a superset of one query's retained blocks (the
    union across queries) stays lossless: fully-retained docs score
    exactly, others partially UNDER their true (< theta) score.

    If ANY hit term's estimated block count (from the term_dict
    ``df`` — read in the same metadata-scale dictionary scan that
    resolves term_ids) exceeds ``champion_block_limit``, the
    driver-side passes would stop being metadata-scale — fall back
    to exhaustive ``search_fused`` BEFORE touching the postings
    dataset, so a stopword-ish term at 10^12 docs (~df/block_size
    metadata rows) can never materialize on the driver. The same
    guard caps the summed estimate across hit terms at 4x the
    per-term limit.

    When the driver work left after pruning — the retained postings
    of each query's terms, summed over queries (exact from the block
    metadata's ``n``) — is at most ``driver_posting_limit``, the
    retained set is scored entirely on the driver (numpy over the
    already-open pyarrow dataset) and returned as a local relation —
    zero cluster jobs, the analog of PISA answering a query from one
    node once Block-Max has shrunk the work below cluster scale.
    Results are bit-identical to the distributed path (same kernel
    arithmetic, same 6dp rounding, same tie rule). ``debug_counts``
    records the ``route`` taken (``"driver"``, ``"spark"`` or
    ``"fused_fallback"`` when the df guard trips) and the
    ``driver_work`` estimate that chose it.

    ``as_local=True`` returns a pandas DataFrame instead of a Spark
    one: when the driver fast path answers, the rows ALREADY live on
    the driver and the createDataFrame -> collect round trip is the
    dominant serving cost (~0.3 s of py4j/Arrow transfer for a k-row
    result — measured p50 0.42 s with it, ~0.05 s without). Paths
    that do run cluster jobs just toPandas() the result, so the value
    is identical either way.
    """
    from collections import Counter

    import numpy as np
    import pyarrow.dataset as pads

    from splade_spark.operators.index_query import (
        buckets_for_terms,
        decode_blocks_vectorized,
        load_stats,
        search_fused,
    )

    import pandas as pd

    _OUT_TYPES = {"qid": "int64", "doc_id": "int64", "score": "float64", "rank": "int32"}

    def _ret_tops(tops):
        """Per-query (qid, doc_ids, scores) in rank order -> requested
        relation type, built from numpy columns (a Spark relation then
        travels as Arrow batches, not as per-row tuples)."""
        cols = [(np.full(len(d), q), d, s, np.arange(1, len(d) + 1)) for q, d, s in tops]
        pdf = pd.DataFrame({
            c: np.concatenate([col[i] for col in cols] + [[]]).astype(t)
            for i, (c, t) in enumerate(_OUT_TYPES.items())
        })
        if as_local:
            return pdf
        return spark.createDataFrame(pdf, "qid long, doc_id long, score double, rank int")

    def _ret_df(df):
        """Spark relation -> requested relation type."""
        return df.toPandas() if as_local else df

    stats = load_stats(index_dir)
    n_buckets = stats["n_buckets"]
    gap_codec = stats.get("gap_codec", "vbyte")
    from splade_spark.operators.index_query import require_impacts

    require_impacts(stats)
    from splade_spark.functions.tokenize import py_tokenize

    qtf: dict[int, Counter] = {
        qid: Counter(py_tokenize(text)) for qid, text in query_rows
    }
    all_terms = sorted({t for c in qtf.values() for t in c})
    dict_tbl = pads.dataset(os.path.join(index_dir, "term_dict")).to_table(
        columns=["term", "term_id", "max_impact", "df"],
        filter=pads.field("term").isin(all_terms),
    )
    tinfo = {
        t: (int(tid), float(mi))
        for t, tid, mi in zip(
            dict_tbl.column("term").to_pylist(),
            dict_tbl.column("term_id").to_pylist(),
            dict_tbl.column("max_impact").to_pylist(),
        )
    }
    # scale guard BEFORE any postings access: estimate each hit term's
    # block count from its df (upper bound: full blocks + one partial
    # block per salt group). A term over the limit — or a query set
    # whose total estimate exceeds 4x the limit — would make the
    # metadata scan below driver-scale-unsafe, so bail to the
    # exhaustive fused plan while still only having read the
    # dictionary rows.
    from splade_spark.functions.codec import BLOCK_SIZE
    from splade_spark.operators.index_build import DEFAULT_SALT_UNIT

    block_size = int(stats.get("block_size", BLOCK_SIZE))
    salt_unit = int(stats.get("salt_unit", DEFAULT_SALT_UNIT))
    blocks_est = {
        t: df // block_size + df // salt_unit + 2
        for t, df in zip(
            dict_tbl.column("term").to_pylist(), dict_tbl.column("df").to_pylist()
        )
    }
    # summed cap: 20x the per-term limit = ~1M block-metadata rows,
    # ~40 MB as Arrow — still metadata-scale on any driver. (The
    # per-term cap is the skew guard: one stopword at 10^12 docs is
    # ~10^8 blocks and must never materialize. The old 4x summed cap
    # was so conservative that an ordinary 11-term query over a 6M-doc
    # corpus fell back to exhaustive scoring while its true retained
    # set was 11 blocks.)
    if blocks_est and (
        max(blocks_est.values()) > champion_block_limit
        or sum(blocks_est.values()) > 20 * champion_block_limit
    ):
        if debug_counts is not None:
            debug_counts["route"] = "fused_fallback"
        return _ret_df(search_fused(spark, index_dir, query_rows, k, threshold))
    # per query: [(term_id, q_tf, ub)], champion, total_ub
    q_plan: dict[int, list[tuple[int, float, float]]] = {}
    for qid, c in qtf.items():
        rows = [
            (tinfo[t][0], float(w), float(w) * tinfo[t][1])
            for t, w in c.items()
            if t in tinfo
        ]
        if rows:
            q_plan[qid] = sorted(rows)
    if not q_plan:
        if debug_counts is not None:
            debug_counts.update(route="driver", driver_work=0)
        return _ret_tops([])
    hit_terms = sorted({t for rows in q_plan.values() for t, _, _ in rows})
    buckets = buckets_for_terms([t for t in all_terms if t in tinfo], n_buckets)

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
        filter=bucket_flt & pads.field("term_id").isin(hit_terms),
    ).to_pandas()
    # block sets travel as packed int64 (term_id << 32) | rank keys and
    # membership is one np.isin, not a per-row tuple-set probe. The low
    # half is the block_id's dense rank: block_id = salt * 2^24 + seq
    # itself passes 32 bits once a term spans 256 salt groups.
    uniq_bid, bid_rank = np.unique(meta["block_id"].to_numpy(), return_inverse=True)
    meta["key"] = meta["term_id"].to_numpy(np.int64) << 32 | bid_rank
    by_term = dict(iter(meta.groupby("term_id")))

    def fetch_decode(keys: list[np.ndarray]):
        """Decode the blocks with the given packed keys driver-side."""
        if not keys:
            return {}
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
        out: dict[int, list] = {}
        if len(tbl) == 0:
            return out
        ns = tbl["n"].to_numpy(dtype=np.int64)
        doc_ids, impacts = decode_blocks_vectorized(
            tbl["first_doc_id"].to_numpy(dtype=np.int64),
            ns,
            list(tbl["doc_gap_bytes"]),
            list(tbl["impact_bytes"]),
            gap_codec,
        )
        tid_rep = np.repeat(tbl["term_id"].to_numpy(dtype=np.int64), ns)
        for t in {int(x) for x in tbl["term_id"]}:
            m = tid_rep == t
            out[t] = (doc_ids[m], impacts[m])
        return out

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
    champ_dec = fetch_decode(champ_keys)

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
    cover_dec = fetch_decode(cover_keys)
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
    if debug_counts is not None:
        debug_counts.update(route=route, driver_work=driver_work)
        debug_counts.update(blocks_total=total_blocks, blocks_kept=n_retained)

    # ---- driver path: retained work under the crossover, zero jobs --
    if route == "driver":
        ret_dec = fetch_decode(
            [by_term[t]["key"].to_numpy()[m] for t, m in retained.items()]
        )
        tops = []
        for qid, rows in q_plan.items():
            dec = [(ret_dec[t][0], q_tf * ret_dec[t][1]) for t, q_tf, _ in rows if t in ret_dec]
            if not dec:
                continue
            uniq, inv = np.unique(np.concatenate([d for d, _ in dec]), return_inverse=True)
            totals = np.round(np.bincount(inv, weights=np.concatenate([w for _, w in dec])), 6)
            keep = totals > threshold
            doc, score = uniq[keep], totals[keep]
            top = np.lexsort((doc, -score))[:k]
            tops.append((qid, doc[top], score[top]))
        return _ret_tops(tops)

    # ---- distributed: ONE pruned scan -> kernel -> agg -> top-k -----
    q_arrs = {
        qid: (
            np.array([t for t, _, _ in rows], dtype=np.int32),
            np.array([w for _, w, _ in rows], dtype=np.float64),
        )
        for qid, rows in q_plan.items()
    }
    if n_retained >= sum(len(tm) for tm in by_term.values()):
        # theta fallback retained everything — a per-term IN-list the
        # size of the whole block set buys nothing and bloats the
        # filter expression; the term semi-restriction is equivalent
        keep_expr = in_literals("term_id", retained)
    else:
        keep_expr = block_pairs_expr(
            {t: by_term[t]["block_id"].to_numpy()[m] for t, m in retained.items()}
        )
    from splade_spark.operators.index_query import (
        _BLOCK_COLS,
        load_postings,
        make_score_kernel,
    )

    postings = load_postings(spark, index_dir)
    pruned = postings.filter(in_literals("bucket", buckets) & keep_expr)
    partials = pruned.select(*_BLOCK_COLS).mapInPandas(
        make_score_kernel(q_arrs, gap_codec),
        schema="qid long, doc_id long, partial double",
    )
    scored = (
        partials.groupBy("qid", "doc_id")
        .agg(F.round(F.sum("partial"), 6).alias("score"))
        .filter(F.col("score") > F.lit(threshold))
    )
    if len(q_arrs) == 1:
        top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        return _ret_df(topk_window(top, k))
    return _ret_df(topk_window(scored, k))


def _literal_block_src(
    postings: DataFrame,
    buckets: list[int],
    pairs_df: DataFrame,
    fallback: DataFrame,
    limit: int = 20_000,
    pairs_sink: tuple[dict, str] | None = None,
):
    """Postings restricted to a (term_id, block_id) pair set.

    When the pair set is driver-safe (<= limit rows) it becomes a
    LITERAL per-term IN-filter on the scan — predicate pushdown skips
    non-matching parquet row groups, so a 0.2%-retained block set
    reads ~0.2% of the bytes. A broadcast semi-join cannot do this:
    it scans every byte column row and filters afterwards, which at
    10^12 docs means a full-index read per pass. Over the limit the
    semi-join ``fallback`` is used (correct, full-scan)."""
    rows = pairs_df.limit(limit + 1).collect()
    if len(rows) > limit:
        return fallback
    by_t: dict[int, list[int]] = {}
    for r in rows:
        by_t.setdefault(int(r.term_id), []).append(int(r.block_id))
    if pairs_sink is not None:
        # observability only (bench byte accounting): record the literal
        # pair set this pass fetches; adds no jobs — the collect above
        # happens regardless
        pairs_sink[0][pairs_sink[1]] = {t: sorted(bs) for t, bs in by_t.items()}
    if not by_t:
        return fallback.filter(F.lit(False))
    return postings.filter(
        in_literals("bucket", buckets) & block_pairs_expr(by_t)
    )


def search_maxscore(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = TOPK_DEFAULT,
    threshold: float = SCORE_THRESHOLD,
    debug_counts: dict | None = None,
    exact_floor: bool | None = None,
    strategy: str = "auto",
    debug_pairs: dict | None = None,
) -> DataFrame:
    """Block-Max/MaxScore for query RELATIONS.

    ``strategy="auto"`` (default): a small relation (<=
    ``FUSED_DELEGATE_LIMIT`` rows) collects its texts and delegates to
    ``search_maxscore_fused`` — the driver-planned pruning passes cost
    zero cluster jobs and its df guard already bounds driver work, so
    small batches skip this path's 4-job floor/prune overhead
    entirely. Large relations run the all-DataFrame plan below, where
    that fixed overhead amortizes across queries. ``strategy=
    "relation"`` forces the all-DataFrame plan (tests/benches).
    All strategies return identical rows (both paths are lossless and
    share the kernel arithmetic and tie rule).

    The floor pass decodes only the champion term's
    highest-``block_max`` blocks covering >= k postings per query (a
    metadata-window selection, so floor decode work is O(k) blocks,
    not O(champion df) — at 10^12 docs a stopword champion would
    otherwise decode ~10^10 postings just to seed theta). The
    selected docs' champion partials are exact single-term lower
    bounds, so any k of them floor the true k-th score — losslessness
    never depends on the selection being the true champion top-k.

    ``exact_floor=True``: exact-score those candidate docs via a
    broadcast range join over covering blocks; theta = k-th exact
    score. This is the theta that lets OTHER terms' blocks prune — a
    champion-partial-only floor satisfies theta <= ub_champion, and
    a non-champion block's UB = total_ub - ub_t + q_tf*block_max >=
    ub_champion >= theta, so it can never prune.

    ``exact_floor=False`` (cheap-theta): theta = k-th champion
    partial, skipping the cover/exact pass (~half the stage count).
    Still lossless, and effective for single-term queries (the
    champion's own low-max blocks prune), but by the inequality
    above it cannot prune multi-term queries' non-champion lists.

    ``exact_floor=None`` (default) picks by depth: exact for
    k <= 100 (the cover NLJ is O(k x query-blocks) and theta
    tightness is what makes Block-Max pay), cheap beyond (at deep k
    the k-th score bar is low, pruning is weak in any mode, and the
    cover pass's candidate set is k-sized — overhead without win).
    """
    if strategy == "auto":
        head = queries.select("qid", "text").limit(FUSED_DELEGATE_LIMIT + 1).collect()
        if len(head) <= FUSED_DELEGATE_LIMIT:
            return search_maxscore_fused(
                spark,
                index_dir,
                [(int(r.qid), r.text) for r in head],
                k=k,
                threshold=threshold,
                debug_counts=debug_counts,
            )
    if exact_floor is None:
        exact_floor = k <= 100
    # evict the PREVIOUS call's persisted working set (see
    # _RELATION_WORKING_SET): one relation-path working set live at a
    # time instead of one leaked per call
    release_maxscore_cache()
    term_dict = load_term_dict(spark, index_dir)
    postings = load_postings(spark, index_dir)

    qt = (
        query_terms(queries)
        .join(term_dict.select("term", "term_id", "max_impact"), "term")
        .select(
            "qid",
            "term_id",
            "q_tf",
            (F.col("q_tf") * F.col("max_impact")).alias("ub"),
        )
    )
    qt = qt.cache()
    _RELATION_WORKING_SET.append(qt)

    # bucket-literal partition pruning (content-addressed buckets —
    # derived from query tokens, no postings/term_dict pre-scan),
    # then per-term semi restriction
    _stats = load_stats(index_dir)
    from splade_spark.operators.index_query import require_impacts

    require_impacts(_stats)
    n_buckets = _stats["n_buckets"]
    gap_codec = _stats.get("gap_codec", "vbyte")
    buckets = buckets_for_queries(queries, n_buckets)
    blocks = postings.filter(in_literals("bucket", buckets)).join(
        F.broadcast(qt.select("term_id").distinct()), "term_id", "left_semi"
    )
    # The pruning passes below (champion selection, cover join, retain
    # filter, and their driver collects) all run over block METADATA.
    # Materialize that projection ONCE and persist it: without this,
    # each pass re-scans the postings parquet (metadata column chunks
    # plus per-file footers, 4-5x), which at the bench scale costs more
    # bytes than the exhaustive payload read. The persisted relation is
    # the query terms' block-summary working set — O(query postings /
    # block_size) rows, executor-distributed, never driver-resident —
    # i.e. exactly the metadata a block-max index keeps hot at scale.
    meta = blocks.select(
        "term_id", "block_id", "n", "first_doc_id", "last_doc_id", "block_max"
    ).persist()
    _RELATION_WORKING_SET.append(meta)
    # per-(query, block) metadata — no bytes, no decode
    blocks_meta = meta.drop("n").join(F.broadcast(qt), "term_id")

    # ---- pass 1: champion-term floor ----------------------------------
    champ_w = Window.partitionBy("qid").orderBy(F.desc("ub"), F.asc("term_id"))
    champions = (
        qt.withColumn("rn", F.row_number().over(champ_w)).filter("rn = 1").drop("rn")
    )
    champ_keys = F.broadcast(champions.select("qid", "term_id", "q_tf"))
    # per query keep only the champion blocks with the highest
    # block_max until their postings cover >= k docs — the metadata
    # window runs over champion-block rows only, the decode over
    # ~k/block_size blocks instead of the whole champion posting list
    champ_meta = meta.select("term_id", "block_id", "n", "block_max").join(
        champ_keys, "term_id"
    )
    cum_w = (
        Window.partitionBy("qid")
        .orderBy(F.desc("block_max"), F.asc("block_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sel_pairs = (
        champ_meta.withColumn("cum_n", F.sum("n").over(cum_w))
        .filter(F.col("cum_n") - F.col("n") < k)
        .select("term_id", "block_id")
        .distinct()
    )
    champ_sel = _literal_block_src(
        postings,
        buckets,
        sel_pairs,
        fallback=blocks.join(
            F.broadcast(sel_pairs), ["term_id", "block_id"], "left_semi"
        ),
        pairs_sink=(debug_pairs, "champion") if debug_pairs is not None else None,
    )
    champ_decoded = decode_blocks_df(champ_sel, gap_codec)
    champ_partials = champ_decoded.join(champ_keys, "term_id").select(
        "qid", "doc_id", (F.col("q_tf") * F.col("impact")).alias("partial")
    )
    kth_w = Window.partitionBy("qid").orderBy(F.desc("partial"), F.asc("doc_id"))
    if not exact_floor:
        # theta = k-th largest champion partial among the decoded docs:
        # each is an exact lower bound of its doc's true score, so
        # >= k docs truly reach theta
        floors = (
            champ_partials.withColumn("rn", F.row_number().over(kth_w))
            .filter(F.col("rn") == k)
            .select("qid", F.col("partial").alias("theta"))
        )
    else:
        candidates = (
            champ_partials.withColumn("rn", F.row_number().over(kth_w))
            .filter(F.col("rn") <= k)
            .select("qid", "doc_id")
        )
        # exact-score the candidates: decode only blocks whose doc range
        # covers a candidate doc (broadcast NLJ on the tiny candidate set)
        cover_pairs = blocks_meta.alias("b").join(
            F.broadcast(candidates).alias("c"),
            (F.col("b.qid") == F.col("c.qid"))
            & (F.col("c.doc_id") >= F.col("b.first_doc_id"))
            & (F.col("c.doc_id") <= F.col("b.last_doc_id")),
        )
        cover_sel = cover_pairs.select("term_id", "block_id").distinct()
        cover_blocks = _literal_block_src(
            postings,
            buckets,
            cover_sel,
            fallback=blocks.join(cover_sel, ["term_id", "block_id"], "left_semi"),
            pairs_sink=(debug_pairs, "cover") if debug_pairs is not None else None,
        )
        cand_scores = (
            decode_blocks_df(cover_blocks, gap_codec)
            .join(F.broadcast(candidates), "doc_id")
            .join(F.broadcast(qt.select("qid", "term_id", "q_tf")), ["qid", "term_id"])
            .groupBy("qid", "doc_id")
            .agg(F.sum(F.col("q_tf") * F.col("impact")).alias("exact"))
        )
        floors = (
            cand_scores.groupBy("qid")
            .agg(
                F.count("*").alias("m"),
                F.sort_array(F.collect_list("exact"), False).alias("xs"),
            )
            .filter(F.col("m") >= k)
            .select("qid", F.element_at("xs", k).alias("theta"))
        )

    # ---- pass 2: block prune + exact scoring --------------------------
    total_ub = qt.groupBy("qid").agg(F.sum("ub").alias("total_ub"))
    retained_pairs = (
        blocks_meta.join(F.broadcast(total_ub), "qid")
        .join(F.broadcast(floors), "qid", "left")
        .withColumn("theta", F.coalesce(F.col("theta"), F.lit(threshold)))
        .withColumn(
            "block_ub",
            F.col("total_ub") - F.col("ub") + F.col("q_tf") * F.col("block_max"),
        )
        # PRUNE_EPS: rounding-tie + float-summation slack, see constant
        .filter(F.col("block_ub") >= F.col("theta") - F.lit(PRUNE_EPS))
        .select("qid", "term_id", "block_id", "q_tf")
    )
    if debug_counts is not None:
        debug_counts["blocks_total"] = blocks_meta.count()
        debug_counts["blocks_kept"] = retained_pairs.count()

    # floors feed BOTH the retained-pair collect below and the final
    # scoring DAG; persist the (one-row-per-query) relation so the
    # champion decode chain is not recomputed per action
    floors = floors.persist()
    _RELATION_WORKING_SET.append(floors)
    retained_sel = retained_pairs.select("term_id", "block_id").distinct()
    retained_blocks = _literal_block_src(
        postings,
        buckets,
        retained_sel,
        fallback=blocks.join(retained_sel, ["term_id", "block_id"], "left_semi"),
        pairs_sink=(debug_pairs, "retained") if debug_pairs is not None else None,
    )
    scored = (
        decode_blocks_df(retained_blocks, gap_codec)
        .join(F.broadcast(retained_pairs), ["term_id", "block_id"])
        .groupBy("qid", "doc_id")
        .agg(F.round(F.sum(F.col("q_tf") * F.col("impact")), 6).alias("score"))
        .filter(F.col("score") > F.lit(threshold))
    )
    return topk_window(scored, k)
