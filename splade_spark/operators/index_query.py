"""Query execution against the materialized compressed index.

Reference lifecycle (task/evaluator.py:161-243): load the index, walk
each query term's posting list into a dense per-doc accumulator, then
a partial top-k.

``prepare_queries`` is the one query-prepare step of the three
driver-resident entry points (``search_fused`` here,
``maxscore.search_maxscore_fused``, ``bmp.search_bmp``): it tokenizes
the ``(qid, text)`` rows, reads the query terms' term_dict rows once,
and returns the per-query (term_id, q_tf) arrays, the per-term df and
max_impact, and the bucket-prune literals.

``search_fused`` answers a batch by one of three routes. One rule
picks them, from dictionary metadata alone:
``candidate_pairs`` = Σ over queries of the df of each query term, the
postings the batch's scoring visits.

1. ``driver`` — ``candidate_pairs <= DRIVER_POSTING_LIMIT``: pyarrow
   reads the bucket + term_id pruned blocks once, decodes them with
   ``decode_blocks_vectorized``, and ``score_batch`` scores every query
   in one vectorized pass (the reference's accumulator, batched over
   queries). The result relation is built from numpy columns
   (``tops_relation``); no Spark job runs before the caller collects.
2. ``doc`` — past the limit, when candidate_pairs also exceeds
   doc-major's emission bound (n_parts x queries x k) and the
   memory-guarded shard width stays at or above DOC_MAJOR_MIN_WIDTH:
   one exchange of the decoded postings by doc range, every shard
   scores all queries locally.
3. ``term`` — otherwise: pruned scan -> Arrow score kernel -> one
   shuffle of per-(qid, doc) partials -> top-k.

``strategy="term"|"doc"`` pins a Spark route. Every route rounds to
6 dp, applies the threshold, then ranks by (-score, doc_id), and all
three return identical rows. ``quantized=True`` runs the same routes
over the uint8 ``quant_bytes`` payload with x50-clip-255 integer query
weights (``query_weights``): PISA's integer ``sum(q_w * d_w)``, scores
``long``, kept when ``> 0``. The payload column names its decode dtype
in ``PAYLOAD_DTYPES``, the one place every decode looks it up.
"""

from __future__ import annotations

import json
import os
from collections import Counter
from collections.abc import Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from splade_spark import QUERY_SCALE, SCORE_THRESHOLD, TOPK_DEFAULT
from splade_spark.functions.codec import vbyte_decode
from splade_spark.operators.retrieval import topk_window


def load_stats(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "stats.json")) as f:
        return json.load(f)


def require_impacts(stats: dict) -> None:
    """Float-scoring paths need the float64 impact payload; a
    quantized-only index (store_impacts=False) serves quantized scoring
    only — fail loudly instead of scoring empty byte columns."""
    if not stats.get("store_impacts", True):
        raise ValueError(
            "index was built quantized-only (store_impacts=False); "
            "float-impact search is unavailable — use quantized=True"
        )


def in_literals(col: str, vals) -> "F.Column":
    """`col IN (...)` as ONE parsed SQL expression.

    ``Column.isin(vals)`` makes a py4j round trip PER literal
    (_create_column_from_literal) — measured 2.4s of serial driver
    time for a 4096-term batch, over half the whole batch wall at
    local[32] and a flat Amdahl floor at any cluster size. One
    F.expr string is one round trip + a JVM-side parse (ms), and
    compiles to the identical In predicate (same parquet pushdown).
    Int-only by construction (term_id / block_id / bucket literals)."""
    vs = sorted({int(v) for v in vals})
    if not vs:
        return F.lit(False)
    return F.expr(f"{col} IN ({','.join(map(str, vs))})")


def block_pairs_expr(by_term: dict) -> "F.Column":
    """OR-of-(term_id = t AND block_id IN bs) disjunction as ONE
    parsed SQL expression (see in_literals — a 20k-pair retained set
    via Column ops is tens of thousands of py4j round trips)."""
    parts = [
        f"(term_id = {int(t)} AND block_id IN "
        f"({','.join(str(int(b)) for b in sorted(bs))}))"
        for t, bs in sorted(by_term.items())
        if len(bs)
    ]
    if not parts:
        return F.lit(False)
    return F.expr(" OR ".join(parts))


class PreparedQueries(NamedTuple):
    """A driver-resident query batch resolved against the term
    dictionary (``prepare_queries``)."""

    stats: dict
    gap_codec: str
    # qid -> (term_ids int32 ascending, q_tf float64); queries with no
    # known term are absent
    q_arrs: dict[int, tuple[np.ndarray, np.ndarray]]
    hit_terms: list[int]
    df: dict[int, int]
    max_impact: dict[int, float]
    buckets: list[int]


def prepare_queries(index_dir: str, query_rows: list[tuple[int, str]]) -> PreparedQueries:
    """The one query-prepare step of ``search_fused``,
    ``search_maxscore_fused`` and ``search_bmp``: tokenize each
    ``(qid, text)`` row, resolve every distinct term with ONE pyarrow
    read of its term_dict row (term_id, df, max_impact), and derive the
    bucket-prune literals of the known terms (bucket is
    content-addressed: pmod(md5(term), n_buckets)).

    Reads stats.json and term_dict only, so a caller's df guard can
    still fall back before any postings or bmp dataset is opened. A
    repeated qid raises ValueError: its rows would otherwise have to
    be merged or dropped without the caller seeing it."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    from splade_spark.functions.hashing import py_md5_int
    from splade_spark.functions.tokenize import py_tokenize

    stats = load_stats(index_dir)
    qtf: dict[int, Counter] = {}
    for qid, text in query_rows:
        if qid in qtf:
            raise ValueError(f"duplicate qid {qid!r} in query_rows; every query needs its own qid")
        qtf[qid] = Counter(py_tokenize(text))
    all_terms = sorted({t for c in qtf.values() for t in c})
    # a typed value set: an empty batch filters to no rows instead of
    # failing on an untyped (null) set
    tbl = pads.dataset(os.path.join(index_dir, "term_dict")).to_table(
        columns=["term", "term_id", "df", "max_impact"],
        filter=pads.field("term").isin(pa.array(all_terms, type=pa.string())),
    )
    terms, tids = tbl.column("term").to_pylist(), tbl.column("term_id").to_pylist()
    tid_of = dict(zip(terms, tids))
    q_arrs = {}
    for qid, c in qtf.items():
        pairs = sorted((tid_of[t], float(w)) for t, w in c.items() if t in tid_of)
        if pairs:
            q_t, q_w = zip(*pairs)
            q_arrs[qid] = (np.array(q_t, dtype=np.int32), np.array(q_w, dtype=np.float64))
    return PreparedQueries(
        stats=stats,
        gap_codec=stats.get("gap_codec", "vbyte"),
        q_arrs=q_arrs,
        hit_terms=sorted(tids),
        df=dict(zip(tids, tbl.column("df").to_pylist())),
        max_impact=dict(zip(tids, tbl.column("max_impact").to_pylist())),
        buckets=sorted({py_md5_int(t) % stats["n_buckets"] for t in terms}),
    )


def load_postings(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(index_dir, "postings"))


def decode_gaps_many(
    ns: np.ndarray, gap_bytes: list, gap_codec: str = "vbyte"
) -> np.ndarray:
    """Decode many blocks' gap sequences into one array. VByte values
    never cross block boundaries, so the concatenated byte stream
    decodes as ONE sequence; bit-packed blocks carry a per-block width
    header, so they decode per block."""
    if len(ns) == 0:
        return np.zeros(0, dtype=np.uint64)
    if gap_codec == "vbyte":
        return vbyte_decode(b"".join(gap_bytes), int(ns.sum()))
    from splade_spark.functions.codec import GAP_CODECS

    dec = GAP_CODECS[gap_codec][1]
    return np.concatenate(
        [dec(g, int(n)) for g, n in zip(gap_bytes, ns)]
    )


def decode_doc_ids_vectorized(
    first_ids: np.ndarray, ns: np.ndarray, gap_bytes: list, gap_codec: str = "vbyte"
) -> np.ndarray:
    """Gap-decode MANY blocks' doc ids in one vectorized pass; ids
    come from a segmented cumsum of the gaps."""
    gaps = decode_gaps_many(ns, gap_bytes, gap_codec).astype(np.int64)
    starts = np.cumsum(ns) - ns
    first_gaps = gaps[starts]
    # in place: one per-posting array besides the gaps
    g = np.cumsum(gaps, out=gaps)
    g -= np.repeat(g[starts] - first_gaps - first_ids, ns)
    return g


# decode dtype of each posting-block payload column: the float64 BM25
# impacts of float scoring, or the uint8 quantized impacts (the PISA
# interchange payload, index2pisa.py:42-48) of quantized scoring
PAYLOAD_DTYPES = {"impact_bytes": np.float64, "quant_bytes": np.uint8}


def payload_for(quantized: bool) -> str:
    return "quant_bytes" if quantized else "impact_bytes"


def block_cols(payload: str = "impact_bytes") -> list[str]:
    """Posting-block columns a score decode reads."""
    return ["term_id", "first_doc_id", "n", "doc_gap_bytes", payload]


def query_weights(q_arrs: dict, quantized: bool) -> dict:
    """``prepare_queries``' {qid: (term_ids, q_tf)} with the scoring's
    query weights: q_tf for float scoring; for quantized scoring the
    reference's x50-clip-255 integer weights, min(q_tf * QUERY_SCALE,
    255) (inference_q_SPLADE.py:13,60). Query weights are integer term
    frequencies, so no truncation is needed."""
    if not quantized:
        return q_arrs
    return {
        qid: (tids, np.minimum(q_tf * QUERY_SCALE, 255))
        for qid, (tids, q_tf) in q_arrs.items()
    }


def decode_blocks_vectorized(
    first_ids: np.ndarray,
    ns: np.ndarray,
    gap_bytes: list,
    payload_bytes: list,
    gap_codec: str = "vbyte",
    payload: str = "impact_bytes",
) -> tuple[np.ndarray, np.ndarray]:
    """(doc_ids, impacts) across many blocks at once; impacts have the
    payload's PAYLOAD_DTYPES dtype."""
    doc_ids = decode_doc_ids_vectorized(first_ids, ns, gap_bytes, gap_codec)
    impacts = np.frombuffer(b"".join(payload_bytes), dtype=PAYLOAD_DTYPES[payload])
    return doc_ids, impacts


def decode_block_frame(
    pdf: pd.DataFrame, gap_codec: str = "vbyte", payload: str = "impact_bytes"
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(term_ids, doc_ids, impacts), one entry per posting, of a pandas
    frame of posting blocks (``block_cols(payload)``)."""
    ns = pdf["n"].to_numpy(dtype=np.int64)
    doc_ids, impacts = decode_blocks_vectorized(
        pdf["first_doc_id"].to_numpy(dtype=np.int64),
        ns,
        list(pdf["doc_gap_bytes"]),
        list(pdf[payload]),
        gap_codec,
        payload,
    )
    return np.repeat(pdf["term_id"].to_numpy(dtype=np.int64), ns), doc_ids, impacts


DECODED_SCHEMA = "term_id int, block_id long, doc_id long, impact double"
_BLOCK_COLS = ["block_id", *block_cols()]


def _make_decode_postings(gap_codec: str):
    """Arrow-batch block decode -> (term_id, block_id, doc_id, impact).

    Each block is decoded ONCE regardless of how many queries touch
    its term; the query fan-out happens afterwards as a JVM-side
    broadcast join (codegen), not in Python."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            tids, doc_ids, impacts = decode_block_frame(pdf, gap_codec)
            yield pd.DataFrame(
                {
                    "term_id": tids.astype(np.int32),
                    "block_id": np.repeat(
                        pdf["block_id"].to_numpy(dtype=np.int64),
                        pdf["n"].to_numpy(dtype=np.int64),
                    ),
                    "doc_id": doc_ids,
                    "impact": impacts,
                }
            )

    return run


def decode_blocks_df(blocks: DataFrame, gap_codec: str = "vbyte") -> DataFrame:
    return blocks.select(*_BLOCK_COLS).mapInPandas(
        _make_decode_postings(gap_codec), schema=DECODED_SCHEMA
    )


def _make_decode_postings_quant(gap_codec: str):
    """Arrow-batch decode of the uint8 quantized impacts ->
    (term_id, doc_id, d_w)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            tids, doc_ids, d_w = decode_block_frame(pdf, gap_codec, "quant_bytes")
            yield pd.DataFrame(
                {
                    "term_id": tids.astype(np.int32),
                    "doc_id": doc_ids,
                    "d_w": d_w.astype(np.int32),
                }
            )

    return run


def decode_blocks_quant_df(blocks: DataFrame, gap_codec: str = "vbyte") -> DataFrame:
    return blocks.select(*block_cols("quant_bytes")).mapInPandas(
        _make_decode_postings_quant(gap_codec),
        schema="term_id int, doc_id long, d_w int",
    )


def make_score_kernel(q_arrs: dict, gap_codec: str = "vbyte", payload: str = "impact_bytes"):
    """Build the Arrow scoring kernel shared by search_fused and
    search_maxscore_fused: gap-decode a batch of blocks once, then
    fan partial products out PER TERM to only the queries containing
    that term (term -> [(qid, weight)] expansion). The earlier
    formulation scanned the full decoded batch once per query —
    O(n_queries x batch) row-visits; this is O(sum over terms of
    |postings_t| x |queries containing t|), the relational join's
    work, inside one numpy kernel."""
    t2q: dict[int, list[tuple[int, float]]] = {}
    for qid, (tids, ws) in q_arrs.items():
        for t, w in zip(tids.tolist(), ws.tolist()):
            t2q.setdefault(int(t), []).append((qid, float(w)))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            tid_arr, doc_ids, impacts = decode_block_frame(pdf, gap_codec, payload)
            order = np.argsort(tid_arr, kind="stable")
            sorted_tids = tid_arr[order]
            uniq_t, starts = np.unique(sorted_tids, return_index=True)
            ends = np.append(starts[1:], len(sorted_tids))
            acc_d: dict[int, list] = {}
            acc_w: dict[int, list] = {}
            for t, s, e in zip(uniq_t.tolist(), starts.tolist(), ends.tolist()):
                hits = t2q.get(int(t))
                if not hits:
                    continue
                seg = order[s:e]
                d_seg = doc_ids[seg]
                w_seg = impacts[seg]
                for qid, qw in hits:
                    acc_d.setdefault(qid, []).append(d_seg)
                    acc_w.setdefault(qid, []).append(qw * w_seg)
            for qid, parts in acc_d.items():
                d = np.concatenate(parts)
                w = np.concatenate(acc_w[qid])
                uniq, inv = np.unique(d, return_inverse=True)
                yield pd.DataFrame(
                    {
                        "qid": np.int64(qid),
                        "doc_id": uniq,
                        "partial": np.bincount(inv, weights=w),
                    }
                )

    return kernel


# term-major emits O(sum over queries of candidate docs) partial rows
# into the score shuffle — batch size multiplies shuffle volume.
# Doc-major shuffles the decoded postings ONCE (packed blobs) and
# emits only per-partition top-ks, so it wins exactly when the
# term-major row estimate dwarfs doc-major's emission bound of
# n_parts x n_queries x k (the dense-match regime: candidate sets
# far deeper than k).
#
# FACTOR pinned to the measured knee (scripts/docmajor_crossover_
# bench.py, 1M docs x vocab in {50k..200} x batch in {64,512},
# local[32], ratio = candidate_pairs / emit_bound):
#   ratio 0.38 -> term wins both batches (2.46s vs 2.79s at 512)
#   ratio 0.94 -> tie at 64 (1.48/1.53), doc wins 512 (3.57/2.87)
#   ratio 1.88 -> doc wins both (6.06s vs 3.29s at 512)
#   ratio 3.75 -> doc wins 6.4x at 512 (24.0s vs 3.77s)
# i.e. the two plans cross where the two row bounds cross — at
# ratio ~1, exactly the theory's prediction. The earlier 4M-doc
# replicated-corpus point (164M pairs vs 192k bound, ratio ~850:
# doc 6.3s vs term 50s at local[8]) sits deep on the doc side.
DOC_MAJOR_FACTOR = 1
# Per-task dense-accumulator budget for the doc-major score kernel: a
# live shard holds one float64 row of shard_width entries per distinct
# hit term (bound = hit_terms x shard_width x 8 bytes — the kernel
# processes one shard at a time, so this IS the transient peak). The
# default geometry (n_docs / (4 x parallelism)) grows with corpus
# size; unguarded, a diverse 4096-query batch over a billion-doc shard
# would need multi-GB per task. The guard shrinks shard_width until
# the bound fits the budget (more shards per partition — more bincount
# passes, same shuffle bytes, memory bounded).
DOC_MAJOR_ACC_BUDGET_BYTES = 256 << 20
# below this guarded width the pack kernel fragments every posting
# block across many shards (row multiplication); auto falls back to
# term-major instead (a pinned strategy="doc" still runs, guarded)
DOC_MAJOR_MIN_WIDTH = 1024


def _guarded_shard_geometry(
    n_docs: int, n_parts: int, n_hit_terms: int
) -> tuple[int, int]:
    """(shard_width, n_shards) honoring DOC_MAJOR_ACC_BUDGET_BYTES:
    hit_terms x shard_width x 8 <= budget."""
    n_shards = n_parts * 2
    shard_width = max(1, (n_docs + n_shards - 1) // n_shards)
    cap = max(1, DOC_MAJOR_ACC_BUDGET_BYTES // (8 * max(n_hit_terms, 1)))
    if shard_width > cap:
        shard_width = cap
        n_shards = (n_docs + shard_width - 1) // shard_width
    return shard_width, n_shards


def _docmajor_pack_kernel(shard_width: int, gap_codec: str, payload: str):
    """Pass 1: decode pruned posting blocks and pack each (doc_shard,
    term) group into ONE binary row — int32 in-shard doc offsets +
    impacts in the payload's dtype (float64, or uint8 when quantized).
    The doc-range exchange then moves thousands of
    blob rows instead of ~|postings| narrow rows: shuffle BYTES stay
    O(pruned postings) while the per-row JVM (de)serialization cost —
    measured dominant at ~100M rows — collapses with the row count."""
    import pyarrow as pa

    def kernel(batches):
        for b in batches:
            if not b.num_rows:
                continue
            tbl = pa.Table.from_batches([b])
            ns = tbl.column("n").to_numpy(zero_copy_only=False).astype(np.int64)
            doc_ids, impacts = decode_blocks_vectorized(
                tbl.column("first_doc_id")
                .to_numpy(zero_copy_only=False)
                .astype(np.int64),
                ns,
                tbl.column("doc_gap_bytes").to_pylist(),
                tbl.column(payload).to_pylist(),
                gap_codec,
                payload,
            )
            tid_rep = np.repeat(
                tbl.column("term_id").to_numpy(zero_copy_only=False).astype(np.int64),
                ns,
            )
            shard = doc_ids // shard_width
            offs = (doc_ids - shard * shard_width).astype(np.int32)
            # single combined sort key (shard-major, term-minor) —
            # ~2x faster than a two-key lexsort on ~1M-row batches;
            # sparse 64-bit doc-id spaces can overflow the packed key,
            # so fall back to lexsort when shard ids are that large
            if len(shard) and int(shard.max()) < (1 << 31):
                order = np.argsort(
                    (shard << np.int64(31)) | tid_rep, kind="stable"
                )
            else:
                order = np.lexsort((tid_rep, shard))
            sh_s, t_s = shard[order], tid_rep[order]
            off_s, imp_s = offs[order], impacts[order]
            chg = np.nonzero((np.diff(sh_s) != 0) | (np.diff(t_s) != 0))[0] + 1
            starts = np.concatenate([[0], chg]).astype(np.int64)
            ends = np.concatenate([chg, [len(sh_s)]]).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(sh_s[starts], type=pa.int64()),
                    pa.array(t_s[starts].astype(np.int32), type=pa.int32()),
                    pa.array(
                        [off_s[s:e].tobytes() for s, e in zip(starts, ends)],
                        type=pa.binary(),
                    ),
                    pa.array(
                        [imp_s[s:e].tobytes() for s, e in zip(starts, ends)],
                        type=pa.binary(),
                    ),
                ],
                names=["shard", "term_id", "offs", "vals"],
            )

    return kernel


def _docmajor_score_kernel(
    q_arrs: dict, k: int, threshold: float, shard_width: int, payload: str
):
    """Pass 2: per-doc-shard scoring. Every query is broadcast
    (closure) to every shard; a shard holds ALL hit-term postings for
    its doc range, so scores are FINAL locally — the reference's dense
    accumulator (task/evaluator.py:161-180), sharded. Each term is
    bincounted ONCE into a width-sized accumulator row; a query's
    scores are the weighted sum of its terms' rows. Emits only the
    shard's per-query top-k candidates: no (qid, doc) pair ever
    enters a shuffle, so batch size never multiplies shuffle volume."""
    import pyarrow as pa

    def kernel(batches):
        bl = [b for b in batches if b.num_rows]
        if not bl:
            return
        tbl = pa.Table.from_batches(bl)
        sh = tbl.column("shard").to_numpy(zero_copy_only=False)
        tid = tbl.column("term_id").to_numpy(zero_copy_only=False)
        offs = tbl.column("offs").to_pylist()
        vals = tbl.column("vals").to_pylist()
        # the hash exchange can land several doc shards in one
        # partition: process shard-by-shard so only one shard's
        # accumulators are live at a time
        order = np.argsort(sh, kind="stable")
        uniq_sh, s_starts = np.unique(sh[order], return_index=True)
        s_ends = np.append(s_starts[1:], len(order))
        cand_d: dict[int, list] = {}
        cand_s: dict[int, list] = {}
        for shard_v, ss, se in zip(
            uniq_sh.tolist(), s_starts.tolist(), s_ends.tolist()
        ):
            rows = order[ss:se]
            acc_rows: dict[int, np.ndarray] = {}
            for r in rows.tolist():
                o = np.frombuffer(offs[r], dtype=np.int32)
                v = np.frombuffer(vals[r], dtype=PAYLOAD_DTYPES[payload])
                row = np.bincount(o, weights=v, minlength=shard_width)
                t = int(tid[r])
                prev = acc_rows.get(t)
                acc_rows[t] = row if prev is None else prev + row
            base = int(shard_v) * shard_width
            for qid, (tids, ws) in q_arrs.items():
                acc = None
                for t, w in zip(tids.tolist(), ws.tolist()):
                    row = acc_rows.get(int(t))
                    if row is not None:
                        acc = row * float(w) if acc is None else acc + row * float(w)
                if acc is None:
                    continue
                nz = np.nonzero(acc)[0]
                s_cand = np.round(acc[nz], 6)
                keep = s_cand > threshold
                d_cand = (nz[keep] + base).astype(np.int64)
                s_cand = s_cand[keep]
                if len(d_cand) > k:
                    # cheap shard-level pre-cut: keep the k best (plus
                    # ties at the cut) before the partition-level merge
                    cut = np.partition(s_cand, len(s_cand) - k)[len(s_cand) - k]
                    pre = s_cand >= cut
                    d_cand, s_cand = d_cand[pre], s_cand[pre]
                if len(d_cand):
                    cand_d.setdefault(qid, []).append(d_cand)
                    cand_s.setdefault(qid, []).append(s_cand)
        # ONE top-k per query per PARTITION (not per shard): emitted
        # rows are bounded by n_partitions x queries x k, independent
        # of how many doc shards hash into this partition. Global
        # (-score, doc_id) tie rule throughout — anything in the
        # global top-k survives every level of this cut.
        out_q, out_d, out_s = [], [], []
        for qid, parts in cand_d.items():
            d_cand = np.concatenate(parts)
            s_cand = np.concatenate(cand_s[qid])
            if len(d_cand) > k:
                cut = np.partition(s_cand, len(s_cand) - k)[len(s_cand) - k]
                pre = s_cand >= cut
                d_pre, s_pre = d_cand[pre], s_cand[pre]
                top = np.lexsort((d_pre, -s_pre))[:k]
                d_cand, s_cand = d_pre[top], s_pre[top]
            out_q.append(np.full(len(d_cand), qid, dtype=np.int64))
            out_d.append(d_cand)
            out_s.append(s_cand)
        if out_q:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q), type=pa.int64()),
                    pa.array(np.concatenate(out_d), type=pa.int64()),
                    pa.array(np.concatenate(out_s), type=pa.float64()),
                ],
                names=["qid", "doc_id", "score"],
            )

    return kernel


def _search_fused_docmajor(
    spark: SparkSession,
    index_dir: str,
    q_arrs: dict,
    buckets: list[int],
    hit_terms: list[int],
    k: int,
    threshold: float,
    gap_codec: str,
    n_docs: int,
    payload: str,
) -> DataFrame:
    """Doc-major batch plan: pruned scan -> Arrow block decode ->
    ONE exchange of the decoded postings hashed on contiguous doc
    ranges -> shard-local dense-accumulator scoring of ALL queries ->
    union of shard top-ks -> final window. Shuffle volume is
    O(pruned postings), independent of how many queries are in the
    batch — the doc-partitioned shard architecture every large search
    deployment uses, expressed as a Spark exchange."""
    postings = load_postings(spark, index_dir)
    pruned = postings.filter(
        in_literals("bucket", buckets) & in_literals("term_id", hit_terms)
    )
    n_parts = max(spark.sparkContext.defaultParallelism * 2, 8)
    # ~2 doc shards per partition smooths the hash-placement Poisson
    # imbalance (1 shard/partition leaves ~1/e of partitions empty)
    # without multiplying per-shard accumulator + emission overhead;
    # _guarded_shard_geometry then shrinks shard_width if the dense
    # accumulator bound (hit_terms x shard_width x 8 B) would exceed
    # the per-task budget
    shard_width, _n_shards = _guarded_shard_geometry(
        n_docs, n_parts, len(hit_terms)
    )
    packed = pruned.select(*block_cols(payload)).mapInArrow(
        _docmajor_pack_kernel(shard_width, gap_codec, payload),
        schema="shard long, term_id int, offs binary, vals binary",
    )
    sharded = packed.repartition(n_parts, "shard")
    shard_top = sharded.mapInArrow(
        _docmajor_score_kernel(q_arrs, k, threshold, shard_width, payload),
        schema="qid long, doc_id long, score double",
    )
    return topk_window(shard_top, k)


def term_major_top(
    spark: SparkSession,
    index_dir: str,
    keep: "F.Column",
    q_arrs: dict,
    gap_codec: str,
    k: int,
    threshold: float,
    payload: str = "impact_bytes",
) -> DataFrame:
    """Term-major Spark plan over the postings blocks ``keep`` selects
    (literal pushdowns): Arrow kernel (decode, q_tf multiply, per-doc
    partial bincount — output rows ~= candidate docs, not postings) ->
    one shuffle -> final agg -> top-k."""
    blocks = load_postings(spark, index_dir).filter(keep).select(*block_cols(payload))
    partials = blocks.mapInPandas(
        make_score_kernel(q_arrs, gap_codec, payload),
        schema="qid long, doc_id long, partial double",
    )
    scored = (
        partials.groupBy("qid", "doc_id")
        .agg(F.round(F.sum("partial"), 6).alias("score"))
        .filter(F.col("score") > F.lit(threshold))
    )
    if len(q_arrs) == 1:
        # one query: a global orderBy + limit (per-partition partial
        # top-k + driver merge) instead of a one-partition window
        scored = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    return topk_window(scored, k)


# Driver work limit shared by search_fused (candidate_pairs) and
# search_maxscore_fused (retained postings of each query's terms,
# summed over queries): at or under it the driver scores the batch
# with score_batch; past it Spark decodes and scores in parallel.
#
# Pinned by scripts/driver_crossover_bench.py (k=1000, local[4], 4
# cores / 15 GB, 4 GB driver heap; best of 3, identical rows on every
# route in every cell; ms as pandas / as a relation collected with
# toPandas).
# search_fused --api fused, driver vs pinned doc-major vs term-major.
# "read" is the distinct postings the driver decodes; the wide shape
# (64-term uniform vocabulary, every posting read once per batch) has
# read = pairs, the driver's worst case per candidate posting:
#   shape, docs, queries      pairs   read   driver       doc          term
#   dense, 30k, 64            3.7M    87k     94 / 359   1315 / 1374   3125 / 2672
#   selective, 30k, 1024      245k   122k    169 / 944   1712 / 2347   2208 / 1450
#   dense, 120k, 64          14.8M   348k    294 / 482   1414 / 1571   9499 / 8995
#   wide, 240k, 1             5.0M   5.0M    756 / 745   1868 / 2092   1949 / 1667
#   wide, 240k, 4             5.0M   5.0M    661 / 672   1808 / 2009   2811 / 2446
#   wide, 700k, 1            14.5M  14.5M   2452 / 2280  3104 / 3325   3833 / 3442
#   wide, 700k, 4            14.5M  14.5M   2312 / 2418  3502 / 3062   7462 / 7125
# The driver relation's createDataFrame -> toPandas round trip is 238,
# 755 and 235 ms of the first three relation walls. Driver memory
# follows the postings read: tracemalloc peak 24-31 MB on the first
# three cells, 319 MB at 5.0M and 930 MB at 14.5M (67 B per posting,
# reached in the vbyte gap decode), plus an Arrow pool of 49 / 149 MB.
# search_maxscore_fused, driver vs Spark (one job), measured on the
# per-query driver loop that score_batch replaced:
#   dense, 240k docs,  1 query,     394k postings  141 vs 1226 /  318 vs 1314
#   dense, 240k docs,  4 queries,   1.8M           440 vs 2587 /  543 vs 2909
#   dense, 240k docs,  16 queries,  7.3M          1177 vs 6029 / 1370 vs 6184
#   dense, 240k docs,  32 queries,  14.8M         2239 vs 12223 / 2375 vs 11958
#   selective, 30k docs, 1024 queries, 245k       1878 vs 4321 / 2874 vs 4087
#   selective, 30k docs, 4096 queries, 981k       3644 vs 7907 / 6891 vs 8083
# The driver wins every cell, so there is no crossover on this box up
# to 14.8M candidate pairs or 14.5M distinct postings; the margin is
# narrowest (1.3x) where every candidate posting is distinct. The
# selective cells bound the per-query fixed cost, so the measure
# needs no per-query term. The limit is the largest measured cell,
# rounded down; it also bounds the distinct postings read (read <=
# pairs), which the wide cells cover, so the driver peaks near 1 GB.
# More cores shrink only Spark's per-posting share; re-measure before
# raising this on a cluster.
DRIVER_POSTING_LIMIT = 14_000_000

# Transient bytes score_batch may hold per chunk of queries: the
# chunk's dense accumulator (8 B per query x unique doc) plus, for the
# sparse sum, its gathered cells, weights and sort (~48 B per
# candidate posting at peak).
DRIVER_ACC_BUDGET_BYTES = 64 << 20

# The dense accumulator costs ~15 ns per cell (allocate, round, scan)
# plus ~6 ns per candidate posting (scatter-add); the sparse sum ~100
# ns per candidate posting (sort). Dense wins while cells are at most
# this many times the chunk's candidate postings (numpy 1.26, one
# core: 3.8M postings at 0.5 cells each, dense 22 ms vs sparse 375
# ms; 246k postings at 125 cells each, dense 441 ms vs sparse 12 ms).
# End to end, perfbench dense batch_qps (10 s runs, seeds 2101-2108,
# alternating): 162.6 queries/s with both sums vs 96.3 with the sparse
# sum alone (this constant at 0), 8/8 pairs, sparse-only IQR 14.5.
_DENSE_CELLS_PER_POSTING = 4

_TOPS_TYPES = {"qid": np.int64, "doc_id": np.int64, "score": np.float64, "rank": np.int32}


def empty_tops(quantized: bool = False) -> tuple:
    """Zero-row (qid, doc_id, score, rank) columns; quantized scores
    are int64."""
    types = {**_TOPS_TYPES, "score": np.int64} if quantized else _TOPS_TYPES
    return tuple(np.zeros(0, dtype=t) for t in types.values())


def tops_relation(spark: SparkSession, cols=(), as_local: bool = False):
    """(qid, doc_id, score, rank) numpy columns (empty by default) ->
    pandas when ``as_local``, else a Spark relation built from the
    columns, so it travels as Arrow batches, not per-row tuples. An
    int64 score column (quantized scoring) gives ``score long``."""
    pdf = pd.DataFrame({
        name: np.asarray(c, dtype=None if name == "score" else t)
        for (name, t), c in zip(_TOPS_TYPES.items(), cols or empty_tops())
    })
    if as_local:
        return pdf
    score_type = "long" if pdf["score"].dtype == np.int64 else "double"
    return spark.createDataFrame(pdf, f"qid long, doc_id long, score {score_type}, rank int")


def rank_top(q: np.ndarray, d: np.ndarray, s: np.ndarray, k: int) -> tuple:
    """(q, d, s, rank) of the rows ranked by (q, -s, d), rank 1-based
    within each q, cut at rank <= k."""
    o = np.lexsort((d, -s, q))
    q, d, s = q[o], d[o], s[o]
    rank = np.arange(1, len(q) + 1) - np.searchsorted(q, q)
    top = rank <= k
    return q[top], d[top], s[top], rank[top].astype(np.int32)


def _query_chunks(cost: np.ndarray, budget: int) -> list[int]:
    """Greedy chunk bounds over queries: each chunk's summed cost stays
    within ``budget`` unless one query alone exceeds it."""
    bounds, used = [0], 0
    for i, c in enumerate(cost.tolist()):
        if used and used + c > budget:
            bounds.append(i)
            used = 0
        used += c
    return bounds + [len(cost)]


def _sum_dense(pairs, drank, imp, n_u, cells, threshold):
    """(sorted cells, 6-dp scores > threshold) of a chunk's (row, start,
    n, weight) pairs, summed in a dense accumulator with one row per
    query. A term holds one posting per doc, so each pair's scatter-add
    hits distinct cells; pairs add in term order, as the Spark kernels
    do. Untouched cells stay 0.0 and fail ``> threshold`` (>= 0)."""
    acc = np.zeros(cells)
    for row, s, n, w in zip(*(a.tolist() for a in pairs)):
        acc[row:row + n_u][drank[s:s + n]] += w * imp[s:s + n]
    np.round(acc, 6, out=acc)
    key = np.flatnonzero(acc > threshold)
    return key, acc[key]


def _sum_sparse(pairs, drank, imp, total, threshold):
    """Same result as ``_sum_dense``: gather every pair's postings (idx
    runs start..start+n per pair) and bincount over the sorted unique
    cells."""
    rows, starts, ns, ws = pairs
    idx = np.repeat(starts - (np.cumsum(ns) - ns), ns) + np.arange(total)
    keys = np.repeat(rows, ns) + drank[idx]
    vals = np.repeat(ws, ns) * imp[idx]
    del idx
    key, inv = np.unique(keys, return_inverse=True)
    score = np.round(np.bincount(inv, weights=vals), 6)
    keep = score > threshold
    return key[keep], score[keep]


def score_batch(
    q_arrs: dict,
    tids: np.ndarray,
    doc_ids: np.ndarray,
    impacts: np.ndarray,
    k: int,
    threshold: float = SCORE_THRESHOLD,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Exhaustive top-k of every query in ``q_arrs`` ({qid: (term_ids,
    weights)}, term_ids ascending) over decoded postings (one entry
    per posting in ``tids``/``doc_ids``/``impacts``, cheapest when
    grouped by ascending term id) -> (qid, doc_id, score, rank) columns
    in (qid, rank) order.

    One batch-at-a-time numpy kernel. Doc ids are replaced by their
    dense rank (doc ids are arbitrary int64), so (query, doc) is the
    cell ``q * n_docs + rank``. Each chunk of queries sums its
    (query, term) pairs' q_tf x impact products in term order: into a
    dense accumulator while it has at most _DENSE_CELLS_PER_POSTING
    cells per candidate posting, else by a ``bincount`` over the
    sorted unique cells. Chunks keep the transient bytes under
    DRIVER_ACC_BUDGET_BYTES. Scores round to 6 dp and pass the
    threshold before ranking; each query is pre-cut at its k-th score
    (ties kept), then one ``lexsort((doc, -score, q))`` ranks them."""
    qids = np.array(sorted(q_arrs), dtype=np.int64)
    if (tids[1:] < tids[:-1]).any():
        # group postings by term; callers that decode blocks sorted by
        # term_id skip this sort and its three per-posting copies
        order = np.argsort(tids, kind="stable")
        tids, doc_ids, impacts = tids[order], doc_ids[order], impacts[order]
        del order
    # hash factorize + a sort of the unique ids only: the ranks of
    # np.unique(return_inverse=True) without sorting every posting
    drank, uniq_doc = pd.factorize(doc_ids, sort=True)
    n_u = len(uniq_doc)
    t_start = np.flatnonzero(np.diff(tids, prepend=-1))  # term ids are >= 0
    uniq_t, t_end = tids[t_start], np.append(t_start[1:], len(tids))
    # one (query, term, weight) pair per query term that has postings
    n_terms = [len(q_arrs[q][0]) for q in qids.tolist()]
    p_q = np.repeat(np.arange(len(qids)), n_terms)
    p_t = np.concatenate([q_arrs[q][0] for q in qids.tolist()] + [[]]).astype(np.int64)
    p_w = np.concatenate([q_arrs[q][1] for q in qids.tolist()] + [[]])
    pos = np.minimum(np.searchsorted(uniq_t, p_t), max(len(uniq_t) - 1, 0))
    hit = uniq_t[pos] == p_t if len(uniq_t) else np.zeros(len(p_t), dtype=bool)
    p_q, p_w, pos = p_q[hit], p_w[hit], pos[hit]
    p_s, p_n = t_start[pos], t_end[pos] - t_start[pos]
    cost = 8 * n_u + 48 * np.bincount(p_q, weights=p_n, minlength=len(qids))
    out = []
    bounds = _query_chunks(cost.astype(np.int64), DRIVER_ACC_BUDGET_BYTES)
    for qa, qb in zip(bounds[:-1], bounds[1:]):
        pa, pb = np.searchsorted(p_q, [qa, qb])
        ns = p_n[pa:pb]
        total = int(ns.sum())
        if not total:
            continue
        pairs = ((p_q[pa:pb] - qa) * n_u, p_s[pa:pb], ns, p_w[pa:pb])
        cells = (qb - qa) * n_u
        if threshold >= 0 and cells <= _DENSE_CELLS_PER_POSTING * total:
            key, score = _sum_dense(pairs, drank, impacts, n_u, cells, threshold)
        else:
            key, score = _sum_sparse(pairs, drank, impacts, total, threshold)
        # pre-cut: keep each query's candidates scoring >= its k-th
        # score (all ties at the cut survive to the lexsort). Cells are
        # sorted, so query j's candidates are one run of them.
        seg = np.searchsorted(key, np.arange(qb - qa + 1) * n_u)
        keep = np.ones(len(score), dtype=bool)
        for j in np.flatnonzero(np.diff(seg) > k).tolist():
            a, b = seg[j], seg[j + 1]
            cut = np.partition(score[a:b], b - a - k)[b - a - k]
            keep[a:b] = score[a:b] >= cut
        q_loc, d_loc = np.divmod(key[keep], n_u)
        q_loc, d_loc, score, rank = rank_top(q_loc, d_loc, score[keep], k)
        out.append((qids[qa + q_loc], uniq_doc[d_loc], score, rank))
    if not out:
        return empty_tops()
    return tuple(np.concatenate(c) for c in zip(*out))


def search_fused(
    spark: SparkSession,
    index_dir: str,
    query_rows: list[tuple[int, str]],
    k: int = TOPK_DEFAULT,
    threshold: float = SCORE_THRESHOLD,
    strategy: str = "auto",
    debug_counts: dict | None = None,
    as_local: bool = False,
    quantized: bool = False,
):
    """Exhaustive top-k for driver-resident queries (the reference's
    own query-loading shape, evaluate.py:80-86) -> (qid, doc_id, score,
    rank).

    ``prepare_queries`` resolves the batch, and one rule picks the
    route from its term dictionary rows alone (no postings access):
    ``candidate_pairs``, the df of every query term summed over
    queries, is exactly the driver's scoring work. A repeated qid
    raises ValueError.

    * ``"driver"``: candidate_pairs <= DRIVER_POSTING_LIMIT. pyarrow
      reads the bucket + term_id pruned blocks once, decodes them, and
      ``score_batch`` scores the whole batch; the relation is built
      from its numpy columns. Zero Spark jobs before collection.
    * ``"doc"``: past the limit, when candidate_pairs also exceeds
      DOC_MAJOR_FACTOR x doc-major's emission bound (n_parts x queries
      x k) and the memory-guarded shard width is at least
      DOC_MAJOR_MIN_WIDTH (``_search_fused_docmajor``).
    * ``"term"``: otherwise. A bucket + term_id pruned scan ->
      ``term_major_top``.

    ``strategy="term"|"doc"`` pins that Spark route; ``"auto"`` (the
    default) applies the rule. ``debug_counts`` records the ``route``,
    ``driver_work`` (= candidate_pairs) and ``postings_read`` (the
    distinct postings the driver decodes). ``as_local=True`` returns
    pandas: the driver route skips the relation round trip, Spark
    routes collect with ``toPandas()``.

    ``quantized=True`` scores PISA's integer ``sum(q_w * d_w)`` on every
    route: uint8 ``quant_bytes`` impacts, ``query_weights``' x50-clip
    query weights, ``score long`` kept when ``> 0`` (``threshold`` is
    for float scores). It is the only scoring a ``store_impacts=False``
    index serves.
    """
    import pyarrow.dataset as pads

    prep = prepare_queries(index_dir, query_rows)
    if quantized:
        threshold = 0
    else:
        require_impacts(prep.stats)
    payload = payload_for(quantized)
    q_arrs = query_weights(prep.q_arrs, quantized)
    hit_terms, buckets = prep.hit_terms, prep.buckets
    candidate_pairs = sum(prep.df[int(t)] for tids, _ in q_arrs.values() for t in tids)
    # doc-major's output is bounded by n_parts x n_queries x k while
    # term-major's score shuffle carries ~candidate_pairs rows; go
    # doc-major when the collapse is worth its extra exchange (see the
    # DOC_MAJOR_* comments), unless the guarded geometry would fragment
    # shards below DOC_MAJOR_MIN_WIDTH docs
    n_parts = max(spark.sparkContext.defaultParallelism * 2, 8)
    emit_bound = n_parts * max(len(q_arrs), 1) * k
    guarded_width, _ = _guarded_shard_geometry(
        int(prep.stats["n_docs"]), n_parts, len(hit_terms)
    )
    if not q_arrs or (strategy == "auto" and candidate_pairs <= DRIVER_POSTING_LIMIT):
        route = "driver"
    elif strategy == "doc" or (
        strategy == "auto"
        and candidate_pairs > DOC_MAJOR_FACTOR * emit_bound
        and guarded_width >= DOC_MAJOR_MIN_WIDTH
    ):
        route = "doc"
    else:
        route = "term"
    if debug_counts is not None:
        debug_counts.update(
            route=route, driver_work=candidate_pairs,
            postings_read=sum(prep.df.values()),
        )

    if route == "driver":
        tops = empty_tops()
        if q_arrs:
            blocks = pads.dataset(
                os.path.join(index_dir, "postings"), partitioning="hive"
            ).to_table(
                columns=block_cols(payload),
                filter=pads.field("bucket").isin(buckets)
                & pads.field("term_id").isin(hit_terms),
            ).to_pandas().sort_values("term_id", kind="stable")
            decoded = decode_block_frame(blocks, prep.gap_codec, payload)
            del blocks  # the encoded bytes are dead once decoded
            tops = score_batch(q_arrs, *decoded, k, threshold)
        if quantized:
            tops = (*tops[:2], tops[2].astype(np.int64), tops[3])
        return tops_relation(spark, tops, as_local)
    if route == "doc":
        top = _search_fused_docmajor(
            spark, index_dir, q_arrs, buckets, hit_terms, k, threshold,
            prep.gap_codec, int(prep.stats["n_docs"]), payload,
        )
    else:
        top = term_major_top(
            spark, index_dir, in_literals("bucket", buckets) & in_literals("term_id", hit_terms),
            q_arrs, prep.gap_codec, k, threshold, payload,
        )
    if quantized:
        top = top.withColumn("score", F.col("score").cast("long"))
    return top.toPandas() if as_local else top

