"""Independent BM25 result check.

A numpy re-statement of ``splade_spark.oracle.OracleIndex`` built from
the generator's token ids, not from the engine's tokenizer or index:
the same K1/B, Lucene idf, scores rounded to 6 dp, the
``SCORE_THRESHOLD`` filter and the ``(-score, doc_id)`` tie rule.

Scores are compared as whole micro-units (6-dp score × 10^6), so the
tie rule is checked exactly: the engine's list must be ordered by
``(-score, doc_id)``, every doc must carry the oracle's score, and no
doc the engine left out may rank before its last row.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

import numpy as np

from splade_spark import B, K1, SCORE_THRESHOLD

# Each engine route adds a query's impacts in its own order, so its raw
# score may differ from the oracle's in the last few ulps. That changes
# the 6-dp score only for a raw score this close (in micro-units) to a
# rounding boundary; such an "edge" doc may carry either neighbouring
# 6-dp value. Every other doc must carry the oracle's value exactly.
EDGE_MICRO = 1e-5
THRESHOLD_MICRO = SCORE_THRESHOLD * 1e6


@dataclass
class Want:
    """Oracle scores of one query over every doc it touches."""

    doc_ids: np.ndarray  # int64, ascending
    micro: np.ndarray  # int64 6-dp score in micro-units
    edge: np.ndarray  # bool, raw score at a rounding boundary


class Oracle:
    def __init__(self, corpora, k: int):
        self.k = k
        doc_ids = np.concatenate([c.doc_ids for c in corpora])
        lens = np.concatenate([np.diff(c.offsets) for c in corpora])
        tokens = np.concatenate([c.tokens for c in corpora]).astype(np.int64)
        n = len(doc_ids)
        avgdl = int(lens.sum()) / n
        doc_of_tok = np.repeat(np.arange(n, dtype=np.int64), lens)
        vocab = int(tokens.max()) + 1
        keys, tf = np.unique(tokens * n + doc_of_tok, return_counts=True)
        term, doc = keys // n, keys % n  # postings sorted by (term, doc)
        df = np.bincount(term, minlength=vocab).astype(np.float64)
        idf = np.log(1.0 + (n - df + 0.5) / (df + 0.5))
        tf = tf.astype(np.float64)
        dl = lens[doc].astype(np.float64)
        sat = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
        self.impact = idf[term] * sat
        self.doc = doc
        self.ptr = np.concatenate([[0], np.cumsum(np.bincount(term, minlength=vocab))])
        self.doc_ids = doc_ids
        self.n = n
        self.df = df
        self._cache: dict[str, Want] = {}

    def term_ids(self, text: str) -> Counter:
        return Counter(int(t[1:]) for t in text.split())

    def want(self, text: str) -> Want:
        hit = self._cache.get(text)
        if hit is not None:
            return hit
        scores = np.zeros(self.n, dtype=np.float64)
        for t, q_tf in self.term_ids(text).items():
            if t + 1 < len(self.ptr):
                s, e = self.ptr[t], self.ptr[t + 1]
                scores[self.doc[s:e]] += float(q_tf) * self.impact[s:e]  # docs unique per term
        cand = np.nonzero(scores)[0]
        raw = scores[cand] * 1e6
        order = np.argsort(self.doc_ids[cand], kind="stable")
        hit = Want(
            doc_ids=self.doc_ids[cand][order],
            micro=np.rint(np.round(scores[cand], 6) * 1e6).astype(np.int64)[order],
            edge=(np.abs(raw - np.floor(raw) - 0.5) < EDGE_MICRO)[order],
        )
        self._cache[text] = hit
        return hit


def matches(got_d, got_s, want: Want, k: int) -> bool:
    """True when the engine's ranked (doc_ids, scores) is the top-k the
    oracle allows: ordered by the tie rule, scored as the oracle scores,
    and missing no doc that ranks before its last row."""
    got_m = np.rint(np.asarray(got_s, dtype=np.float64) * 1e6).astype(np.int64)
    got_d = np.asarray(got_d, dtype=np.int64)
    n = len(got_d)
    if n > k or np.any(got_m <= THRESHOLD_MICRO) or len(np.unique(got_d)) != n:
        return False
    # the engine's own list, ordered by (-score, doc_id)
    if n > 1 and not np.all(
        (got_m[:-1] > got_m[1:]) | ((got_m[:-1] == got_m[1:]) & (got_d[:-1] < got_d[1:]))
    ):
        return False
    # every returned doc carries the oracle's score (an edge doc may be
    # one micro-unit off)
    idx = np.searchsorted(want.doc_ids, got_d)
    if np.any(idx >= len(want.doc_ids)) or not np.array_equal(want.doc_ids[idx], got_d):
        return False
    diff = np.abs(got_m - want.micro[idx])
    if np.any((diff > 1) | ((diff == 1) & ~want.edge[idx])):
        return False
    # every doc left out ranks after the last row, or falls under the
    # threshold, even at the lowest score the oracle allows it
    out = np.ones(len(want.doc_ids), dtype=bool)
    out[idx] = False
    lo = want.micro[out] - want.edge[out]
    lo_d = want.doc_ids[out]
    above = lo > THRESHOLD_MICRO
    if n < k:
        return not np.any(above)
    last_m, last_d = got_m[-1], got_d[-1]
    before = (lo > last_m) | ((lo == last_m) & (lo_d < last_d))
    return not np.any(above & before)


def split_by_qid(pdf) -> dict[int, tuple[np.ndarray, np.ndarray]]:
    """Engine rows (qid, doc_id, score, rank) -> {qid: lists in rank order}."""
    q = pdf["qid"].to_numpy(dtype=np.int64)
    r = pdf["rank"].to_numpy(dtype=np.int64)
    d = pdf["doc_id"].to_numpy(dtype=np.int64)
    s = pdf["score"].to_numpy(dtype=np.float64)
    order = np.lexsort((r, q))
    q, d, s = q[order], d[order], s[order]
    cuts = np.flatnonzero(np.diff(q)) + 1
    return {
        int(qs[0]): (ds, ss)
        for qs, ds, ss in zip(np.split(q, cuts), np.split(d, cuts), np.split(s, cuts))
        if len(qs)
    }


def check_rows(oracle: Oracle, query_rows, pdf) -> int:
    """Number of queries in ``query_rows`` whose engine rows differ
    from the oracle's top-k."""
    got = split_by_qid(pdf)
    empty = np.zeros(0, dtype=np.int64), np.zeros(0)
    bad = 0
    for qid, text in query_rows:
        gd, gs = got.pop(qid, empty)
        bad += not matches(gd, gs, oracle.want(text), oracle.k)
    return bad + len(got)  # rows for qids never asked are wrong too


def same_rows(a, b, want: Want) -> bool:
    """True when two engine routes return the same ranked rows for one
    query; they may differ only in docs at a rounding edge."""
    (ad, as_), (bd, bs) = a, b
    if np.array_equal(ad, bd) and np.array_equal(as_, bs):
        return True
    idx = np.searchsorted(want.doc_ids, np.union1d(ad, bd))
    idx = idx[idx < len(want.doc_ids)]
    return bool(np.any(want.edge[idx]))
