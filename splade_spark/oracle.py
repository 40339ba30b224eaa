"""Single-node numpy oracle — reimplements the reference's retrieval
semantics exactly, as the rank-identity spec for the Spark engine.

Mirrors task/evaluator.py:161-180: per query term, traverse its
posting list accumulating ``scores[doc] += q_w * d_w`` into a dense
accumulator over the whole collection, filter ``scores > threshold``
(default 0.0, :213), then take top-k (argpartition :152-159; within-k
order is unspecified in the reference, so ranking here applies the
pinned tie rule (-score, doc_id) that the engine and pytrec_eval-style
evaluation both use).

float64 throughout (the oracle is the spec; the reference uses
float32 at evaluator.py:169 — see SURVEY.md §7 hard parts).
"""

from __future__ import annotations

import math
import re
from collections import Counter

import numpy as np

from splade_spark import B, DOC_SCALE, K1, QUERY_SCALE, SCORE_THRESHOLD, TOKEN_SPLIT_RE

_SPLIT = re.compile(TOKEN_SPLIT_RE)


def tokenize(text: str) -> list[str]:
    return [t for t in _SPLIT.split((text or "").lower()) if t]


class OracleIndex:
    """Dict-of-arrays inverted index over (doc_id -> text) docs, the
    reference's IndexDictOfArray shape (indexing/inverted_index.py:16-56)
    with BM25 impacts as posting values."""

    def __init__(self, docs: dict[int, str]):
        self.doc_ids = sorted(docs)
        self.pos = {d: i for i, d in enumerate(self.doc_ids)}
        self.n = len(self.doc_ids)
        tfs: dict[int, Counter] = {d: Counter(tokenize(t)) for d, t in docs.items()}
        dls = {d: sum(c.values()) for d, c in tfs.items()}
        self.avgdl = sum(dls.values()) / self.n if self.n else 0.0
        df: Counter = Counter()
        for c in tfs.values():
            df.update(c.keys())
        self.df = dict(df)
        # term -> (positions int array, impacts float64 array), ascending doc_id
        self.postings: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        acc: dict[str, list[tuple[int, float]]] = {}
        for d in self.doc_ids:
            dl = dls[d]
            for term, tf in tfs[d].items():
                idf = math.log(1.0 + (self.n - df[term] + 0.5) / (df[term] + 0.5))
                sat = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / self.avgdl))
                acc.setdefault(term, []).append((self.pos[d], idf * sat))
        for term, pairs in acc.items():
            ids = np.array([p for p, _ in pairs], dtype=np.int64)
            ws = np.array([w for _, w in pairs], dtype=np.float64)
            self.postings[term] = (ids, ws)

    def score_query(
        self, text: str, k: int, threshold: float = SCORE_THRESHOLD
    ) -> list[tuple[int, float]]:
        """[(doc_id, score_rounded6)] ranked by (-score, doc_id), len<=k."""
        scores = np.zeros(self.n, dtype=np.float64)  # dense accumulator
        for term, q_tf in Counter(tokenize(text)).items():
            if term in self.postings:
                ids, ws = self.postings[term]
                np.add.at(scores, ids, float(q_tf) * ws)
        rounded = np.round(scores, 6)
        cand = np.nonzero(rounded > threshold)[0]
        ranked = sorted(
            ((self.doc_ids[i], float(rounded[i])) for i in cand),
            key=lambda p: (-p[1], p[0]),
        )
        return ranked[:k]

    def score_query_quantized(self, text: str, k: int) -> list[tuple[int, int]]:
        """[(doc_id, int_score)] ranked by (-score, doc_id), len<=k: the
        integer ``sum(q_w * d_w)`` PISA runs on the exported index —
        rint-quantized doc impacts (index2pisa.py:42-48) and x50-clip-255
        query weights (inference_q_SPLADE.py:13,60) — scores > 0."""
        scores = np.zeros(self.n, dtype=np.int64)
        for term, q_tf in Counter(tokenize(text)).items():
            if term in self.postings:
                ids, ws = self.postings[term]
                d_w = np.clip(np.rint(ws * DOC_SCALE), 0, 255).astype(np.int64)
                np.add.at(scores, ids, min(q_tf * QUERY_SCALE, 255) * d_w)
        ranked = sorted(
            ((self.doc_ids[i], int(scores[i])) for i in np.nonzero(scores > 0)[0]),
            key=lambda p: (-p[1], p[0]),
        )
        return ranked[:k]
