"""Seeded corpus and query generators for the benchmark workloads.

Everything a run feeds the engine comes from here and is a pure
function of ``(workload, seed)``: documents are lists of integer token
ids rendered as ``"w<id>"`` words, so the numpy oracle in ``check.py``
scores from the ids themselves and never reads the engine's output
format. The engine receives only the rendered ``(doc_id, text)`` rows
and ``(qid, text)`` query rows.
"""

from __future__ import annotations

import itertools
import zlib
from dataclasses import dataclass

import numpy as np

QUERY_TERMS = 4  # distinct term ids per query
K = 1000  # top-k of every query, the evaluation shape
N_BASE = 30_000  # documents indexed by build_index
N_DRAIN = 1_200  # fresh documents appended with append_index


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    vocab: int
    len_lo: int  # document length range in tokens, inclusive
    len_hi: int
    log_uniform: bool  # Zipf-like term ids instead of uniform
    head_terms: int  # queries combine ids < head_terms (0 = any ids)
    batch_size: int  # queries per search_fused batch
    n_batches: int  # distinct batches in the query pool
    batch_share: float  # share of the timed region spent on batches
    salt_unit: int | None  # build_index salt_unit (None = engine default)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="selective",
            why=(
                "uniform 2.5k-term vocabulary, so a 4-term query touches under 1% "
                "of docs: driver prep, index open and per-job cost dominate"
            ),
            vocab=2_500,
            len_lo=3,
            len_hi=7,
            log_uniform=False,
            head_terms=0,
            batch_size=1024,
            n_batches=4,
            batch_share=0.5,
            salt_unit=None,
        ),
        Workload(
            name="dense",
            why=(
                "Zipf-like vocabulary with queries over the head terms, so every "
                "query matches most docs: exchange bytes and the score kernel dominate"
            ),
            vocab=2_000,
            len_lo=6,
            len_hi=30,
            log_uniform=True,
            head_terms=6,
            batch_size=64,
            n_batches=8,
            batch_share=0.35,
            salt_unit=4096,
        ),
    )
}


@dataclass
class Corpus:
    doc_ids: np.ndarray  # int64 [n]
    offsets: np.ndarray  # int64 [n + 1], token slice of each doc
    tokens: np.ndarray  # int32 token ids

    def texts(self) -> list[str]:
        vocab = np.array([f"w{i}" for i in range(int(self.tokens.max()) + 1)], dtype=object)
        words = vocab[self.tokens].tolist()
        off = self.offsets.tolist()
        return [" ".join(words[a:b]) for a, b in zip(off[:-1], off[1:])]

    def frame(self):
        import pandas as pd

        return pd.DataFrame({"doc_id": self.doc_ids, "text": self.texts()})


def _rng(w: Workload, seed: int, stream: str) -> np.random.Generator:
    key = zlib.crc32(f"{w.name}/{stream}".encode())
    return np.random.default_rng([seed, key])


def _corpus(w: Workload, rng: np.random.Generator, first_id: int, n: int) -> Corpus:
    lens = rng.integers(w.len_lo, w.len_hi + 1, n)
    total = int(lens.sum())
    if w.log_uniform:
        # P(id = i) ~ ln((i + 2) / (i + 1)): a few hot terms in most
        # docs and a long tail of small posting lists
        u = rng.uniform(0.0, np.log(w.vocab + 1), total)
        tokens = np.minimum(np.floor(np.exp(u)) - 1, w.vocab - 1)
    else:
        tokens = rng.integers(0, w.vocab, total)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    return Corpus(
        doc_ids=np.arange(first_id, first_id + n, dtype=np.int64),
        offsets=offsets,
        tokens=tokens.astype(np.int32),
    )


def base_corpus(w: Workload, seed: int) -> Corpus:
    return _corpus(w, _rng(w, seed, "base"), 0, N_BASE)


def drain_corpus(w: Workload, seed: int) -> Corpus:
    """Fresh pages: doc_ids continue past the base, so never overlap."""
    return _corpus(w, _rng(w, seed, "drain"), N_BASE, N_DRAIN)


def query_pool(w: Workload, seed: int) -> list[list[tuple[int, str]]]:
    """``n_batches`` batches of ``batch_size`` (qid, text) rows; each
    query has ``QUERY_TERMS`` distinct term ids, drawn uniformly or, with
    ``head_terms``, cycling through every combination of the head terms.
    qids are unique across the pool."""
    rng = _rng(w, seed, "queries")
    n = w.n_batches * w.batch_size
    if w.head_terms:
        # every combination of head terms, in a seeded order, repeated
        combos = np.array(list(itertools.combinations(range(w.head_terms), QUERY_TERMS)))
        ids = combos[np.resize(rng.permutation(len(combos)), n)]
    else:
        ids = rng.integers(0, w.vocab, (n, QUERY_TERMS))
        while True:  # redraw queries that repeat a term
            dup = (np.diff(np.sort(ids, axis=1), axis=1) == 0).any(axis=1)
            if not dup.any():
                break
            ids[dup] = rng.integers(0, w.vocab, (int(dup.sum()), QUERY_TERMS))
    rows = [(q, " ".join(f"w{t}" for t in ids[q].tolist())) for q in range(n)]
    return [rows[i : i + w.batch_size] for i in range(0, n, w.batch_size)]
