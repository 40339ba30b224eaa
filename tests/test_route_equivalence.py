"""Cross-route equivalence: ``search_fused``'s three routes (driver,
term-major, doc-major), ``search_maxscore_fused``'s driver route (same
batch scorer), float ``search_bmp`` and the numpy oracle return
identical (qid, doc_id, score, rank) on small seeded corpora; with
``quantized=True`` the three ``search_fused`` routes, quantized
``search_bmp`` and the integer oracle do too, so any route can be
re-routed or deleted safely.

The corpora carry the shapes where routes could drift apart: duplicate
documents (exact score ties, including at the k-th cut), duplicate
query terms (q_tf = 2), out-of-vocabulary queries, doc ids at or above
2^40, bit-packed gaps, and an index grown by ``append_index``."""

from __future__ import annotations

import numpy as np
import pytest

from splade_spark.operators import index_query
from splade_spark.operators.bmp import build_bmp_index, search_bmp
from splade_spark.operators.index_build import append_index, build_index
from splade_spark.operators.index_query import search_fused
from splade_spark.operators.maxscore import search_maxscore_fused
from splade_spark.oracle import OracleIndex

VOCAB = 14
KS = (1, 10, 1000)
# doc ids are spread over 2^30 values, so a BMP doc block holds ~10 docs
BMP_DOC_BLOCK = 1 << 26


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """Zipf-like documents; every text appears twice, so scores tie."""
    out = []
    for _ in range(n // 2):
        ln = int(rng.integers(2, 9))
        ids = np.minimum(np.floor(np.exp(rng.uniform(0, np.log(VOCAB + 1), ln))) - 1, VOCAB - 1)
        out += [" ".join(f"w{int(i)}" for i in ids)] * 2
    return out


def _queries(rng: np.random.Generator) -> list[tuple[int, str]]:
    rows = [
        (1, "w0 w0 w3"),  # duplicate term: q_tf = 2
        (2, "zzzz qqqq"),  # out of vocabulary only
        (3, "w1 zzzz"),  # one known term, one unknown
    ]
    for qid in range(4, 10):
        ids = rng.choice(VOCAB, size=int(rng.integers(1, 5)), replace=False)
        rows.append((qid, " ".join(f"w{int(i)}" for i in ids)))
    return rows


def _build(spark, path, seed, gap_codec, first_id, append):
    rng = np.random.default_rng(seed)
    texts = _texts(rng, 160)
    ids = (first_id + np.sort(rng.choice(1 << 30, len(texts), replace=False))).tolist()
    docs = dict(zip(ids, texts))
    base = sorted(docs.items())
    extra = []
    if append:
        base, extra = base[: len(base) - 40], base[len(base) - 40 :]
    frame = spark.createDataFrame(base, "doc_id long, text string")
    build_index(
        frame, path, n_segments=2, n_buckets=4, block_size=8, salt_unit=32,
        gap_codec=gap_codec,
    )
    if extra:
        append_index(spark.createDataFrame(extra, "doc_id long, text string"), path)
    for quantized in (False, True):
        build_bmp_index(spark, path, doc_block_size=BMP_DOC_BLOCK, quantized=quantized)
    return path, OracleIndex(docs), _queries(rng)


CORPORA = {
    "vbyte_ids_past_2_40": dict(seed=5, gap_codec="vbyte", first_id=1 << 40, append=False),
    "bitpack_appended": dict(seed=9, gap_codec="bitpack", first_id=0, append=True),
}


@pytest.fixture(scope="module", params=sorted(CORPORA))
def corpus(request, spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp(f"routes_{request.param}"))
    return _build(spark, path, **CORPORA[request.param])


def _rows(got) -> list[tuple]:
    if hasattr(got, "toPandas"):
        got = got.toPandas()
    return sorted(
        (int(q), int(d), float(s), int(r))
        for q, d, s, r in got[["qid", "doc_id", "score", "rank"]].itertuples(index=False)
    )


def _oracle_rows(oracle, qrows, k, quantized=False) -> list[tuple]:
    score = oracle.score_query_quantized if quantized else oracle.score_query
    return sorted(
        (qid, d, s, r)
        for qid, text in qrows
        for r, (d, s) in enumerate(score(text, k), start=1)
    )


@pytest.mark.parametrize("k", KS)
def test_routes_match_oracle(spark, corpus, k):
    path, oracle, qrows = corpus
    for quantized in (False, True):
        want = _oracle_rows(oracle, qrows, k, quantized)
        assert want
        by_route = {}
        for strategy in ("auto", "term", "doc"):
            counts: dict = {}
            got = search_fused(
                spark, path, qrows, k=k, strategy=strategy, debug_counts=counts,
                quantized=quantized,
            )
            assert dict(got.dtypes)["score"] == ("bigint" if quantized else "double")
            by_route[counts["route"]] = _rows(got)
        assert by_route == {"driver": want, "term": want, "doc": want}, quantized
    want = _oracle_rows(oracle, qrows, k)
    # the MaxScore driver route shares the batch scorer
    counts = {}
    got = search_maxscore_fused(spark, path, qrows, k=k, debug_counts=counts, as_local=True)
    assert counts["route"] == "driver" and _rows(got) == want
    if k == 1:
        # ties at the cut: some query has more docs at its best score
        # than k keeps, so the (-score, doc_id) rule decides the row
        full = oracle.score_query(qrows[0][1], 1000)
        assert len(full) > 1 and full[0][1] == full[1][1]


def test_bmp_matches_oracle(spark, corpus):
    """Float BMP returns the oracle's rows and quantized BMP returns
    ``search_fused(quantized=True)``'s rows at every k. BMP's stop
    certificate depends on k; the quantized reference runs once, since
    its top-k is the rank <= k prefix of its top-1000."""
    path, oracle, qrows = corpus
    quant = _rows(search_fused(spark, path, qrows, k=max(KS), quantized=True))
    for k in KS:
        counts: dict = {}
        got = search_bmp(spark, path, qrows, k=k, debug_counts=counts)
        assert _rows(got) == _oracle_rows(oracle, qrows, k), k
        assert counts["doc_blocks_evaluated"] > 0  # the BMP loop ran, no fallback
        got = search_bmp(spark, path, qrows, k=k, quantized=True)
        assert _rows(got) == [r for r in quant if r[3] <= k], k


def test_empty_and_oov_batches(spark, corpus):
    path, _, _ = corpus
    for qrows in ([], [(7, "zzzz"), (8, "qqqq qqqq")]):
        counts: dict = {}
        assert _rows(search_fused(spark, path, qrows, k=10, debug_counts=counts)) == []
        assert counts == {"route": "driver", "driver_work": 0, "postings_read": 0}
        for strategy in ("auto", "term", "doc"):
            assert _rows(search_fused(spark, path, qrows, k=10, strategy=strategy)) == []
            got = search_fused(spark, path, qrows, k=10, strategy=strategy, quantized=True)
            assert _rows(got) == [] and dict(got.dtypes)["score"] == "bigint"
        assert _rows(search_maxscore_fused(spark, path, qrows, k=10, as_local=True)) == []
        for quantized in (False, True):
            assert _rows(search_bmp(spark, path, qrows, k=10, quantized=quantized)) == []


def test_repeated_qid_raises(spark, corpus):
    """A qid on two rows is an error on every driver-resident entry
    point, not a silent merge or drop of one row's terms."""
    path, _, _ = corpus
    qrows = [(1, "w0"), (1, "w3")]
    for run in (
        lambda: search_fused(spark, path, qrows, k=10),
        lambda: search_maxscore_fused(spark, path, qrows, k=10, as_local=True),
        lambda: search_bmp(spark, path, qrows, k=10),
        lambda: search_bmp(spark, path, qrows, k=10, quantized=True),
    ):
        with pytest.raises(ValueError, match="duplicate qid 1"):
            run()


def test_squeezed_budget_scores_in_chunks(spark, corpus, monkeypatch):
    """A one-byte accumulator budget forces one query per chunk; the
    chunked driver route still returns the oracle's rows."""
    path, oracle, qrows = corpus
    chunks = []
    real = index_query._query_chunks

    def spy(cost, budget):
        bounds = real(cost, budget)
        chunks.append(len(bounds) - 1)
        return bounds

    monkeypatch.setattr(index_query, "_query_chunks", spy)
    monkeypatch.setattr(index_query, "DRIVER_ACC_BUDGET_BYTES", 1)
    for k in KS:
        got = search_fused(spark, path, qrows, k=k, as_local=True)
        assert _rows(got) == _oracle_rows(oracle, qrows, k), k
    assert min(chunks) > 1, chunks


@pytest.mark.parametrize(
    "cells_per_posting, path", [(0, "_sum_sparse"), (1 << 40, "_sum_dense")]
)
def test_each_summation_path_matches_oracle(spark, corpus, monkeypatch, cells_per_posting, path):
    """_DENSE_CELLS_PER_POSTING = 0 sends every chunk to the sparse sum,
    a huge value every chunk to the dense accumulator; either path alone
    returns the oracle's rows."""
    path_dir, oracle, qrows = corpus
    ran = []
    for name in ("_sum_dense", "_sum_sparse"):
        real = getattr(index_query, name)
        monkeypatch.setattr(
            index_query, name, lambda *a, _n=name, _f=real: ran.append(_n) or _f(*a)
        )
    monkeypatch.setattr(index_query, "_DENSE_CELLS_PER_POSTING", cells_per_posting)
    for k in KS:
        got = search_fused(spark, path_dir, qrows, k=k, as_local=True)
        assert _rows(got) == _oracle_rows(oracle, qrows, k), k
    assert ran and set(ran) == {path}, ran
