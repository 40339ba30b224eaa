"""Bit-packed gap codec: round-trip property + a full bitpack-built
index answering queries identically to the vbyte-built one, at a
smaller postings footprint on gap-dense data."""

from __future__ import annotations

import os
import tempfile

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from splade_spark.functions.codec import bitpack_decode, bitpack_encode


@settings(max_examples=50, deadline=None)
@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=2**48 - 1), min_size=0, max_size=200
    )
)
def test_bitpack_round_trip(vals):
    a = np.array(vals, dtype=np.uint64)
    out = bitpack_decode(bitpack_encode(a), len(a))
    assert (out == a).all()


def test_bitpack_index_matches_vbyte(spark, tmp_path):
    from splade_spark.engine import bm25_run
    from splade_spark.operators.index_build import build_index
    from splade_spark.operators.index_query import search_fused
    from splade_spark.operators.maxscore import search_maxscore_fused
    from splade_spark.sources.pages import load_documents
    from splade_spark.synth import derive_queries

    docs = load_documents(spark, "/root/testdata/sf0.001")
    queries = derive_queries(docs)
    qrows = [(int(r.qid), r.text) for r in queries.orderBy("qid").collect()]
    want = sorted(
        (r.qid, r.rank, r.doc_id, r.score) for r in bm25_run(docs, k=10).collect()
    )

    idx = str(tmp_path / "bp_idx")
    build_index(docs, idx, n_segments=2, n_buckets=8, gap_codec="bitpack")
    import json

    assert json.load(open(idx + "/stats.json"))["gap_codec"] == "bitpack"

    for label, run in [
        ("fused", search_fused(spark, idx, qrows, k=10)),
        ("maxscore_fused", search_maxscore_fused(spark, idx, qrows, k=10)),
    ]:
        got = sorted((r.qid, r.rank, r.doc_id, r.score) for r in run.collect())
        assert got == want, label


def test_quantized_only_index(spark, tmp_path):
    """store_impacts=False: the PISA-shaped footprint — quantized
    search works and matches a full index's quantized run; float
    search fails loudly."""
    import pytest

    from splade_spark.operators.index_build import build_index
    from splade_spark.operators.index_query import search_fused
    from splade_spark.sources.pages import load_documents
    from splade_spark.synth import derive_queries

    docs = load_documents(spark, "/root/testdata/sf0.001")
    qrows = [(int(r.qid), r.text) for r in derive_queries(docs).collect()]

    full_idx = str(tmp_path / "full")
    build_index(docs, full_idx, n_segments=2, n_buckets=8)
    qonly_idx = str(tmp_path / "qonly")
    build_index(
        docs, qonly_idx, n_segments=2, n_buckets=8,
        gap_codec="bitpack", store_impacts=False,
    )

    want = sorted(
        (r.qid, r.rank, r.doc_id, r.score)
        for r in search_fused(spark, full_idx, qrows, k=10, quantized=True).collect()
    )
    got = sorted(
        (r.qid, r.rank, r.doc_id, r.score)
        for r in search_fused(spark, qonly_idx, qrows, k=10, quantized=True).collect()
    )
    assert got == want

    with pytest.raises(ValueError, match="quantized-only.*use quantized=True"):
        search_fused(spark, qonly_idx, qrows, k=10)


def test_bitpack_smaller_on_dense_gaps(spark, tmp_path):
    # consecutive doc ids -> gaps of 1 -> 1 bit/value + header vs
    # vbyte's 8 bits/value
    from splade_spark.functions.codec import vbyte_encode

    gaps = np.ones(128, dtype=np.uint64)
    assert len(bitpack_encode(gaps)) < len(vbyte_encode(gaps)) / 4
