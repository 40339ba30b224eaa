"""Property-based identity for the QUANTIZED scoring path: random tiny
corpora through build_index -> search_fused(quantized=True) must match
the numpy oracle's integer sum(q_w * d_w) over rint-quantized impacts
(``OracleIndex.score_query_quantized``) — the arithmetic PISA runs on
the reference's exported index (index2pisa.py:42-48 +
inference_q_SPLADE.py:13,60).

Integer scores make this check EXACT (no float rounding tolerance):
any disagreement in quantization, decode, or accumulation is a hard
mismatch.
"""

from __future__ import annotations

import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from splade_spark.operators.index_build import build_index
from splade_spark.operators.index_query import search_fused
from splade_spark.oracle import OracleIndex

WORDS = ["aa", "bb", "cc", "dd", "ee", "ff"]
doc_text = st.lists(st.sampled_from(WORDS), min_size=1, max_size=12).map(" ".join)
corpus_st = st.dictionaries(
    st.integers(min_value=0, max_value=60), doc_text, min_size=3, max_size=12
)
query_st = st.lists(st.sampled_from(WORDS + ["zz"]), min_size=1, max_size=4).map(
    " ".join
)

K = 5


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=corpus_st, qtexts=st.lists(query_st, min_size=1, max_size=2))
def test_quantized_search_matches_integer_oracle(spark, corpus, qtexts):
    docs = spark.createDataFrame(sorted(corpus.items()), "doc_id long, text string")
    oracle = OracleIndex(corpus)
    index_dir = tempfile.mkdtemp(prefix="propq_idx_")
    build_index(docs, index_dir, n_segments=2, n_buckets=4, block_size=4, salt_unit=8)

    qrows = [(100 + i, t) for i, t in enumerate(qtexts)]
    run = search_fused(spark, index_dir, qrows, k=K, quantized=True).collect()

    got: dict[int, list[tuple[int, int]]] = {qid: [] for qid, _ in qrows}
    for r in sorted(run, key=lambda r: (r.qid, r.rank)):
        got[int(r.qid)].append((int(r.doc_id), r.score))
    for qid, text in qrows:
        assert got[qid] == oracle.score_query_quantized(text, K), (qid, text)
