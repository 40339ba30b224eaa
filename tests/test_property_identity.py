"""Property-based rank identity: random tiny corpora (duplicate texts
=> exact score ties; tiny vocab => hot terms; tiny block/salt sizes =>
multi-block multi-salt encodes) through the FULL compressed path
(build_index -> search_fused and the pruned routes) must match the
numpy oracle that replicates the reference scorer
(task/evaluator.py:152-180), rank-for-rank under the pinned
(-score, doc_id) tie rule."""

from __future__ import annotations

import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from splade_spark.operators.bmp import build_bmp_index, search_bmp
from splade_spark.operators.index_build import build_index
from splade_spark.operators.index_query import search_fused
from splade_spark.operators.maxscore import search_maxscore_fused
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
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    corpus=corpus_st,
    qtexts=st.lists(query_st, min_size=1, max_size=2),
    gap_codec=st.sampled_from(["vbyte", "bitpack"]),
)
def test_compressed_paths_match_oracle(spark, corpus, qtexts, gap_codec):
    docs = spark.createDataFrame(
        sorted(corpus.items()), "doc_id long, text string"
    )
    oracle = OracleIndex(corpus)
    index_dir = tempfile.mkdtemp(prefix="prop_idx_")
    build_index(
        docs,
        index_dir,
        n_segments=2,
        n_buckets=4,
        block_size=4,
        salt_unit=8,
        gap_codec=gap_codec,
    )

    qrows = [(100 + i, t) for i, t in enumerate(qtexts)]

    want = {qid: oracle.score_query(text, K) for qid, text in qrows}

    # tiny doc blocks so the BMP certificate loop actually rounds over
    # many blocks (duplicate texts -> score ties exercise strictness)
    build_bmp_index(spark, index_dir, doc_block_size=8)

    for label, run in [
        ("fused", search_fused(spark, index_dir, qrows, k=K)),
        ("maxscore_fused", search_maxscore_fused(spark, index_dir, qrows, k=K)),
        ("bmp", search_bmp(spark, index_dir, qrows, k=K)),
    ]:
        got: dict[int, list[tuple[int, float]]] = {qid: [] for qid, _ in qrows}
        for r in sorted(run.collect(), key=lambda r: (r.qid, r.rank)):
            got[int(r.qid)].append((int(r.doc_id), float(r.score)))
        for qid, text in qrows:
            exp = want[qid]
            act = got[qid]
            assert len(act) == len(exp), (label, qid, text, act, exp)
            for (ed, es), (ad, asc) in zip(exp, act):
                assert ed == ad and abs(es - asc) < 1e-6, (
                    label,
                    qid,
                    text,
                    act,
                    exp,
                )
