"""Pruning-is-lossless: MaxScore/block-max top-k must equal exhaustive
top-k on every fixture query, while actually skipping blocks.

Lossless argument: theta_q is the k-th largest single-term lower
bound (contributions are nonnegative), so >= k docs have true score
>= theta_q. A pruned block's UB bounds every member doc's total
score below theta_q, hence (a) no top-k doc loses a block (its score
stays exact) and (b) any partially-scored doc scores < theta_q and
cannot displace a top-k doc.
"""

from __future__ import annotations

import pytest

from splade_spark.operators.index_build import build_index
from splade_spark.operators.index_query import search_fused
from splade_spark.operators.maxscore import search_maxscore_fused
from splade_spark.sources.pages import load_documents
from splade_spark.synth import derive_queries

from tests.conftest import SF_SMOKE

K = 10


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("idx_ms"))
    docs = load_documents(spark, SF_SMOKE)
    build_index(docs, index_dir, n_segments=2, n_buckets=8, block_size=16, salt_unit=64)
    return index_dir


def test_maxscore_lossless_and_prunes(spark, built):
    docs = load_documents(spark, SF_SMOKE)
    qrows = [(int(r.qid), r.text) for r in derive_queries(docs).collect()]
    want = (
        search_fused(spark, built, qrows, k=K)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    counts: dict = {}
    got = (
        search_maxscore_fused(spark, built, qrows, k=K, debug_counts=counts)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert (got.qid.values == want.qid.values).all()
    assert (got.doc_id.values == want.doc_id.values).all()
    assert (got.score.values == want.score.values).all()
    # fixture vocabulary is tiny (~50 terms) so almost every doc matches
    # every query term — little headroom here; real pruning asserted in
    # test_maxscore_prunes_skewed_corpus
    assert counts["blocks_kept"] <= counts["blocks_total"], counts


def test_maxscore_prunes_skewed_corpus(spark, tmp_path):
    """One rare high-idf term + one common term with impact variance:
    every common-term block not containing the champion doc has
    UB = ub_rare + block_max < theta = ub_rare + ub_common -> pruned."""
    rows = [(0, "alpha beta beta beta beta")]
    for d in range(1, 400):
        rows.append((d, f"beta fill{d % 7} fill{d % 11} fill{d % 13} fill{d % 17}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    index_dir = str(tmp_path / "skew_idx")
    build_index(docs, index_dir, n_segments=1, n_buckets=4, block_size=8, salt_unit=64)
    qrows = [(1, "alpha beta")]
    counts: dict = {}
    got = search_maxscore_fused(spark, index_dir, qrows, k=1, debug_counts=counts).toPandas()
    want = search_fused(spark, index_dir, qrows, k=1).toPandas()
    assert got.equals(want)
    assert int(got.doc_id.iloc[0]) == 0
    assert counts["blocks_kept"] < counts["blocks_total"] / 2, counts


def test_maxscore_single_term_queries(spark, built):
    qrows = [(1, "the"), (2, "zzznotaterm"), (3, "spark table")]
    want = search_fused(spark, built, qrows, k=K).toPandas()
    got = search_maxscore_fused(spark, built, qrows, k=K).toPandas()
    w = want.sort_values(["qid", "rank"]).reset_index(drop=True)
    g = got.sort_values(["qid", "rank"]).reset_index(drop=True)
    assert g.equals(w)
    assert set(g.qid) <= {1, 3}  # OOV query empty


def test_fused_as_local_identity(spark, built):
    """as_local=True returns the same relation as pandas — including
    the empty (all-OOV) shape — at ~zero Spark-materialization cost."""
    import pandas as pd

    docs = load_documents(spark, SF_SMOKE)
    queries = derive_queries(docs)
    qrows = [(int(r.qid), r.text) for r in queries.collect()][:4]

    spark_df = (
        search_maxscore_fused(spark, built, qrows, k=K)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    local_df = (
        search_maxscore_fused(spark, built, qrows, k=K, as_local=True)
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    assert isinstance(local_df, pd.DataFrame)
    pd.testing.assert_frame_equal(spark_df, local_df, check_dtype=False)

    empty = search_maxscore_fused(
        spark, built, [(0, "zzqqxx yynnoo")], k=K, as_local=True
    )
    assert isinstance(empty, pd.DataFrame) and len(empty) == 0
    assert list(empty.columns) == ["qid", "doc_id", "score", "rank"]
