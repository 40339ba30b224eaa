"""reassign_doc_ids: dense 0..N-1 ids in the requested total order,
independent of partitioning (the range-partitioned sort + offsets
must reproduce exactly the single-window enumeration the SQL oracle
uses — driver entry `docid_reassign` checks it against DuckDB too)."""

from __future__ import annotations

from pyspark.sql import functions as F

from splade_spark.operators.docids import reassign_doc_ids
from splade_spark.sources.pages import load_documents

from tests.conftest import SF_SMOKE


def test_dense_ordered_and_partition_independent(spark):
    docs = load_documents(spark, SF_SMOKE)
    a = reassign_doc_ids(docs, n_parts=3).select("new_doc_id", "doc_id").collect()
    b = reassign_doc_ids(docs, n_parts=7).select("new_doc_id", "doc_id").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    n = docs.count()
    ids = sorted(r.new_doc_id for r in a)
    assert ids == list(range(n))  # dense, 0-based, no dupes

    # order matches (length(text), doc_id) ascending
    want = [
        r.doc_id
        for r in docs.select("doc_id", F.length("text").alias("l"))
        .orderBy("l", "doc_id")
        .collect()
    ]
    got = [r.doc_id for r in sorted(a, key=lambda r: r.new_doc_id)]
    assert got == want


def test_reassigned_corpus_indexes_and_searches(spark, tmp_path):
    """The intended pipeline: reassign -> index on new ids -> search;
    results remap to original ids through the (new, orig) dimension."""
    from splade_spark.operators.index_build import build_index
    from splade_spark.operators.index_query import search_fused
    from splade_spark.synth import derive_queries

    docs = load_documents(spark, SF_SMOKE)
    re = reassign_doc_ids(docs).persist()
    idx = str(tmp_path / "re_idx")
    build_index(
        re.select(F.col("new_doc_id").alias("doc_id"), "text"),
        idx,
        n_segments=2,
        n_buckets=8,
    )
    queries = [(int(r.qid), r.text) for r in derive_queries(docs).collect()]
    run = search_fused(spark, idx, queries, k=10)
    remapped = run.join(
        re.select(F.col("new_doc_id").alias("doc_id"), F.col("doc_id").alias("orig")),
        "doc_id",
    )
    # same scored doc set as indexing the original ids directly
    idx0 = str(tmp_path / "orig_idx")
    build_index(docs.select("doc_id", "text"), idx0, n_segments=2, n_buckets=8)
    want = {
        (r.qid, r.doc_id, r.score)
        for r in search_fused(spark, idx0, queries, k=10).collect()
    }
    got = {(r.qid, r.orig, r.score) for r in remapped.collect()}
    assert got == want
