"""Doc-major batch search (postings sharded by doc range, every query
scored locally per shard) must be result-identical to the term-major
fused plan — the two are alternate physical strategies for the same
logical top-k, picked by search_fused(strategy=...)."""

from __future__ import annotations

import pytest

from splade_spark.operators import index_query
from splade_spark.operators.index_build import build_index
from splade_spark.operators.index_query import search_fused
from splade_spark.sources.pages import load_documents
from splade_spark.synth import derive_queries

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("dm_idx"))
    docs = load_documents(spark, SF_SMOKE)
    # small blocks + salt to force multi-block terms and salted groups
    build_index(docs, idx, n_segments=2, n_buckets=8, block_size=16, salt_unit=64)
    return idx


@pytest.fixture(scope="module")
def qrows(spark):
    return (
        derive_queries(load_documents(spark, SF_SMOKE))
        .orderBy("qid")
        .collect()
    )


def _key(r):
    return (r.qid, r.rank, r.doc_id, round(r.score, 6))


@pytest.mark.parametrize("k", [10, 50])
def test_docmajor_matches_term_major(spark, built, qrows, k):
    qs = [(r.qid, r.text) for r in qrows]
    term = search_fused(spark, built, qs, k=k, strategy="term").collect()
    doc = search_fused(spark, built, qs, k=k, strategy="doc").collect()
    assert len(term) > 0
    assert sorted(map(_key, doc)) == sorted(map(_key, term))


def test_docmajor_single_query_and_oov(spark, built, qrows):
    one = [(qrows[0].qid, qrows[0].text)]
    term = search_fused(spark, built, one, k=10, strategy="term").collect()
    doc = search_fused(spark, built, one, k=10, strategy="doc").collect()
    assert sorted(map(_key, doc)) == sorted(map(_key, term))
    # fully out-of-vocabulary batch: the doc-major plan must return an
    # empty relation, not fail in the empty-pruned-scan kernels
    oov = search_fused(
        spark, built, [(999, "zzzzqqqq xxxyyyzzz")], k=10, strategy="doc"
    )
    assert oov.count() == 0


def test_auto_delegates_high_match_batches_to_docmajor(
    spark, built, qrows, monkeypatch
):
    """strategy='auto' must route to the doc-major plan when the
    dictionary-estimated candidate pairs exceed the pruned-postings
    threshold (forced here by zeroing the doc-major knobs, and the
    driver limit so the batch leaves the driver), and the routed plan
    must produce the term-major results."""
    calls = []
    real = index_query._search_fused_docmajor

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(index_query, "_search_fused_docmajor", spy)
    monkeypatch.setattr(index_query, "DOC_MAJOR_FACTOR", 0)
    monkeypatch.setattr(index_query, "DOC_MAJOR_MIN_WIDTH", 0)
    monkeypatch.setattr(index_query, "DRIVER_POSTING_LIMIT", 0)
    qs = [(r.qid, r.text) for r in qrows[:4]]
    counts: dict = {}
    got = search_fused(
        spark, built, qs, k=10, strategy="auto", debug_counts=counts
    ).collect()
    assert calls, "auto did not take the doc-major path"
    assert counts["route"] == "doc", counts
    want = search_fused(spark, built, qs, k=10, strategy="term").collect()
    assert sorted(map(_key, got)) == sorted(map(_key, want))


def test_auto_keeps_term_major_for_small_batches(spark, built, qrows, monkeypatch):
    """Once past the (zeroed) driver limit, a batch whose candidate
    pairs stay within doc-major's emission bound (forced here by a
    huge DOC_MAJOR_FACTOR) must NOT pay the doc-shard exchange."""
    calls = []
    monkeypatch.setattr(
        index_query,
        "_search_fused_docmajor",
        lambda *a, **kw: calls.append(1),
    )
    monkeypatch.setattr(index_query, "DOC_MAJOR_FACTOR", 1 << 40)
    monkeypatch.setattr(index_query, "DRIVER_POSTING_LIMIT", 0)
    qs = [(r.qid, r.text) for r in qrows[:4]]
    counts: dict = {}
    search_fused(
        spark, built, qs, k=10, strategy="auto", debug_counts=counts
    ).collect()
    assert not calls
    assert counts["route"] == "term", counts


def test_auto_answers_small_batches_on_the_driver(spark, built, qrows):
    """Default knobs: a smoke-sized batch's candidate pairs are far
    under DRIVER_POSTING_LIMIT, so auto scores it on the driver and
    runs no Spark job; collecting the result equals the term-major
    rows."""
    qs = [(r.qid, r.text) for r in qrows[:4]]
    counts: dict = {}
    sc = spark.sparkContext
    sc.setJobGroup("driver-route-probe", "search_fused auto")
    try:
        got = search_fused(spark, built, qs, k=10, debug_counts=counts)
        jobs = sc.statusTracker().getJobIdsForGroup("driver-route-probe")
    finally:
        sc.setJobGroup("", "")
    assert counts["route"] == "driver", counts
    assert 0 < counts["driver_work"] <= index_query.DRIVER_POSTING_LIMIT
    assert jobs == [], jobs
    want = search_fused(spark, built, qs, k=10, strategy="term").collect()
    assert sorted(map(_key, got.collect())) == sorted(map(_key, want))


def test_guarded_shard_geometry_bounds_accumulator():
    """The accumulator bound is hit_terms x shard_width x 8 bytes per
    live shard; the guard must shrink shard_width until it fits the
    budget and re-derive n_shards to keep covering n_docs."""
    budget = index_query.DOC_MAJOR_ACC_BUDGET_BYTES
    # roomy case: default geometry untouched
    w, s = index_query._guarded_shard_geometry(10_000, 8, 4)
    assert w == 625 and s == 16
    # wide-vocab dense batch over a big corpus: bound would be
    # 100k terms x (1e9/64) x 8 B = 12.5 TB -> guard must fire
    n_docs, n_terms = 1_000_000_000, 100_000
    w, s = index_query._guarded_shard_geometry(n_docs, 32, n_terms)
    assert n_terms * w * 8 <= budget
    assert s * w >= n_docs  # shards still cover the corpus
    assert w >= 1


def test_docmajor_guard_fires_results_identical(spark, built, qrows, monkeypatch):
    """Squeeze the budget so the guard provably fires at test scale
    (shard_width collapses, n_shards rises) and assert the doc-major
    results are unchanged — the guard is a pure memory/geometry knob."""
    qs = [(r.qid, r.text) for r in qrows]
    want = search_fused(spark, built, qs, k=10, strategy="term").collect()

    seen = {}
    real = index_query._guarded_shard_geometry

    def spy(n_docs, n_parts, n_hit):
        w, s = real(n_docs, n_parts, n_hit)
        seen["geom"] = (w, s, n_hit)
        return w, s

    monkeypatch.setattr(index_query, "_guarded_shard_geometry", spy)
    # 800 bytes / (8 x hit_terms): with dozens of hit terms the cap
    # lands at width 1-few docs — far below the unguarded width
    monkeypatch.setattr(index_query, "DOC_MAJOR_ACC_BUDGET_BYTES", 800 * 64)
    got = search_fused(spark, built, qs, k=10, strategy="doc").collect()

    w, s, n_hit = seen["geom"]
    assert n_hit * w * 8 <= 800 * 64  # the bound the guard enforces
    assert w < 500  # fired: 500-doc corpus default width is >= 32
    assert sorted(map(_key, got)) == sorted(map(_key, want))
