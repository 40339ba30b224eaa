"""MaxScore/Block-Max pruning must actually FIRE on a skewed corpus.

The round-1 bench corpus replicated docs, equalizing block maxima, so
blocks_kept/blocks_total stayed ~1.0 and the pruning path was only
lossless-tested, never shown effective. This fixture builds the skew
pruning exploits: document length grows with doc_id, the rare query
term appears only in the shortest docs, so the common term's
high-doc_id blocks have low block maxima and prune against the
champion floor.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from splade_spark.operators.index_build import build_index
from splade_spark.operators.index_query import search_fused
from splade_spark.operators.maxscore import (
    DRIVER_POSTING_LIMIT,
    search_maxscore_fused,
)

N_DOCS = 20_000
N_RARE = 40


def _skewed_docs(spark):
    # doc i: ["rare"] (i < N_RARE) + "common" (half the docs, so its
    # idf is ~ln2, not ~0) + "pad" * (3 + i // 8) for dl skew. The
    # rare docs are the SHORTEST, so their common-term impacts are the
    # highest — the champion floor theta exceeds ub_rare and the
    # common term's long-doc (low block-max) blocks prune away.
    return spark.range(N_DOCS).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.when(F.col("id") < N_RARE, F.lit("rare ")).otherwise(F.lit("")),
            F.when(
                (F.col("id") < N_RARE) | (F.col("id") % 2 == 0), F.lit("common")
            ).otherwise(F.lit("filler")),
            F.repeat(F.lit(" pad"), (F.lit(3) + (F.col("id") / 8).cast("int"))),
        ).alias("text"),
    )


@pytest.fixture(scope="module")
def skewed_index(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("skewed_idx"))
    build_index(_skewed_docs(spark), idx, n_segments=2)
    return idx


def test_fused_maxscore_matches_and_prunes(spark, skewed_index):
    """Pruning FIRES (< half the blocks kept) and stays exact on both
    routes, for the two-term query and for a single-term query (the
    common term's low-dl docs concentrate its high impacts in few
    blocks; the rest prune against the floor)."""
    for qtext in ("rare common", "common"):
        exhaustive = search_fused(spark, skewed_index, [(1, qtext)], k=10).collect()
        # driver fast path (default) AND the distributed pruned-scan
        # branch (forced with driver_posting_limit=0) must both match
        for limit in (DRIVER_POSTING_LIMIT, 0):
            counts: dict = {}
            fused = search_maxscore_fused(
                spark,
                skewed_index,
                [(1, qtext)],
                k=10,
                debug_counts=counts,
                driver_posting_limit=limit,
            ).collect()
            assert counts["blocks_total"] > 50, counts
            kept_frac = counts["blocks_kept"] / counts["blocks_total"]
            assert kept_frac < 0.5, counts
            assert {(r.doc_id, r.score, r.rank) for r in fused} == {
                (r.doc_id, r.score, r.rank) for r in exhaustive
            }, (qtext, limit)


def _scattered_docs(spark):
    """Like _skewed_docs (dl grows with doc_id, so common-term block
    maxima still skew and pruning can fire), but the RARE docs' dl is
    a permutation of id order (dl = 3 + 7*id mod 40): the champion's
    top-k candidates sorted by partial are NOT ascending in doc_id —
    the regression shape for the fused candidate binary search (cand
    must be doc_id-sorted, not champion-partial-ordered)."""
    return spark.range(N_DOCS).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.when(F.col("id") < N_RARE, F.lit("rare ")).otherwise(F.lit("")),
            F.when(
                (F.col("id") < N_RARE) | (F.col("id") % 2 == 0), F.lit("common")
            ).otherwise(F.lit("filler")),
            F.repeat(
                F.lit(" pad"),
                F.when(
                    F.col("id") < N_RARE,
                    F.lit(3) + F.pmod(F.col("id") * 7, F.lit(40)).cast("int"),
                ).otherwise(F.lit(3) + (F.col("id") / 8).cast("int")),
            ),
        ).alias("text"),
    )


@pytest.fixture(scope="module")
def scattered_index(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("scattered_idx"))
    build_index(_scattered_docs(spark), idx, n_segments=2)
    return idx


def test_fused_prunes_with_nonmonotone_champion_order(spark, scattered_index):
    """Champion partials do not decrease with doc_id here, so an
    unsorted candidate array would silently break the searchsorted
    exact-scoring pass (under-accumulated candidate scores -> loose
    theta -> ~no pruning). Assert pruning still FIRES and is exact."""
    queries = [(1, "rare common")]
    counts: dict = {}
    fused = search_maxscore_fused(
        spark, scattered_index, queries, k=10, debug_counts=counts
    ).collect()
    assert counts["blocks_total"] > 50, counts
    assert counts["blocks_kept"] / counts["blocks_total"] < 0.5, counts

    exhaustive = search_fused(spark, scattered_index, queries, k=10).collect()
    assert {(r.doc_id, r.score, r.rank) for r in fused} == {
        (r.doc_id, r.score, r.rank) for r in exhaustive
    }


def test_fused_guard_falls_back_before_postings_metadata(
    spark, skewed_index, monkeypatch
):
    """The df-based scale guard must route to search_fused BEFORE any
    pyarrow access to the postings dataset: with champion_block_limit=0
    every hit term over-limits, and a postings-path dataset() open
    would mean driver-side metadata materialization at what could be
    10^12-doc scale."""
    import pyarrow.dataset as pads

    from splade_spark.operators import index_query, maxscore

    real_dataset = pads.dataset
    opened: list[str] = []

    def spy(path, *a, **kw):
        if isinstance(path, str):
            opened.append(path)
            if path.rstrip("/").endswith("postings"):
                raise AssertionError(
                    "postings dataset opened despite over-limit guard"
                )
        return real_dataset(path, *a, **kw)

    monkeypatch.setattr(pads, "dataset", spy)
    # the fallback target answers batches under DRIVER_POSTING_LIMIT by
    # reading postings with pyarrow itself (bounded by that limit); zero
    # it so the fallback runs on Spark and any postings open is the
    # guard's own
    monkeypatch.setattr(index_query, "DRIVER_POSTING_LIMIT", 0)
    queries = [(1, "rare common")]
    counts: dict = {}
    got = maxscore.search_maxscore_fused(
        spark, skewed_index, queries, k=10, champion_block_limit=0, debug_counts=counts
    ).collect()
    assert counts["route"] == "fused_fallback", counts
    # fell back through the exhaustive fused path and still answered
    exhaustive = search_fused(spark, skewed_index, queries, k=10).collect()
    assert {(r.doc_id, r.score, r.rank) for r in got} == {
        (r.doc_id, r.score, r.rank) for r in exhaustive
    }
    assert any(p.rstrip("/").endswith("term_dict") for p in opened)


def test_uniform_candidates_knife_edge_lossless(spark, tmp_path_factory):
    """Identically-scored top candidates put theta EXACTLY at the best
    block UB: theta (per-doc sum of decoded impacts) and total_ub (sum
    of dictionary maxima) add the same floats in different orders, so
    a strict `block_ub >= theta` can land ULPs short and retain ZERO
    blocks — returning an empty top-k (caught live by the prune
    bench's ramp fixture at 6M docs: retained=0). PRUNE_EPS slack must
    keep this lossless on both MaxScore routes."""
    idx = str(tmp_path_factory.mktemp("knife_idx"))
    n_terms = 5
    cand = " ".join(f"t{j}" for j in range(n_terms))
    docs = spark.range(4_000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            # 64 byte-identical candidate docs (same tf, same dl ->
            # identical scores), then filler docs with varying dl
            F.when(F.col("id") < 64, F.lit((cand + " ") * 4)).otherwise(
                F.concat(
                    F.lit(cand + " "),
                    F.repeat(F.lit("pad "), (F.col("id") / 40).cast("int") + 1),
                )
            ),
        ).alias("text"),
    )
    build_index(docs, idx, n_segments=2)
    want = {
        (r.doc_id, r.score, r.rank)
        for r in search_fused(spark, idx, [(1, cand)], k=10).collect()
    }
    assert len(want) >= 10
    for limit in (DRIVER_POSTING_LIMIT, 0):
        got = search_maxscore_fused(
            spark, idx, [(1, cand)], k=10, driver_posting_limit=limit
        ).collect()
        assert {(r.doc_id, r.score, r.rank) for r in got} == want, limit


def test_prune_eps_covers_summation_order():
    """The mechanism behind the knife edge, deterministically: theta
    sums a doc's decoded impacts in aggregation order, total_ub sums
    the same values in dictionary order — float addition is not
    associative, so theta can exceed every block UB by ULPs on a
    corpus whose top-k candidates all tie. The retain inequality must
    absorb at least that divergence (PRUNE_EPS >> ULP), and PRUNE_EPS
    must also cover the 6dp score-rounding tie window (a doc 1e-6
    below theta can round into a tie and win the doc_id tiebreak)."""
    from splade_spark.operators.maxscore import PRUNE_EPS

    impacts = [0.1, 0.2, 0.3]          # classic non-associative triple
    theta = impacts[0] + impacts[1] + impacts[2]      # 0.6000000000000001
    total_ub = impacts[2] + impacts[1] + impacts[0]   # 0.6
    best_block_ub = total_ub  # candidate's own block: block_max == ub term
    assert theta > best_block_ub  # strict >= would retain NOTHING
    assert best_block_ub >= theta - PRUNE_EPS
    assert PRUNE_EPS >= 1e-6  # rounding-tie window at 6dp


def _zipf_docs(spark, n=3_000, vocab=300, seed=11):
    """Zipf-like corpus (P(id = i) ~ ln((i + 2) / (i + 1)), 6-30 tokens
    per doc): the head terms sit in most docs, so a head-term query
    retains most of its blocks — hundreds of them at block_size=16."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(6, 31, n)
    u = rng.uniform(0.0, np.log(vocab + 1), int(lens.sum()))
    toks = np.minimum(np.floor(np.exp(u)) - 1, vocab - 1).astype(int).tolist()
    off = np.concatenate([[0], np.cumsum(lens)]).tolist()
    rows = [
        (i, " ".join(f"w{t}" for t in toks[a:b]))
        for i, (a, b) in enumerate(zip(off[:-1], off[1:]))
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def zipf_index(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("zipf_idx"))
    build_index(_zipf_docs(spark), idx, n_segments=2, block_size=16, salt_unit=512)
    return idx


HEAD_QUERIES = [(1, "w0 w1 w2 w3"), (2, "w0 w2 w4 w5"), (3, "w1 w3 w4 w5")]


def _rows(got):
    return sorted((r.qid, r.doc_id, r.score, r.rank) for r in got)


@pytest.mark.parametrize("k", [10, 1000])
def test_driver_and_spark_routes_identical_on_dense_queries(spark, zipf_index, k):
    """A head-term query keeps far more than 256 blocks but little
    driver work, so the default limit answers it on the driver. Driver
    route, forced Spark route (driver_posting_limit=0) and exhaustive
    search_fused return identical (qid, doc_id, score, rank) on this shape,
    for one query and a 3-query call."""
    singles_work = 0
    for qs in [HEAD_QUERIES[:1], HEAD_QUERIES[1:2], HEAD_QUERIES[2:], HEAD_QUERIES]:
        want = _rows(search_fused(spark, zipf_index, qs, k=k).collect())
        assert len(want) == len(qs) * k
        by_route = {}
        for limit in (DRIVER_POSTING_LIMIT, 0):
            counts: dict = {}
            got = search_maxscore_fused(
                spark, zipf_index, qs, k=k, debug_counts=counts, driver_posting_limit=limit
            ).collect()
            assert counts["blocks_kept"] > 256, counts
            by_route[counts["route"]] = _rows(got)
        assert by_route == {"driver": want, "spark": want}
        if len(qs) == 1:
            singles_work += counts["driver_work"]
    # the work counts each query's terms' retained postings: the
    # 3-query call shares terms, so a per-term union would be smaller
    assert counts["driver_work"] >= singles_work, (counts, singles_work)


def test_fused_driver_path_block_ids_beyond_32_bits(spark, tmp_path_factory):
    """block_id = salt * 2^24 + seq passes 2^32 once a term spans more
    than 256 salt groups; the driver path's block sets must keep the
    full id, on both routes, or blocks go missing from the scores."""
    idx = str(tmp_path_factory.mktemp("wide_block_ids"))
    docs = spark.range(5_000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("hot w"),
            (F.col("id") % 7).cast("string"),
            F.repeat(F.lit(" pad"), (F.col("id") % 11).cast("int")),
        ).alias("text"),
    )
    build_index(docs, idx, n_segments=2, n_buckets=4, block_size=16, salt_unit=16)
    post = spark.read.parquet(f"{idx}/postings")
    assert post.agg({"block_id": "max"}).collect()[0][0] > (1 << 32)
    qs = [(1, "hot w3"), (2, "hot")]
    want = _rows(search_fused(spark, idx, qs, k=100).collect())
    for limit in (DRIVER_POSTING_LIMIT, 0):
        got = search_maxscore_fused(spark, idx, qs, k=100, driver_posting_limit=limit)
        assert _rows(got.collect()) == want, limit
