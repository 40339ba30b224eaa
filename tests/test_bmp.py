"""BMP doc-partitioned block-max layout: lossless vs exhaustive, and
the block-at-a-time loop must actually skip doc blocks on a skewed
corpus. Reference anchor: bmp_inference/ exports feed the external BMP
engine; here the structure and search are in-engine (operators/bmp.py
docstring)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from splade_spark.operators.bmp import build_bmp_index, search_bmp
from splade_spark.operators.index_build import build_index
from splade_spark.operators.index_query import search_fused
from splade_spark.sources.pages import load_documents
from splade_spark.synth import derive_queries

from tests.conftest import SF_SMOKE

K = 10


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("idx_bmp"))
    docs = load_documents(spark, SF_SMOKE)
    build_index(docs, idx, n_segments=2, n_buckets=8, block_size=16, salt_unit=64)
    build_bmp_index(spark, idx, doc_block_size=64)
    return idx


def test_bmp_matches_exhaustive(spark, built):
    docs = load_documents(spark, SF_SMOKE)
    qrows = [(int(r.qid), r.text) for r in derive_queries(docs).orderBy("qid").collect()]
    want = (
        search_fused(spark, built, qrows, k=K)
        .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    got = (
        search_bmp(spark, built, qrows, k=K)
        .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert (got.qid.values == want.qid.values).all()
    assert (got.doc_id.values == want.doc_id.values).all()
    assert (got.score.values == want.score.values).all()


def test_bmp_skips_doc_blocks_on_skewed_corpus(spark, tmp_path):
    """dl grows with doc_id and the rare term lives in the shortest
    docs: high-impact docs concentrate in low doc_blocks, so the UB
    ordering evaluates few blocks before the certificate fires."""
    rows = [(0, "alpha beta beta beta beta")]
    for d in range(1, 4000):
        rows.append(
            (d, f"beta fill{d % 7} fill{d % 11}" + " pad" * (3 + d // 16))
        )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = str(tmp_path / "bmp_skew")
    build_index(docs, idx, n_segments=1, n_buckets=4, block_size=16, salt_unit=256)
    build_bmp_index(spark, idx, doc_block_size=64)
    counts: dict = {}
    got = search_bmp(spark, idx, [(1, "alpha beta")], k=1, debug_counts=counts).toPandas()
    want = search_fused(spark, idx, [(1, "alpha beta")], k=1).toPandas()
    assert got.equals(want)
    assert int(got.doc_id.iloc[0]) == 0
    assert counts["doc_blocks_evaluated"] < counts["doc_blocks_total"] / 2, counts


def test_block_runs_contiguous_and_capped():
    import numpy as np

    from splade_spark.operators.bmp import _block_runs

    blocks = np.array([0, 1, 2, 10, 11, 50])
    assert _block_runs(blocks) == [(0, 2), (10, 11), (50, 50)]
    # cap=2: the widest gap (11->50) stays a separator, the narrow one
    # (2->10) is merged
    assert _block_runs(blocks, max_ranges=2) == [(0, 11), (50, 50)]
    assert _block_runs(blocks, max_ranges=1) == [(0, 50)]
    assert _block_runs(np.array([], dtype=np.int64)) == []
    assert _block_runs(np.array([7])) == [(7, 7)]


def test_bmp_scattered_blocks_fetch_tight(spark, tmp_path, monkeypatch):
    """When a round's needed doc blocks are scattered across the id
    space, the per-run range predicates must fetch far fewer postings
    than the old single global [lo, hi] range (forced here via
    _MAX_FETCH_RANGES=1), with identical results."""
    from splade_spark.operators import bmp as bmp_mod

    rows = []
    for d in range(4096):
        if (d // 64) % 8 == 0:
            # every 8th doc-block is PURE short alpha docs: the UB
            # ordering needs exactly these scattered blocks, and their
            # uniform high scores let the certificate fire early
            rows.append((d, "alpha beta"))
        else:
            rows.append(
                (d, f"beta fill{d % 7} fill{d % 11}" + " pad" * (3 + d // 16))
            )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = str(tmp_path / "bmp_scatter")
    build_index(docs, idx, n_segments=1, n_buckets=4, block_size=16, salt_unit=256)
    build_bmp_index(spark, idx, doc_block_size=64)

    qrows = [(1, "alpha beta")]
    k = 400  # first round pulls ceil(k/64)=7 scattered alpha blocks
    tight: dict = {}
    got = search_bmp(spark, idx, qrows, k=k, debug_counts=tight).toPandas()
    wide: dict = {}
    monkeypatch.setattr(bmp_mod, "_MAX_FETCH_RANGES", 1)
    old = search_bmp(spark, idx, qrows, k=k, debug_counts=wide).toPandas()
    want = search_fused(spark, idx, qrows, k=k).toPandas()
    cols = ["qid", "doc_id", "score", "rank"]
    key = ["qid", "rank"]
    assert got[cols].sort_values(key).reset_index(drop=True).equals(
        want[cols].sort_values(key).reset_index(drop=True)
    )
    assert old[cols].sort_values(key).reset_index(drop=True).equals(
        want[cols].sort_values(key).reset_index(drop=True)
    )
    assert tight["fetch_ranges"] > wide["fetch_ranges"]
    assert tight["postings_fetched"] < wide["postings_fetched"] / 2, (tight, wide)


def test_bmp_guard_falls_back_to_fused(spark, built):
    """term_block_limit=0 over-limits every term: must route through
    exhaustive search_fused and still answer identically."""
    docs = load_documents(spark, SF_SMOKE)
    qrows = [(int(r.qid), r.text) for r in derive_queries(docs).orderBy("qid").collect()][:3]
    got = search_bmp(spark, built, qrows, k=K, term_block_limit=0).toPandas()
    want = search_fused(spark, built, qrows, k=K).toPandas()
    cols = ["qid", "doc_id", "score", "rank"]
    a = got[cols].sort_values(["qid", "rank"]).reset_index(drop=True)
    b = want[cols].sort_values(["qid", "rank"]).reset_index(drop=True)
    assert a.equals(b)


def test_bmp_quantized_matches_fused_quantized(spark, built, tmp_path):
    """Quantized BMP (integer arithmetic, exact certificate) must match
    search_fused(quantized=True) row-for-row — including on a
    store_impacts=False index, where it is the only BMP layout
    available."""
    docs = load_documents(spark, SF_SMOKE)
    qrows = [(int(r.qid), r.text) for r in derive_queries(docs).orderBy("qid").collect()]

    qidx = str(tmp_path / "bmpq_idx")
    build_index(
        docs, qidx, n_segments=2, n_buckets=8, block_size=16,
        salt_unit=64, store_impacts=False,
    )
    for idx in (built, qidx):
        build_bmp_index(spark, idx, doc_block_size=64, quantized=True)
        want = (
            search_fused(spark, idx, qrows, k=K, quantized=True)
            .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
        )
        got = (
            search_bmp(spark, idx, qrows, k=K, quantized=True)
            .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
        )
        assert list(got.columns) == list(want.columns)
        assert got.equals(want), idx


def test_bmp_missing_table_falls_back(spark, tmp_path):
    """An index whose BMP table was never built must answer through
    the exhaustive fallback (same routing as the over-limit guard),
    not raise FileNotFoundError."""
    docs = load_documents(spark, SF_SMOKE)
    idx = str(tmp_path / "no_bmp_idx")
    build_index(docs, idx, n_segments=1, n_buckets=8, block_size=16, salt_unit=64)
    qrows = [(int(r.qid), r.text) for r in derive_queries(docs).orderBy("qid").collect()][:3]
    counts: dict = {}
    got = search_bmp(spark, idx, qrows, k=K, debug_counts=counts).toPandas()
    want = search_fused(spark, idx, qrows, k=K).toPandas()
    cols = ["qid", "doc_id", "score", "rank"]
    a = got[cols].sort_values(["qid", "rank"]).reset_index(drop=True)
    b = want[cols].sort_values(["qid", "rank"]).reset_index(drop=True)
    assert a.equals(b)
    assert not counts  # fallback path: the BMP loop never ran


def test_bmp_block_size_change_rebuilds(spark, tmp_path):
    """Building with a second doc_block_size overwrites the directory;
    a later call with the FIRST size must rebuild (its key was
    retracted), not silently return the other size's layout."""
    import json as _json
    import os as _os

    docs = load_documents(spark, SF_SMOKE)
    idx = str(tmp_path / "resize_idx")
    build_index(docs, idx, n_segments=1, n_buckets=8, block_size=16, salt_unit=64)
    meta = _os.path.join(idx, "bmp", "_bmp.json")

    build_bmp_index(spark, idx, doc_block_size=64)
    build_bmp_index(spark, idx, doc_block_size=32)
    with open(meta) as f:
        assert int(_json.load(f)["doc_block_size"]) == 32
    build_bmp_index(spark, idx, doc_block_size=64)  # must NOT no-op
    with open(meta) as f:
        assert int(_json.load(f)["doc_block_size"]) == 64
    qrows = [(int(r.qid), r.text) for r in derive_queries(docs).orderBy("qid").collect()][:3]
    counts: dict = {}
    got = search_bmp(spark, idx, qrows, k=K, debug_counts=counts).toPandas()
    want = search_fused(spark, idx, qrows, k=K).toPandas()
    cols = ["qid", "doc_id", "score", "rank"]
    assert got[cols].sort_values(["qid", "rank"]).reset_index(drop=True).equals(
        want[cols].sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    assert counts  # BMP path actually ran on the rebuilt table


def test_bmp_commit_without_metadata_rebuilds(spark, tmp_path):
    """_bmp.json is written BEFORE the manifest commit, so a committed
    key always has metadata; if the directory state nonetheless
    diverges (the pre-fix crash window), build_bmp_index must detect
    the mismatch and rebuild instead of returning a broken table."""
    import os as _os

    docs = load_documents(spark, SF_SMOKE)
    idx = str(tmp_path / "orphan_idx")
    build_index(docs, idx, n_segments=1, n_buckets=8, block_size=16, salt_unit=64)
    build_bmp_index(spark, idx, doc_block_size=64)
    meta = _os.path.join(idx, "bmp", "_bmp.json")
    _os.remove(meta)  # simulate the old crash-between-commit-and-json state
    build_bmp_index(spark, idx, doc_block_size=64)
    assert _os.path.exists(meta)
    qrows = [(1, "the data")]
    got = search_bmp(spark, idx, qrows, k=K).toPandas()
    want = search_fused(spark, idx, qrows, k=K).toPandas()
    cols = ["qid", "doc_id", "score", "rank"]
    assert got[cols].reset_index(drop=True).equals(want[cols].reset_index(drop=True))


def test_append_invalidates_bmp(spark, tmp_path):
    """append_index rewrites postings + global stats, so the derived
    BMP tables are stale: appended docs' blocks have no UB rows and
    old UBs no longer bound re-weighted impacts. The append must drop
    bmp/bmp_q and retract their stage; search_bmp then falls back
    (still correct over the union) until build_bmp_index re-derives."""
    import os as _os

    from splade_spark.operators.index_build import append_index

    docs = load_documents(spark, SF_SMOKE)
    part_a = docs.filter("doc_id % 3 != 0")
    part_b = docs.filter("doc_id % 3 = 0")
    idx = str(tmp_path / "append_bmp_idx")
    build_index(part_a, idx, n_segments=2, n_buckets=8, block_size=16, salt_unit=64)
    build_bmp_index(spark, idx, doc_block_size=64)
    build_bmp_index(spark, idx, doc_block_size=64, quantized=True)

    append_index(part_b, idx, n_segments=2)
    assert not _os.path.isdir(_os.path.join(idx, "bmp"))
    assert not _os.path.isdir(_os.path.join(idx, "bmp_q"))

    qrows = [(int(r.qid), r.text) for r in derive_queries(docs).orderBy("qid").collect()]
    want = (
        search_fused(spark, idx, qrows, k=K)
        .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    counts: dict = {}
    stale_safe = (
        search_bmp(spark, idx, qrows, k=K, debug_counts=counts)
        .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    assert stale_safe.equals(want)
    assert not counts  # answered via fallback, not a stale BMP table

    build_bmp_index(spark, idx, doc_block_size=64)
    counts = {}
    rebuilt = (
        search_bmp(spark, idx, qrows, k=K, debug_counts=counts)
        .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    assert rebuilt.equals(want)
    assert counts  # fresh BMP table actually served the query
