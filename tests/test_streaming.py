"""Stream-built index == batch-built index; windowed ingest stats."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from splade_spark.operators.index_build import build_index, finalize_index
from splade_spark.operators.index_query import search_fused
from splade_spark.sources.pages import documents_to_pages, load_documents
from splade_spark.streaming.incremental import (
    ingest_stats_stream,
    stream_build_segments,
)
from splade_spark.synth import derive_queries

from tests.conftest import SF_SMOKE, query_rows


def test_stream_build_matches_batch(spark, tmp_path):
    docs = load_documents(spark, SF_SMOKE).select("doc_id", "text")
    in_dir = str(tmp_path / "incoming")
    # two arrival waves -> two stream files
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(in_dir + "/w1")
    docs.filter("doc_id % 2 = 1").coalesce(1).write.parquet(in_dir + "/w2")
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for w in ("w1", "w2"):
        for f in os.listdir(f"{in_dir}/{w}"):
            if f.endswith(".parquet"):
                os.link(f"{in_dir}/{w}/{f}", f"{flat}/{w}_{f}")

    stream_idx = str(tmp_path / "stream_idx")
    n_segs = stream_build_segments(spark, flat, stream_idx)
    assert n_segs >= 1
    finalize_index(spark, stream_idx, n_buckets=8)

    batch_idx = str(tmp_path / "batch_idx")
    build_index(docs, batch_idx, n_segments=2, n_buckets=8)

    queries = query_rows(derive_queries(load_documents(spark, SF_SMOKE)))
    a = (
        search_fused(spark, stream_idx, queries, k=10)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    b = (
        search_fused(spark, batch_idx, queries, k=10)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    assert a.equals(b)

    # resumability: re-running the drained stream commits nothing new
    assert stream_build_segments(spark, flat, stream_idx) == 0


def test_ingest_stats_stream(spark, tmp_path):
    pages = documents_to_pages(load_documents(spark, SF_SMOKE))
    src = str(tmp_path / "pages_src")
    pages.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(pages.schema).parquet(src)
    agg = ingest_stats_stream(stream)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("ingest_stats")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql("SELECT * FROM ingest_stats").toPandas()
    assert out.n_docs.sum() == 500
    assert (out.avg_chars > 0).all()


def test_stream_append_extends_finalized_index(spark, tmp_path):
    """Continuous ingestion: a finalized batch index extended by a
    stream_append drain must equal a full rebuild over the union, and
    a drain with no new files is a no-op that leaves it intact."""
    from splade_spark.operators.index_build import build_index
    from splade_spark.sources.pages import load_documents
    from splade_spark.streaming.incremental import stream_append
    from splade_spark.synth import derive_queries

    from tests.conftest import SF_SMOKE

    docs = load_documents(spark, SF_SMOKE)
    part_a = docs.filter("doc_id % 3 != 0")
    part_b = docs.filter("doc_id % 3 = 0")

    idx = str(tmp_path / "stream_append_idx")
    build_index(part_a, idx, n_segments=2, n_buckets=8)

    inbox = str(tmp_path / "inbox")
    part_b.repartition(2).write.mode("overwrite").parquet(inbox)
    n = stream_append(spark, inbox, idx)
    assert n > 0

    full_idx = str(tmp_path / "stream_full_idx")
    build_index(docs, full_idx, n_segments=2, n_buckets=8)
    queries = query_rows(derive_queries(docs))
    want = (
        search_fused(spark, full_idx, queries, k=10)
        .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    got = (
        search_fused(spark, idx, queries, k=10)
        .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    assert got.equals(want)

    # nothing new -> no-op, index still answers identically
    assert stream_append(spark, inbox, idx) == 0
    again = (
        search_fused(spark, idx, queries, k=10)
        .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    assert again.equals(want)


def test_stream_append_repairs_crashed_drain_with_new_files(spark, tmp_path, monkeypatch):
    """The mid-drain crash hole: drain 1 retracts finalize and dies
    after committing 'stats' (computed WITHOUT any future segments).
    If new files arrive before the next call, the repair must retract
    the partial finalize — resuming it would keep stats that exclude
    the newly drained docs and silently drop them from the index."""
    import pytest

    from splade_spark.plans.snapshots import Manifest
    from splade_spark.streaming.incremental import stream_append

    docs = load_documents(spark, SF_SMOKE).select("doc_id", "text")
    part_a = docs.filter("doc_id % 3 = 0")
    part_b = docs.filter("doc_id % 3 = 1")
    part_c = docs.filter("doc_id % 3 = 2")

    idx = str(tmp_path / "crash_drain_idx")
    build_index(part_a, idx, n_segments=2, n_buckets=8)
    inbox = str(tmp_path / "crash_inbox")
    part_b.coalesce(1).write.mode("overwrite").parquet(inbox)

    real_commit = Manifest.commit

    def crashing_commit(self, stage, key, **kw):
        if stage == "finalize" and key == "term_dict":
            raise RuntimeError("simulated mid-drain kill")
        return real_commit(self, stage, key, **kw)

    monkeypatch.setattr(Manifest, "commit", crashing_commit)
    with pytest.raises(RuntimeError, match="mid-drain"):
        stream_append(spark, inbox, idx)
    monkeypatch.setattr(Manifest, "commit", real_commit)
    # crash state: 'stats' committed over a∪b, 'index' absent
    man = Manifest.load(idx)
    assert "stats" in man.committed("finalize")
    assert "index" not in man.committed("finalize")

    # new files arrive BEFORE the repair call
    part_c.coalesce(1).write.mode("append").parquet(inbox)
    n = stream_append(spark, inbox, idx)
    assert n > 0

    full_idx = str(tmp_path / "crash_full_idx")
    build_index(docs, full_idx, n_segments=2, n_buckets=8)
    queries = query_rows(derive_queries(docs))
    want = (
        search_fused(spark, full_idx, queries, k=10)
        .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    got = (
        search_fused(spark, idx, queries, k=10)
        .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    assert got.equals(want)


def test_stream_append_defers_small_drains_then_flushes(spark, tmp_path):
    """min_drain_frac: a drain below the threshold accumulates durable
    segments but leaves the serving snapshot untouched (visibility
    lag, the drain-economics knob from BENCH); a later flush
    (min_drain_frac=0) folds the whole backlog into one finalize that
    equals a full rebuild over the union."""
    from splade_spark.operators.index_build import build_index
    from splade_spark.sources.pages import load_documents
    from splade_spark.streaming.incremental import stream_append
    from splade_spark.synth import derive_queries

    from tests.conftest import SF_SMOKE

    docs = load_documents(spark, SF_SMOKE)
    part_a = docs.filter("doc_id % 3 != 0")
    part_b = docs.filter("doc_id % 3 = 0")

    idx = str(tmp_path / "defer_idx")
    build_index(part_a, idx, n_segments=2, n_buckets=8)
    queries = query_rows(derive_queries(docs))
    before = (
        search_fused(spark, idx, queries, k=10)
        .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )

    # part_b is ~1/3 of the corpus — far below a 0.9 threshold, so the
    # drain commits segments but defers the re-finalize
    inbox = str(tmp_path / "defer_inbox")
    part_b.repartition(2).write.mode("overwrite").parquet(inbox)
    n = stream_append(spark, inbox, idx, min_drain_frac=0.9)
    assert n > 0
    deferred = (
        search_fused(spark, idx, queries, k=10)
        .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    assert deferred.equals(before)  # still serving the old snapshot

    # flush: no new files (n == 0) but the pending backlog must fold in
    assert stream_append(spark, inbox, idx, min_drain_frac=0.0) == 0
    full_idx = str(tmp_path / "defer_full_idx")
    build_index(docs, full_idx, n_segments=2, n_buckets=8)
    want = (
        search_fused(spark, full_idx, queries, k=10)
        .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    got = (
        search_fused(spark, idx, queries, k=10)
        .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    assert got.equals(want)

    # and a repeat call stays a covered no-op
    assert stream_append(spark, inbox, idx, min_drain_frac=0.9) == 0
    assert (
        search_fused(spark, idx, queries, k=10)
        .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    ).equals(want)


def test_stream_append_fails_loudly_on_coverage_drift(spark, tmp_path):
    """seg_rows < covered_rows is impossible under the ingest contract
    (a finalize covers exactly the union of committed segments); when
    accounting drifts — e.g. a segment commit loses its ``rows`` field
    — stream_append must surface the drift instead of silently clamping
    pending to 0 and treating the index as complete (ADVICE r4)."""
    import json

    import pytest

    from splade_spark.operators.index_build import build_index
    from splade_spark.plans.snapshots import Manifest
    from splade_spark.sources.pages import load_documents
    from splade_spark.streaming.incremental import stream_append

    from tests.conftest import SF_SMOKE

    docs = load_documents(spark, SF_SMOKE)
    idx = str(tmp_path / "drift_idx")
    build_index(docs.filter("doc_id % 3 != 0"), idx, n_segments=2, n_buckets=8)

    # corrupt the committed segments' row counts to simulate drift
    # (losing the ``rows`` field undercounts exactly like this)
    man = Manifest.load(idx)
    for s in man.snapshots:
        if s["stage"] == "segment":
            s["rows"] = 0
    with open(man.path, "w") as f:
        json.dump({"snapshots": man.snapshots}, f)

    inbox = str(tmp_path / "drift_inbox")
    docs.filter("doc_id % 3 = 0").write.mode("overwrite").parquet(inbox)
    with pytest.raises(RuntimeError, match="coverage drift"):
        stream_append(spark, inbox, idx)
