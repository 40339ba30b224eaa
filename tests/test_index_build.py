"""Materialized (compressed, salted, block-encoded) index path must be
result-identical to the logical DataFrame path, and the build must be
resumable from the snapshot manifest."""

from __future__ import annotations

import json
import os

import pytest

from splade_spark.engine import bm25_run
from splade_spark.operators.index_build import (
    build_index,
    build_segments,
    finalize_index,
)
from splade_spark.operators.index_query import search_fused
from splade_spark.plans.snapshots import Manifest
from splade_spark.sources.pages import load_documents
from splade_spark.synth import derive_queries

from tests.conftest import SF_SMOKE, query_rows

K = 10


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("idx"))
    docs = load_documents(spark, SF_SMOKE)
    # tiny salt_unit + block_size to force multi-block, multi-salt paths
    build_index(docs, index_dir, n_segments=3, n_buckets=8, block_size=16, salt_unit=64)
    return index_dir


def test_index_search_matches_logical(spark, built):
    docs = load_documents(spark, SF_SMOKE)
    queries = query_rows(derive_queries(docs))
    want = (
        bm25_run(docs, k=K)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    got = (
        search_fused(spark, built, queries, k=K)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert (got.qid.values == want.qid.values).all()
    assert (got.doc_id.values == want.doc_id.values).all()
    assert (abs(got.score.values - want.score.values) < 1e-9).all()


def test_blocks_and_salting_materialized(spark, built):
    post = spark.read.parquet(os.path.join(built, "postings"))
    assert post.filter("n > 16").count() == 0  # block_size respected
    assert post.select("bucket").distinct().count() > 1
    # hot terms (df > salt_unit=64) must span multiple salt groups:
    # salted groups encode with block_id_base = salt << 24
    hot = post.filter("block_id >= 16777216")
    assert hot.count() > 0


def test_resume_skips_committed_segments(spark, tmp_path):
    index_dir = str(tmp_path / "idx2")
    docs = load_documents(spark, SF_SMOKE)
    # simulate a killed job: only 2 of 3 segments committed
    build_segments(docs.filter("doc_id % 3 != 2"), index_dir, n_segments=3)
    man = Manifest.load(index_dir)
    committed_before = man.committed("segment")
    assert committed_before == {"seg=0", "seg=1", "seg=2"}
    # drop seg=2's commit to mimic a crash mid-segment
    man.snapshots = [s for s in man.snapshots if s["key"] != "seg=2"]
    man.commit("noop", "noop")  # persist truncated manifest
    man.snapshots = [s for s in man.snapshots if s["stage"] != "noop"]
    with open(man.path, "w") as f:
        json.dump({"snapshots": man.snapshots}, f)

    # resume with the FULL corpus: seg=0/1 must be skipped (their
    # parquet still holds the filtered subset), seg=2 rebuilt complete
    build_segments(docs, index_dir, n_segments=3)
    man2 = Manifest.load(index_dir)
    assert man2.committed("segment") == {"seg=0", "seg=1", "seg=2"}
    seg_rows = {s["key"]: s["rows"] for s in man2.snapshots if s["stage"] == "segment"}
    full_seg2 = docs.filter("doc_id % 3 = 2").count()
    assert seg_rows["seg=2"] == full_seg2

    finalize_index(spark, index_dir, n_buckets=8)
    man3 = Manifest.load(index_dir)
    assert "index" in man3.committed("finalize")
    # lineage metrics recorded per partition
    seg_lineage = [s for s in man3.snapshots if s["stage"] == "segment"]
    assert all(s["rows"] >= 0 and s["bytes"] > 0 and s["wall_ms"] >= 0 for s in seg_lineage)
    # finalize is idempotent once committed
    finalize_index(spark, index_dir, n_buckets=8)
    assert len(Manifest.load(index_dir).snapshots) == len(man3.snapshots)


def test_finalize_resumes_per_step(spark, tmp_path):
    """Finalize sub-steps (stats -> term_dict -> postings -> index)
    each commit a snapshot; a crash after term_dict must not redo the
    stats or dictionary work, only postings onward."""
    import shutil

    index_dir = str(tmp_path / "idx3")
    docs = load_documents(spark, SF_SMOKE)
    build_index(docs, index_dir, n_segments=2, n_buckets=8)
    man = Manifest.load(index_dir)
    assert {"stats", "term_dict", "postings", "index"} <= man.committed("finalize")

    # simulate a crash between the postings write and its commit:
    # drop the postings dir and the postings/index snapshots
    shutil.rmtree(os.path.join(index_dir, "postings"))
    man.snapshots = [
        s
        for s in man.snapshots
        if not (s["stage"] == "finalize" and s["key"] in ("postings", "index"))
    ]
    with open(man.path, "w") as f:
        json.dump({"snapshots": man.snapshots}, f)

    stats_mtime = os.path.getmtime(os.path.join(index_dir, "stats.json"))
    finalize_index(spark, index_dir, n_buckets=8)
    # stats step skipped (file untouched), postings rebuilt, index green
    assert os.path.getmtime(os.path.join(index_dir, "stats.json")) == stats_mtime
    man2 = Manifest.load(index_dir)
    assert {"stats", "term_dict", "postings", "index"} <= man2.committed("finalize")
    # resumed index answers queries identically to the logical path
    queries = query_rows(derive_queries(docs))
    got = search_fused(spark, index_dir, queries, k=K).count()
    want = bm25_run(docs, k=K).count()
    assert got == want


def test_search_fused_driver_matches_doc_route(spark, built):
    """The driver route (one numpy batch scorer) must equal the
    doc-major Spark plan (doc-range exchange + shard-local scoring) on
    a multi-block, multi-salt index — scores are 6dp-rounded in both,
    so partial-sum order differences cannot surface."""
    queries = derive_queries(load_documents(spark, SF_SMOKE))
    qrows = query_rows(queries.orderBy("qid").limit(4))
    base = search_fused(spark, built, qrows, k=10, strategy="doc").collect()
    fused = search_fused(spark, built, qrows, k=10).collect()
    key = lambda r: (r.qid, r.rank, r.doc_id, round(r.score, 6))
    assert sorted(map(key, fused)) == sorted(map(key, base))
    assert len(fused) > 0


def test_finalize_recovers_from_term_dict_swap_crash(spark, tmp_path, monkeypatch):
    """Kill the job INSIDE the term_dict backup-rename window (after
    rename(final -> _bak), before rename(tmp -> final)): term_dict is
    absent at its canonical path but _bak survives. A resumed
    finalize_index must restore the backup and complete instead of
    failing at spark.read.parquet(term_dict)."""
    from splade_spark.operators.index_build import build_segments, finalize_index

    docs = load_documents(spark, SF_SMOKE)
    idx = str(tmp_path / "crash_idx")
    build_segments(docs, idx, n_segments=1)

    tmp_td = os.path.join(idx, "term_dict_tmp")
    real_rename = os.rename

    def crashing_rename(src, dst):
        if src == tmp_td:
            raise RuntimeError("simulated crash inside swap window")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crashing_rename)
    with pytest.raises(RuntimeError, match="swap window"):
        finalize_index(spark, idx, n_buckets=4)
    monkeypatch.setattr(os, "rename", real_rename)

    # crash-window state on disk: final absent, backup present
    assert not os.path.exists(os.path.join(idx, "term_dict"))
    assert os.path.exists(os.path.join(idx, "term_dict") + "_bak")

    finalize_index(spark, idx, n_buckets=4)
    assert os.path.exists(os.path.join(idx, "term_dict"))
    assert not os.path.exists(os.path.join(idx, "term_dict") + "_bak")
    got = search_fused(spark, idx, query_rows(derive_queries(docs)), k=5)
    assert got.count() > 0


def test_append_index_equals_full_rebuild(spark, tmp_path):
    """append_index(B) on an index of A must equal a fresh build over
    A ∪ B exactly: BM25 globals (N/avgdl/df) are re-derived by the
    finalize merge, dense term_ids and salts are pure functions of the
    merged segment set, so search results and block-level posting
    stats are identical."""
    from splade_spark.operators.index_build import append_index, build_index

    docs = load_documents(spark, SF_SMOKE)
    part_a = docs.filter("doc_id % 3 != 0")
    part_b = docs.filter("doc_id % 3 = 0")

    full_idx = str(tmp_path / "full_idx")
    build_index(docs, full_idx, n_segments=2, n_buckets=8)

    inc_idx = str(tmp_path / "inc_idx")
    build_index(part_a, inc_idx, n_segments=2, n_buckets=8)
    append_index(part_b, inc_idx, n_segments=2)

    queries = query_rows(derive_queries(docs))
    want = (
        search_fused(spark, full_idx, queries, k=10)
        .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    got = (
        search_fused(spark, inc_idx, queries, k=10)
        .toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    assert got.equals(want)

    # block-level identity, not just top-k: same (term_id, block_id,
    # first_doc_id, n, block_max) relation
    cols = ["term_id", "block_id", "first_doc_id", "n", "block_max"]
    pa = (
        spark.read.parquet(full_idx + "/postings").select(cols)
        .toPandas().sort_values(cols[:2]).reset_index(drop=True)
    )
    pb = (
        spark.read.parquet(inc_idx + "/postings").select(cols)
        .toPandas().sort_values(cols[:2]).reset_index(drop=True)
    )
    assert pa.equals(pb)

    # overlapping doc_ids must refuse
    import pytest as _pytest

    with _pytest.raises(ValueError, match="overlap"):
        append_index(part_b.limit(1), inc_idx, n_segments=1)


def test_append_resumes_with_same_epoch(spark, tmp_path, monkeypatch):
    """An append killed during stage A resumes idempotently when
    re-called with the SAME epoch: committed new segments skip, no
    duplicate postings appear, and the result still equals a full
    rebuild."""
    from splade_spark.operators import index_build as ib
    from splade_spark.operators.index_build import append_index, build_index

    docs = load_documents(spark, SF_SMOKE)
    part_a = docs.filter("doc_id % 4 != 0")
    part_b = docs.filter("doc_id % 4 = 0")
    idx = str(tmp_path / "resume_append_idx")
    build_index(part_a, idx, n_segments=2, n_buckets=8)

    # crash after the FIRST new segment commits
    real = ib.build_segment
    calls = {"n": 0}

    def crashing(documents, index_dir, seg, n_segments, key_prefix=""):
        if calls["n"] >= 1:
            raise RuntimeError("simulated kill mid-append")
        calls["n"] += 1
        return real(documents, index_dir, seg, n_segments, key_prefix)

    monkeypatch.setattr(ib, "build_segment", crashing)
    with pytest.raises(RuntimeError, match="mid-append"):
        append_index(part_b, idx, n_segments=2, epoch="ep1")
    monkeypatch.setattr(ib, "build_segment", real)

    # resume with the SAME epoch — only the missing segment builds
    append_index(part_b, idx, n_segments=2, epoch="ep1")
    assert calls["n"] == 1  # crashing stub built exactly one segment

    full_idx = str(tmp_path / "resume_full_idx")
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


def test_append_resumes_through_finalize_crash(spark, tmp_path, monkeypatch):
    """An append killed INSIDE the re-finalize (term_dict swap window)
    resumes by re-calling with the same epoch: the epoch's committed
    segments mark the in-flight append (clash check against the
    mid-rewrite docs dim is skipped), the retraction is not repeated
    (committed finalize sub-steps are kept), and the finished index
    equals a full rebuild."""
    from splade_spark.operators.index_build import append_index, build_index

    docs = load_documents(spark, SF_SMOKE)
    part_a = docs.filter("doc_id % 4 != 0")
    part_b = docs.filter("doc_id % 4 = 0")
    idx = str(tmp_path / "rf_append_idx")
    build_index(part_a, idx, n_segments=2, n_buckets=8)

    tmp_td = os.path.join(idx, "term_dict_tmp")
    real_rename = os.rename

    def crashing_rename(src, dst):
        if src == tmp_td:
            raise RuntimeError("simulated crash inside append finalize")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crashing_rename)
    with pytest.raises(RuntimeError, match="append finalize"):
        append_index(part_b, idx, n_segments=2, epoch="ep2")
    monkeypatch.setattr(os, "rename", real_rename)

    man = Manifest.load(idx)
    n_retracts = sum(
        1 for s in man.snapshots
        if s["stage"] == "retract" and s["key"] == "finalize:append:ep2"
    )
    assert n_retracts == 1

    append_index(part_b, idx, n_segments=2, epoch="ep2")
    man = Manifest.load(idx)
    assert "index" in man.committed("finalize")
    # the second call must NOT have retracted again
    assert sum(
        1 for s in man.snapshots
        if s["stage"] == "retract" and s["key"] == "finalize:append:ep2"
    ) == 1

    full_idx = str(tmp_path / "rf_full_idx")
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


def test_range_salt_bounds_concentrated_term(spark, tmp_path):
    """Doc-RANGE salting degradation bound: a term whose df demands
    n_salt slices but whose postings all sit in a NARROW doc region
    lands them in few slices — each encoder group must stay within
    the documented graceful bound (~concentration * salt_unit), not
    collapse to one df-sized group."""
    from pyspark.sql import functions as F

    idx = str(tmp_path / "conc_idx")
    n = 8_000
    salt_unit = 256
    # 'hot' appears in every doc of the FIRST QUARTER of the id space
    # (df = 2000 = ~8 salt_unit), nowhere else; filler terms spread df
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.when(F.col("id") < n // 4, F.lit("hot ")).otherwise(F.lit("")),
            F.lit("w"),
            (F.col("id") % 7).cast("string"),
        ).alias("text"),
    )
    build_index(docs, idx, n_segments=2, n_buckets=8, block_size=16,
                salt_unit=salt_unit)
    import os

    post = spark.read.parquet(os.path.join(idx, "postings"))
    td = spark.read.parquet(os.path.join(idx, "term_dict"))
    hot_id = td.filter("term = 'hot'").first().term_id
    per_salt = (
        post.filter(F.col("term_id") == hot_id)
        .groupBy(F.shiftright("block_id", 24).alias("salt"))
        .agg(F.sum("n").alias("postings"))
        .collect()
    )
    df_hot = n // 4
    n_salt = -(-df_hot // salt_unit)  # ceil -> 8 slices over the corpus
    # concentration factor: all postings in 1/4 of the id space ->
    # they map to ~n_salt/4 slices, each holding ~4x salt_unit
    sizes = sorted(r.postings for r in per_salt)
    assert sum(sizes) == df_hot
    assert max(sizes) <= 8 * salt_unit  # documented graceful bound
    assert len(sizes) >= max(n_salt // 4, 1)  # spread over >= the
    # slices its doc range intersects, not one df-sized group


def test_exact_placement_machinery_matches_bypass(spark, tmp_path, monkeypatch):
    """Round 5 gated the dictionary-driven exact-placement write behind
    a posting-mass threshold (small corpora take a plain per-bucket
    sorted write). Force the machinery at test scale and assert (a) the
    two layouts serve rank-identical results — placement is a pure perf
    choice — and (b) the machinery's files each hold one contiguous
    sorted (bucket, term_id, block_id) key run (the property the packed
    range key exists to guarantee)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from splade_spark.operators import index_build as ib
    from splade_spark.synth import derive_queries

    docs = load_documents(spark, SF_SMOKE)
    queries = query_rows(derive_queries(docs))

    idx_a = str(tmp_path / "idx_bypass")
    build_index(docs, idx_a, n_segments=2, n_buckets=8, block_size=16, salt_unit=64)
    # inflate the per-posting estimate so est_bytes clears the gate
    monkeypatch.setattr(ib, "EST_BYTES_PER_POSTING", 1 << 40)
    idx_b = str(tmp_path / "idx_machinery")
    build_index(docs, idx_b, n_segments=2, n_buckets=8, block_size=16, salt_unit=64)

    a = search_fused(spark, idx_a, queries, k=K).toPandas().sort_values(["qid", "rank"])
    b = search_fused(spark, idx_b, queries, k=K).toPandas().sort_values(["qid", "rank"])
    assert (a.qid.values == b.qid.values).all()
    assert (a.doc_id.values == b.doc_id.values).all()
    assert (abs(a.score.values - b.score.values) < 1e-9).all()

    # every machinery-written file: rows sorted by (term_id, block_id)
    # (bucket is the dir partition), i.e. one contiguous key run
    root = os.path.join(idx_b, "postings")
    nfiles = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            nfiles += 1
            t = pq.read_table(
                os.path.join(dirpath, f), columns=["term_id", "block_id"]
            ).to_pandas()
            keys = list(zip(t.term_id, t.block_id))
            assert keys == sorted(keys), f"unsorted key run in {f}"
    assert nfiles > 0


def test_packed_key_overflow_falls_back_to_range_partitioner(
    spark, tmp_path, monkeypatch
):
    """When bucket+term bits exceed the packed-key budget the write
    must take the repartitionByRange fallback (sampling, but correct
    monotone placement) rather than overflowing shiftleft into the
    sign bit. Force it by shrinking the budget; results and sorted
    per-file key runs must be unaffected."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from splade_spark.operators import index_build as ib
    from splade_spark.synth import derive_queries

    docs = load_documents(spark, SF_SMOKE)
    monkeypatch.setattr(ib, "EST_BYTES_PER_POSTING", 1 << 40)  # skip bypass
    monkeypatch.setattr(ib, "PACKED_KEY_BITS", 4)  # force overflow branch
    idx = str(tmp_path / "idx_overflow")
    build_index(docs, idx, n_segments=2, n_buckets=8, block_size=16, salt_unit=64)

    queries = query_rows(derive_queries(docs))
    got = search_fused(spark, idx, queries, k=K).toPandas().sort_values(["qid", "rank"])
    want = (
        bm25_run(docs, k=K).toPandas().sort_values(["qid", "rank"])
    )
    assert (got.qid.values == want.qid.values).all()
    assert (got.doc_id.values == want.doc_id.values).all()
    assert (abs(got.score.values - want.score.values) < 1e-9).all()

    for dirpath, _dirs, files in os.walk(os.path.join(idx, "postings")):
        for f in files:
            if f.endswith(".parquet"):
                t = pq.read_table(
                    os.path.join(dirpath, f), columns=["term_id", "block_id"]
                ).to_pandas()
                keys = list(zip(t.term_id, t.block_id))
                assert keys == sorted(keys), f"unsorted key run in {f}"


def test_block_id_beyond_int32(spark, tmp_path):
    """A hot term whose posting list spans >128 salt units produces
    block_id = salt * 2^24 + seq values past 2^31; the postings schema
    must carry them as long end-to-end (regression: the 16M-doc
    replicated corpus overflowed the encoder's Arrow int32 cast — a
    10^12-doc stopword is 4 orders of magnitude further past it) and
    the materialized search must stay result-identical to the logical
    path."""
    from pyspark.sql import functions as F

    n = 9000  # df("hot") = 9000 > 128 * salt_unit(64) = 8192
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("hot w"), (F.col("id") % 97).cast("string")).alias("text"),
    )
    idx = str(tmp_path / "idx_hot")
    build_index(docs, idx, n_segments=2, n_buckets=8, block_size=16, salt_unit=64)

    post = spark.read.parquet(os.path.join(idx, "postings"))
    assert dict(post.dtypes)["block_id"] == "bigint"
    assert post.agg({"block_id": "max"}).collect()[0][0] > (1 << 31)

    qrows = [(0, "hot w3"), (1, "hot w42")]
    queries = spark.createDataFrame(qrows, "qid long, text string")
    got = (
        search_fused(spark, idx, qrows, k=K)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    want = (
        bm25_run(docs, queries=queries, k=K)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    assert (got.doc_id.values == want.doc_id.values).all()
    assert (abs(got.score.values - want.score.values) < 1e-9).all()


@pytest.fixture(scope="module")
def smoke_segments(spark, tmp_path_factory):
    segs = str(tmp_path_factory.mktemp("segs"))
    build_segments(load_documents(spark, SF_SMOKE), segs, n_segments=1)
    return segs


@pytest.mark.parametrize("gap_codec,store_impacts", [("vbyte", True), ("bitpack", False)])
def test_encoder_carries_runs_across_arrow_batches(
    spark, smoke_segments, tmp_path, gap_codec, store_impacts
):
    """The block encoder sees each partition as a stream of Arrow
    batches; a (term_id, salt) run cut by a batch boundary is carried
    into the next batch. 97-row batches split most runs of this fixture
    (salt_unit 256, hot terms far past 97 postings), and the postings
    must equal the default-batch build's on every column."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"

    def finalize(name):
        idx = str(tmp_path / name)
        shutil.copytree(smoke_segments, idx)
        finalize_index(spark, idx, n_buckets=8, block_size=16, salt_unit=256,
                       gap_codec=gap_codec, store_impacts=store_impacts)
        return (
            pads.dataset(os.path.join(idx, "postings"), partitioning="hive")
            .to_table()
            .sort_by([("term_id", "ascending"), ("block_id", "ascending")])
        )

    default = finalize("default")
    before = spark.conf.get(conf)
    spark.conf.set(conf, "97")
    try:
        small = finalize("small")
    finally:
        spark.conf.set(conf, before)
    assert small.equals(default)
    per_run = (
        default.append_column("salt", pc.shift_right(default["block_id"], 24))
        .group_by(["term_id", "salt"])
        .aggregate([("n", "sum")])
    )
    assert max(per_run["n_sum"].to_pylist()) > 97  # runs straddle batches
