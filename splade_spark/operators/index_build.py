"""Resumable two-stage index build:

Stage A ``segments`` — per-segment tokenize/explode/aggregate:
  documents are hash-split into N segments (pmod(doc_id, N), the
  Spark analog of the reference's 4-worker SLURM shard fan-out,
  pisa_inference/launch.sh:2-16); each segment writes its
  (term, doc_id, tf, dl) relation + (doc_id, dl) doc rows as a
  parquet "segment" and commits a manifest snapshot with lineage
  metrics. A killed build re-runs only uncommitted segments.
  Impacts canNOT be finalized here: BM25 needs global N/avgdl/df.

Stage B ``finalize`` — the N-way merge (reference analog:
  index2pisa.py:30-74 single-process gather of per-shard JSONL):
  union all segments, compute global stats + term dictionary,
  weight postings, salt hot terms, repartition(term_id, salt) +
  sortWithinPartitions(term_id, salt, doc_id) → one mapInArrow block
  encoder per Arrow batch → postings table partitioned by
  content-addressed bucket(md5(term)) for query-time partition
  pruning with prune literals computable from raw query tokens.

Skew: a stopword-ish term at 10^12 docs has a posting run of ~N
entries — it must never be collected into one task. Doc-RANGE
salting (salt i = i-th contiguous slice of the corpus doc_id range,
ceil(df / salt_unit) slices per term) bounds every (term_id, salt)
run to ~salt_unit postings; blocks are independent (absolute
first_doc_id + in-block gaps) so salted groups need no post-merge,
and a term's block doc-ranges stay disjoint + ordered across salts
(doc-locality clusters hot blocks -> row-group skipping; see the
salt expression comment in the postings step).
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.window import Window

from splade_spark import schema as S
from splade_spark.functions.bm25 import impact_col
from splade_spark.functions.hashing import md5_int
from splade_spark.functions.codec import BLOCK_SIZE, encode_blocks
from splade_spark.functions.tokenize import tokenize_docs
from splade_spark.plans.snapshots import Manifest, dir_bytes

DEFAULT_SEGMENTS = 4
DEFAULT_BUCKETS = 32
DEFAULT_SALT_UNIT = 1 << 16  # max postings per encoder group
_BLOCK_ID_STRIDE = 1 << 24  # block_id = salt * stride + seq
# parquet row-group cap for the postings table: small enough that a
# single-term pruned scan skips most of a bucket file via sorted
# (term_id, block_id) min/max stats, large enough to amortize footer
# metadata (a 100 TB index at 8 MB groups is ~12.5M row groups spread
# across per-bucket files — footer-local, never driver-resident)
POSTINGS_ROWGROUP_BYTES = 8 * 1024 * 1024
# conservative on-disk estimate used ONLY to gate the exact-placement
# write machinery (codec bench: 10.9 B/posting quantized-only, ~15
# with float impacts; over-estimating just engages the machinery a
# little earlier — never a correctness input)
EST_BYTES_PER_POSTING = 16
# packed (bucket, term_id, salt) range-key bit budget: 62 keeps the
# long positive with headroom; when bucket+term bits alone exceed it
# the write falls back to repartitionByRange (module constant so the
# fallback is testable at sandbox id ranges)
PACKED_KEY_BITS = 62


def build_segment(
    documents: DataFrame,
    index_dir: str,
    seg: int,
    n_segments: int,
    key_prefix: str = "",
) -> dict:
    """Build one segment: single tokenize pass (cached), explode/agg
    terms + doc lens, both written as the segment's parquet."""
    spark = documents.sparkSession
    seg_docs = documents.filter(F.pmod("doc_id", F.lit(n_segments)) == seg)
    seg_dir = os.path.join(index_dir, "segments", f"{key_prefix}seg={seg}")
    tok = tokenize_docs(seg_docs).persist()
    try:
        terms = (
            tok.select("doc_id", "dl", F.explode("tokens").alias("term"))
            .groupBy("doc_id", "dl", "term")
            .agg(F.count("*").alias("tf"))
            .select("term", "doc_id", "tf", "dl")
        )
        terms.write.mode("overwrite").parquet(os.path.join(seg_dir, "terms"))
        # row count piggybacks on the write via observe() — no extra job
        obs = Observation(f"seg{seg}_rows")
        (
            tok.select("doc_id", "dl")
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .write.mode("overwrite")
            .parquet(os.path.join(seg_dir, "docs"))
        )
        n_rows = int(obs.get["n"])
    finally:
        tok.unpersist()
    return {"rows": n_rows, "bytes": dir_bytes(seg_dir), "seg": seg}


def build_segments(
    documents: DataFrame,
    index_dir: str,
    n_segments: int = DEFAULT_SEGMENTS,
    max_concurrent: int = 4,
    key_prefix: str = "",
) -> Manifest:
    """Stage A. ``documents``: (doc_id long, text string [, url]).

    Segments run as CONCURRENT Spark jobs (thread pool — the local
    analog of independent cluster jobs); each commits its manifest
    snapshot on completion, so kill/resume granularity is unchanged.
    """
    from concurrent.futures import ThreadPoolExecutor
    from threading import Lock

    man = Manifest.load(index_dir)
    done = man.committed("segment")
    todo = [s for s in range(n_segments) if f"{key_prefix}seg={s}" not in done]
    lock = Lock()

    def run(seg: int) -> None:
        t0 = time.time()
        res = build_segment(documents, index_dir, seg, n_segments, key_prefix)
        with lock:
            man.commit(
                "segment",
                f"{key_prefix}seg={seg}",
                rows=res["rows"],
                bytes_=res["bytes"],
                wall_ms=int((time.time() - t0) * 1000),
                partition_id=seg,
            )

    if todo:
        with ThreadPoolExecutor(max_workers=max_concurrent) as ex:
            list(ex.map(run, todo))
    return man


def _block_encoder(block_size: int, gap_codec: str = "vbyte", store_impacts: bool = True):
    """mapInArrow kernel over weighted postings sorted by (term_id, salt,
    doc_id): every (term_id, salt) run of a batch is encoded in one
    ``encode_blocks`` call. The batch's last run may continue in the
    next batch, so it is carried over and encoded once its key changes
    or the input ends."""
    out_schema = to_arrow_schema(S.POSTINGS)

    def run_starts(data):
        tid, salt = (data.column(c).to_numpy() for c in ("term_id", "salt"))
        return np.flatnonzero(np.r_[True, (tid[1:] != tid[:-1]) | (salt[1:] != salt[:-1])])

    def encode(chunks):
        tbl = pa.Table.from_batches(chunks)
        tid, bucket, salt, doc_ids, tfs, impacts = (
            tbl.column(c).to_numpy()
            for c in ("term_id", "bucket", "salt", "doc_id", "tf", "impact")
        )
        runs = run_starts(tbl)
        starts, cols = encode_blocks(
            runs,
            doc_ids,
            tfs,
            impacts,
            salt[runs].astype(np.int64) * _BLOCK_ID_STRIDE,
            block_size,
            gap_codec,
            store_impacts,
        )
        return pa.RecordBatch.from_arrays(
            [pa.array(tid[starts]), pa.array(bucket[starts]), *cols.values()],
            schema=out_schema,
        )

    def run(batches):
        carry = []
        for b in batches:
            if not b.num_rows:
                continue
            last = int(run_starts(b)[-1])
            if last:
                yield encode(carry + [b.slice(0, last)])
                carry = []
            carry.append(b.slice(last))
        if carry:
            yield encode(carry)

    return run


def finalize_index(
    spark: SparkSession,
    index_dir: str,
    n_buckets: int = DEFAULT_BUCKETS,
    block_size: int = BLOCK_SIZE,
    salt_unit: int = DEFAULT_SALT_UNIT,
    gap_codec: str = "vbyte",
    store_impacts: bool = True,
) -> Manifest:
    """Stage B: N-way segment merge -> stats, term_dict, postings.

    Resumable at SUB-STEP granularity: stats -> term_dict -> postings
    -> the final term_max rewrite each commit their own manifest
    snapshot, so a job killed mid-finalize re-runs only the steps
    after the last committed one (north rule: every stage of the DAG
    checkpointed with lineage)."""
    man = Manifest.load(index_dir)
    done = man.committed("finalize")
    if "index" in done:
        return man
    # recover from a crash INSIDE the term_dict swap window below
    # (between rename(final -> _bak) and rename(tmp -> final)): the
    # dict is never absent-and-lost on disk, but it can be absent at
    # its canonical path — restore the backup before any reader
    # touches it
    _final_td = os.path.join(index_dir, "term_dict")
    _bak_td = _final_td + "_bak"
    if not os.path.exists(_final_td) and os.path.exists(_bak_td):
        os.rename(_bak_td, _final_td)
    t0 = time.time()
    # concrete per-segment paths, not a "*" glob: the glob makes every
    # read probe "<glob>/_spark_metadata" and log a WARN + full
    # FileNotFoundException stack (FileStreamSink), polluting job logs;
    # listing N segment dirs is metadata-trivial at any scale
    seg_root = os.path.join(index_dir, "segments")
    seg_dirs = sorted(
        os.path.join(seg_root, d)
        for d in os.listdir(seg_root)
        if os.path.isdir(os.path.join(seg_root, d, "terms"))
    )  # covers batch "seg=N" and streaming "stream-epoch=N" segments
    terms = spark.read.parquet(*[os.path.join(d, "terms") for d in seg_dirs])
    lens = spark.read.parquet(*[os.path.join(d, "docs") for d in seg_dirs])

    # --- step 1: global stats + docs dimension table in ONE job ------------
    # (stats piggyback on the docs write via observe())
    stats_path = os.path.join(index_dir, "stats.json")
    if "stats" not in done:
        ts = time.time()
        obs = Observation("corpus_stats")
        (
            lens.observe(
                obs,
                F.count(F.lit(1)).alias("n_docs"),
                F.avg("dl").alias("avgdl"),
                F.min("doc_id").alias("min_doc_id"),
                F.max("doc_id").alias("max_doc_id"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(index_dir, "docs"))
        )
        n_docs, avgdl = int(obs.get["n_docs"]), float(obs.get["avgdl"])
        with open(stats_path, "w") as f:
            json.dump(
                {
                    "n_docs": n_docs,
                    "avgdl": avgdl,
                    "min_doc_id": int(obs.get["min_doc_id"]),
                    "max_doc_id": int(obs.get["max_doc_id"]),
                    "n_buckets": n_buckets,
                    "gap_codec": gap_codec,
                    "store_impacts": store_impacts,
                    "block_size": block_size,
                    "salt_unit": salt_unit,
                },
                f,
            )
        man.commit("finalize", "stats", rows=n_docs, wall_ms=int((time.time() - ts) * 1000))
    else:
        with open(stats_path) as f:
            st = json.load(f)
        n_docs, avgdl = int(st["n_docs"]), float(st["avgdl"])
        # a resumed finalize keeps the codec the committed stats declared
        gap_codec = st.get("gap_codec", gap_codec)
        store_impacts = st.get("store_impacts", store_impacts)
    with open(stats_path) as f:
        _st = json.load(f)
    if "min_doc_id" in _st:
        min_doc_id, max_doc_id = int(_st["min_doc_id"]), int(_st["max_doc_id"])
    else:
        # stats committed by a pre-range-salting build: one metadata agg
        r = lens.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
        min_doc_id, max_doc_id = int(r[0]), int(r[1])

    # --- step 2: term dictionary -------------------------------------------
    # Dense term ids by deterministic (bucket, term) order (replaces
    # the reference's first-appearance enumeration, index2pisa.py:53-57).
    # bucket is CONTENT-ADDRESSED — pmod(md5(term), n_buckets) — so the
    # query side derives its partition-prune literals from raw query
    # tokens in pure Python with zero pre-query Spark actions
    # (index_query.prepare_queries). Computed HERE on the vocab-sized
    # dict (not per posting row — that would be |postings| md5s).
    #
    # id assignment is PER-BUCKET row_number + bucket base offset, NOT
    # a global Window.orderBy(term): a no-partition window funnels the
    # whole vocabulary (billions of rows at CC scale) through ONE task.
    # Per-bucket windows parallelize across n_buckets; the offset
    # prefix-sum runs over the n_buckets-row count relation (trivial).
    # Ids stay dense in [0, V): bucket-major, term-sorted within.
    if "term_dict" not in done:
        ts = time.time()
        dfs = terms.groupBy("term").agg(F.count("*").cast("long").alias("df"))
        bucketed = dfs.withColumn(
            "bucket", F.pmod(md5_int(F.col("term")), F.lit(n_buckets)).cast("int")
        )
        bucketed = bucketed.persist()  # feeds the count action + the id join
        counts = {
            int(r.bucket): int(r.n)
            for r in bucketed.groupBy("bucket").agg(F.count("*").alias("n")).collect()
        }  # n_buckets rows — dictionary METADATA, driver-side by design
        bases, acc = [], 0
        for b in sorted(counts):
            bases.append((b, acc))
            acc += counts[b]
        offsets = spark.createDataFrame(bases, "bucket int, base long")
        in_bucket_w = Window.partitionBy("bucket").orderBy("term")
        term_dict = bucketed.join(F.broadcast(offsets), "bucket").withColumn(
            "term_id",
            (F.col("base") + F.row_number().over(in_bucket_w) - 1).cast("int"),
        ).select("term", "df", "term_id", "bucket")
        term_dict.write.mode("overwrite").parquet(os.path.join(index_dir, "term_dict"))
        bucketed.unpersist()
        man.commit(
            "finalize", "term_dict", rows=acc, wall_ms=int((time.time() - ts) * 1000)
        )
    term_dict = spark.read.parquet(os.path.join(index_dir, "term_dict")).select(
        "term", "df", "term_id", "bucket"
    )  # column-pruned: a resumed run's dict may already carry max_impact

    # --- step 3: weighted postings + salted block encode -------------------
    post_dir = os.path.join(index_dir, "postings")
    if "postings" not in done:
        ts = time.time()
        weighted = (
            terms.join(term_dict, "term")
            .select(
                "term_id",
                "doc_id",
                "tf",
                impact_col(
                    F.col("tf"),
                    F.col("dl"),
                    F.col("df"),
                    F.lit(n_docs),
                    F.lit(avgdl),
                ).alias("impact"),
                "bucket",
                # doc-RANGE salting: salt i of a term covers the i-th
                # contiguous slice of the corpus doc_id range, NOT
                # pmod(doc_id, n_salt). pmod scatters every doc-id
                # region across ALL of a hot term's salt groups, so any
                # doc-locality in the corpus (quality/length-ordered
                # docID assignment, crawl/site clustering) puts >= 1
                # high-block-max block at the head of EVERY salt run and
                # a Block-Max-pruned scan can never skip a row group.
                # Range salts keep block doc-ranges disjoint and ordered
                # across a term's blocks: hot blocks cluster into few
                # salt runs, row-group min/max stats skip the rest, and
                # docID gaps inside a salt shrink n_salt-fold (smaller
                # VByte payload). Group-size bound: ~df/n_salt postings
                # per group for corpus-wide terms (the pmod bound); a
                # term fully concentrated in 1/c of the doc range gets
                # ~c*salt_unit-posting groups — graceful, and bounded by
                # the span's doc count. double math: exact enough at any
                # scale (boundary rounding only shifts group balance).
                F.least(
                    F.floor(
                        (F.col("doc_id") - F.lit(min_doc_id))
                        / F.lit(float(max(max_doc_id - min_doc_id + 1, 1)))
                        * F.greatest(
                            F.ceil(F.col("df") / F.lit(salt_unit)), F.lit(1)
                        )
                    ),
                    F.greatest(
                        F.ceil(F.col("df") / F.lit(salt_unit)), F.lit(1)
                    ) - 1,
                ).cast("int").alias("salt"),
            )
        )
        # explicit pre-partitioning of the encode shuffle on the run keys:
        # each task sorts its partition by (term_id, salt, doc_id) and the
        # mapInArrow encoder cuts the runs into blocks. cores*8 partitions,
        # clamped to max(cores, 8) when the dictionary-estimated payload
        # (one vocab-scale agg, reused by the write-path bypass below) is
        # under 2 row groups per core. Postings-step medians with the
        # batch encoder at local[4], 8 vs 32 partitions: perfbench dense
        # 2.51 vs 2.70 s, selective 2.04 vs 1.91 s, 100k-doc synth corpus
        # 8.14 vs 9.25 s (all under the clamp, 3 reps), 400k-doc synth
        # (12.8M postings, past it) 22.1 vs 20.8 s (2 reps). Neither count
        # wins every corpus, so the clamp stays where it was.
        _mrow = term_dict.agg(F.sum("df"), F.max("term_id")).collect()[0]
        n_postings, _max_tid = int(_mrow[0] or 0), int(_mrow[1] or 0)
        est_bytes = n_postings * EST_BYTES_PER_POSTING
        par = spark.sparkContext.defaultParallelism
        enc_parts = par * 8
        if est_bytes < par * 2 * POSTINGS_ROWGROUP_BYTES:
            enc_parts = max(par, 8)
        blocks = (
            weighted.repartition(enc_parts, "term_id", "salt")
            .sortWithinPartitions("term_id", "salt", "doc_id")
            .mapInArrow(_block_encoder(block_size, gap_codec, store_impacts), S.POSTINGS)
        )
        # sorted + small-row-group write: files are ordered by
        # (term_id, block_id) and row groups capped at
        # POSTINGS_ROWGROUP_BYTES, so the query side's literal
        # term_id/block_id filters (search_fused's isin, MaxScore's
        # retained-block IN-lists) skip row groups via min/max stats —
        # the Iceberg sorted-write analog. Unsorted, every row group
        # spans the whole term range and pruned scans silently read
        # the full bucket.
        #
        # The shuffle is RANGE partitioning on the sort key, not hash
        # on (bucket, term_id): hash files hold a scattered
        # 1/sort_parts term SUBSET, so their row-group min/max span
        # nearly the whole id range and a term-pruned scan silently
        # reads every file in the bucket — measured +55% scan bytes
        # when the build ran at 4x the cores (more, smaller hash
        # files). Range files cover contiguous (term_id, block_id)
        # runs: a term lookup touches exactly the files whose range
        # intersects, independent of how many cores built the index,
        # and a hot term's blocks split across ranges at salt
        # boundaries. Not bucket-only partitioning either — n_buckets
        # partitions would cap the sort at n_buckets-way parallelism
        # (measured -24% build throughput at local[8]).
        #
        # The range boundaries come from the TERM DICTIONARY, not from
        # repartitionByRange: Spark's range partitioner samples its
        # input, which here means either re-running the encoder (the
        # expensive stage) or persisting ~index-size bytes (measured
        # -30% build throughput at local[32] from cache pressure). The
        # dictionary already holds the exact posting mass of every
        # (bucket, term, salt) unit, so boundaries are a metadata-only
        # computation and blocks flow encoder -> ONE hash shuffle on
        # the precomputed range id -> sorted write. Placement is
        # EXACT: each range id is swapped for a driver-found token
        # whose Murmur3 hash lands in the intended partition, so every
        # output partition holds exactly ONE contiguous mass-balanced
        # key run — repartitionByRange semantics with zero sampling.
        sort_parts = spark.sparkContext.defaultParallelism * 2
        n_ranges = sort_parts
        # Small-scale bypass: the exact-placement machinery below buys
        # row-group skipping and core-count-independent file layout,
        # which only pay once output partitions span MULTIPLE row
        # groups. The posting mass is known from the dictionary before
        # any shuffle (one agg over the vocab-sized dict); when the
        # whole estimated payload fits under ~1 row group per sort
        # partition, a plain per-bucket sorted write is layout-
        # equivalent (each bucket file is a handful of row groups,
        # still (term_id, block_id)-sorted for min/max pruning) and
        # skips the machinery's fixed driver cost (per-bucket mass
        # windows + boundary/token-probe collects, ~1.5s — the r4
        # sf0.1 build regression). At 100 TB est_bytes exceeds the
        # threshold by orders of magnitude and the exact-placement
        # path always runs.
        small_scale = est_bytes < sort_parts * POSTINGS_ROWGROUP_BYTES
        bucket_bits = max((n_buckets - 1).bit_length(), 1)
        tid_bits = max(_max_tid.bit_length(), 1)
        if small_scale:
            sorted_blocks = blocks.repartition(
                max(n_buckets, 1), "bucket"
            ).sortWithinPartitions("bucket", "term_id", "block_id")
        elif bucket_bits + tid_bits > PACKED_KEY_BITS:
            # packed-key bit budget exceeded (ADVICE r4): with bucket
            # and term bits alone past 62 the shiftleft would overflow
            # into the sign bit, keys go non-monotone, and range
            # placement silently degrades to scattered files. Pay
            # Spark's sampling range partitioner instead — same sorted
            # layout, one extra sampling pass over the encoded blocks.
            sorted_blocks = blocks.repartitionByRange(
                sort_parts, "bucket", "term_id", "block_id"
            ).sortWithinPartitions("bucket", "term_id", "block_id")
        else:
            units = (
                term_dict.select(
                    "bucket",
                    "term_id",
                    F.greatest(
                        F.ceil(F.col("df") / F.lit(salt_unit)).cast("int"), F.lit(1)
                    ).alias("n_salt"),
                    "df",
                )
                .withColumn("salt", F.explode(F.sequence(F.lit(0), F.col("n_salt") - 1)))
                # df/n_salt mass per salt is exact for pmod salting and the
                # expectation for range salting; doc-skewed terms only tilt
                # FILE-size balance (placement stays correct — the range key
                # is computed per row, boundaries just land off-median)
                .withColumn(
                    "mass",
                    F.col("df") / F.col("n_salt") / F.lit(block_size) + F.lit(1.0),
                )
            )
            ubw = (
                Window.partitionBy("bucket")
                .orderBy("term_id", "salt")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            units = units.withColumn("cum", F.sum("mass").over(ubw))
            brows = units.groupBy("bucket").agg(
                F.max("cum").alias("tot"),
                F.max("term_id").alias("mt"),
                F.max("n_salt").alias("ms"),
            ).collect()  # n_buckets rows — metadata-scale by design
            btot = {int(r.bucket): float(r.tot) for r in brows}
            # bit budget for the packed (bucket, term_id, salt) range key,
            # sized from the ACTUAL id ranges so it stays monotone with the
            # sort order at any scale (a fixed salt field overflows into
            # term bits once hot-term df exceeds 2^bits * salt_unit). If
            # the ids are so large salt can't fit, the clamp merges salt
            # tails — boundaries coarsen, monotonicity survives.
            term_bits = max(max(int(r.mt) for r in brows).bit_length(), 1)
            salt_bits = max(
                min(
                    max((max(int(r.ms) for r in brows) - 1).bit_length(), 1),
                    PACKED_KEY_BITS - max((n_buckets - 1).bit_length(), 1) - term_bits,
                ),
                0,
            )
            salt_cap = (1 << salt_bits) - 1
            bbase, acc_m = {}, 0.0
            for b in sorted(btot):
                bbase[b] = acc_m
                acc_m += btot[b]
            width = max(acc_m / n_ranges, 1e-9)
            base_df = spark.createDataFrame(
                [(b, v) for b, v in bbase.items()], "bucket int, gbase double"
            )
            # boundary units: rows where the GLOBAL cumulative mass crosses
            # a width multiple; at most n_ranges rows come back
            bounds = (
                units.join(F.broadcast(base_df), "bucket")
                .withColumn("gcum", F.col("gbase") + F.col("cum"))
                .filter(
                    F.floor(F.col("gcum") / F.lit(width))
                    > F.floor((F.col("gcum") - F.col("mass")) / F.lit(width))
                )
                .select("bucket", "term_id", "salt")
                .collect()
            )
            # single-long range key, bucket-major then term then salt —
            # the same total order as the (bucket, term_id, block_id) sort
            # (block_id's high bits ARE the salt)
            ts_bits = term_bits + salt_bits
            bkeys = sorted(
                (
                    (int(r.bucket) << ts_bits)
                    | (int(r.term_id) << salt_bits)
                    | min(int(r.salt), salt_cap)
                )
                for r in bounds
            )[: n_ranges - 1]
            stride_log = _BLOCK_ID_STRIDE.bit_length() - 1
            key_col = (
                F.shiftleft(F.col("bucket").cast("long"), ts_bits)
                .bitwiseOR(F.shiftleft(F.col("term_id").cast("long"), salt_bits))
                .bitwiseOR(
                    F.least(
                        F.shiftright(F.col("block_id"), stride_log).cast("long"),
                        F.lit(salt_cap),
                    )
                )
            )
            # exact range -> partition placement: the exchange hashes the
            # _pid column with Murmur3(seed 42) — the same function F.hash
            # exposes — so a metadata-scale probe finds, for each target
            # partition, a token that hashes into it. Range i gets
            # tokens[i]: every partition receives exactly one range
            # (hash-on-small-int placement is Poisson — ~2x partition-size
            # spread and ~1/e^4 empty partitions it can't fill).
            tok: dict[int, int] = {}
            probe = sort_parts * 40
            while len(tok) < sort_parts:
                for r in (
                    spark.range(probe)
                    .select(
                        F.col("id").cast("int").alias("t"),
                        F.pmod(F.hash(F.col("id").cast("int")), F.lit(sort_parts)).alias(
                            "p"
                        ),
                    )
                    .collect()
                ):
                    tok.setdefault(int(r.p), int(r.t))
                probe *= 4
            tokens = [tok[i % sort_parts] for i in range(n_ranges)]
            if bkeys:
                rng_idx = F.size(
                    F.filter(
                        F.array(*[F.lit(k) for k in bkeys]),
                        lambda b: b <= key_col,
                    )
                )
                pid_col = F.element_at(
                    F.array(*[F.lit(t) for t in tokens]), rng_idx + F.lit(1)
                )
            else:
                pid_col = F.lit(tokens[0])
            sorted_blocks = (
                blocks.withColumn("_pid", pid_col)
                .repartition(sort_parts, "_pid")
                .sortWithinPartitions("bucket", "term_id", "block_id")
                .drop("_pid")
            )
        (
            sorted_blocks.write.mode("overwrite")
            .option("parquet.block.size", str(POSTINGS_ROWGROUP_BYTES))
            .partitionBy("bucket")
            .parquet(post_dir)
        )
        man.commit(
            "finalize",
            "postings",
            bytes_=dir_bytes(post_dir),
            wall_ms=int((time.time() - ts) * 1000),
        )
    written = spark.read.parquet(post_dir)

    # term-level upper bounds (MaxScore metadata): max block_max per
    # term. ONE column-pruned scan of the compressed postings yields
    # both the per-term maxima and the total block count (vocab-sized
    # result; far cheaper than recomputing the weighted join).
    term_max = written.groupBy("term_id").agg(
        F.max("block_max").alias("max_impact"), F.count("*").alias("n_blk")
    )
    td_final = term_dict.join(term_max, "term_id", "left").na.fill(
        {"max_impact": 0.0, "n_blk": 0}
    )
    tmp_td = os.path.join(index_dir, "term_dict_tmp")
    # total block count piggybacks on the dict write via observe()
    obs_blk = Observation("n_blocks")
    (
        td_final.observe(obs_blk, F.sum("n_blk").alias("n"))
        .drop("n_blk")
        .write.mode("overwrite")
        .parquet(tmp_td)
    )
    n_blocks = int(obs_blk.get["n"] or 0)
    # backup-rename swap: at no point is term_dict absent-and-lost —
    # a crash leaves either the old dict or the new one on disk
    final_td = os.path.join(index_dir, "term_dict")
    bak_td = final_td + "_bak"
    shutil.rmtree(bak_td, ignore_errors=True)
    os.rename(final_td, bak_td)
    os.rename(tmp_td, final_td)
    shutil.rmtree(bak_td, ignore_errors=True)
    man.commit(
        "finalize",
        "index",
        rows=n_blocks,
        bytes_=dir_bytes(post_dir),
        wall_ms=int((time.time() - t0) * 1000),
    )
    return man


def invalidate_bmp(index_dir: str, man: Manifest, reason: str) -> None:
    """Drop the derived block-max tables (``bmp/``, ``bmp_q/``) and
    retract their manifest stage.

    The BMP tables are pure functions of the postings + global BM25
    stats, so ANY postings rewrite (append / stream re-finalize)
    invalidates them: appended docs' blocks would have no UB rows
    (never returnable) and the old UBs no longer upper-bound the
    re-weighted impacts, so the 'lossless certificate' could terminate
    early and silently drop true top-k docs. Called at every finalize
    retraction — the next ``build_bmp_index`` rebuilds from the fresh
    postings."""
    dropped = False
    for d in ("bmp", "bmp_q"):
        p = os.path.join(index_dir, d)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
            dropped = True
    if dropped or man.committed("bmp"):
        man.retract("bmp", reason=reason)


def append_index(
    documents: DataFrame,
    index_dir: str,
    n_segments: int = DEFAULT_SEGMENTS,
    epoch: str | None = None,
) -> Manifest:
    """Incremental append: tokenize/explode/aggregate ONLY the new
    documents into fresh segments, then re-run the finalize merge.

    BM25 impacts depend on GLOBAL corpus statistics (N, avgdl, df) —
    appending documents changes every term's idf and the length
    normalization, so the weighting + block encode of the merged
    posting set MUST rewrite (there is no correct impact-preserving
    append; the reference simply re-indexes, inverted_index.py:23-46
    ``force_new``). What never recomputes is stage A for existing
    segments — the tokenize/expand pass that dominates build cost for
    a real encoder. The resulting index is IDENTICAL to a fresh full
    build over the union (same dense term_ids, same salts, same
    blocks): finalize is a pure function of the segment set.

    ``epoch`` keys this append's segments (``<epoch>-seg=N``). A
    killed append is resumed by calling again with the SAME epoch and
    documents — committed segments skip, finalize re-runs from its
    last committed sub-step. With epoch=None a fresh key is derived
    from the manifest (count of prior append epochs), which is only
    safe when no append is mid-flight.

    New doc_ids must be disjoint from the indexed ones (checked
    against the docs dimension — one semi-join job over the new docs).
    """
    spark = documents.sparkSession
    man = Manifest.load(index_dir)
    seg_done = man.committed("segment")
    # an append that died AFTER its first segment commit (stage A or
    # mid-finalize) is resumed by re-calling with the same epoch: its
    # committed segments identify the in-flight append, the finalize
    # state on disk may be mid-rewrite (so the docs-dim clash check is
    # skipped — it already passed when the epoch first started)
    resuming = epoch is not None and any(
        k.startswith(f"{epoch}-seg=") for k in seg_done
    )
    if "index" not in man.committed("finalize") and not resuming:
        raise ValueError(
            "append_index requires a fully finalized index; run "
            "build_index first (or resume the interrupted build/append "
            "by passing its epoch)"
        )
    if not resuming:
        docs_dim = os.path.join(index_dir, "docs")
        clash = (
            documents.select("doc_id")
            .join(
                spark.read.parquet(docs_dim).select("doc_id"), "doc_id", "left_semi"
            )
            .limit(1)
            .count()
        )
        if clash:
            raise ValueError(
                "append_index: new doc_ids overlap the indexed corpus — "
                "appended documents must carry fresh doc_ids"
            )
    if epoch is None:
        prior = {
            s["key"].split("-seg=")[0]
            for s in man.snapshots
            if s["stage"] == "segment" and "-seg=" in s["key"]
        }
        epoch = f"a{len(prior)}"
    # the re-finalize must keep the layout the original build chose —
    # read it from the committed stats before retracting them
    with open(os.path.join(index_dir, "stats.json")) as f:
        prior = json.load(f)
    build_segments(documents, index_dir, n_segments, key_prefix=f"{epoch}-")
    man = Manifest.load(index_dir)
    # retract exactly ONCE per epoch: a resume after a mid-finalize
    # crash must keep the crashed run's committed sub-steps (stats /
    # term_dict / postings) instead of redoing them
    retract_key = f"finalize:append:{epoch}"
    if not any(
        s["stage"] == "retract" and s["key"] == retract_key for s in man.snapshots
    ):
        # bmp first: a crash between the two re-runs this whole block
        # (the guard key above is the finalize retract, recorded last)
        invalidate_bmp(index_dir, man, reason=f"append:{epoch}")
        man.retract("finalize", reason=f"append:{epoch}")
    return finalize_index(
        spark,
        index_dir,
        n_buckets=int(prior.get("n_buckets", DEFAULT_BUCKETS)),
        block_size=int(prior.get("block_size", BLOCK_SIZE)),
        salt_unit=int(prior.get("salt_unit", DEFAULT_SALT_UNIT)),
        gap_codec=prior.get("gap_codec", "vbyte"),
        store_impacts=bool(prior.get("store_impacts", True)),
    )


def build_index(
    documents: DataFrame,
    index_dir: str,
    n_segments: int = DEFAULT_SEGMENTS,
    n_buckets: int = DEFAULT_BUCKETS,
    block_size: int = BLOCK_SIZE,
    salt_unit: int = DEFAULT_SALT_UNIT,
    gap_codec: str = "vbyte",
    store_impacts: bool = True,
) -> Manifest:
    spark = documents.sparkSession
    build_segments(documents, index_dir, n_segments)
    return finalize_index(
        spark,
        index_dir,
        n_buckets=n_buckets,
        block_size=block_size,
        salt_unit=salt_unit,
        gap_codec=gap_codec,
        store_impacts=store_impacts,
    )
