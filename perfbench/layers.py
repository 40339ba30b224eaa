"""Per-layer metrics of a traced run, from the spans in ``spans.py``.

Each metric is named ``<layer>.<what>`` after the public function or
the on-disk table it describes; per-call values are medians over the
calls made in the run. See README.md for which end-to-end metric each
one should move.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import numpy as np

from spans import median_of

CODEC_SAMPLE_BLOCKS = 2048
CODEC_REPS = 5


def codec_rates(index_dir: str) -> dict:
    """Driver-side decode and encode postings/s over a fixed sample of
    the built index's blocks: the first ``CODEC_SAMPLE_BLOCKS`` in
    (term_id, block_id) order."""
    import pyarrow.dataset as pads

    from splade_spark.functions.codec import GAP_CODECS, encode_posting_blocks
    from splade_spark.operators.index_query import decode_blocks_vectorized

    with open(os.path.join(index_dir, "stats.json")) as f:
        gap_codec = json.load(f).get("gap_codec", "vbyte")
    cols = ["term_id", "block_id", "first_doc_id", "n", "doc_gap_bytes", "tf_bytes", "impact_bytes"]
    tbl = (
        pads.dataset(os.path.join(index_dir, "postings"), partitioning="hive")
        .to_table(columns=cols)
        .sort_by([("term_id", "ascending"), ("block_id", "ascending")])
        .slice(0, CODEC_SAMPLE_BLOCKS)
        .to_pandas()
    )
    ns = tbl["n"].to_numpy(dtype=np.int64)
    args = (
        tbl["first_doc_id"].to_numpy(dtype=np.int64),
        ns,
        list(tbl["doc_gap_bytes"]),
        list(tbl["impact_bytes"]),
        gap_codec,
    )
    dec_walls = []
    for _ in range(CODEC_REPS):
        t = time.perf_counter()
        doc_ids, impacts = decode_blocks_vectorized(*args)
        dec_walls.append(time.perf_counter() - t)
    tf_dec = GAP_CODECS[gap_codec][1]
    tfs = np.concatenate([tf_dec(b, int(n)) for b, n in zip(tbl["tf_bytes"], ns)])
    tids = np.repeat(tbl["term_id"].to_numpy(), ns)
    cuts = np.flatnonzero(np.diff(tids)) + 1
    runs = list(zip(np.split(doc_ids, cuts), np.split(tfs, cuts), np.split(impacts, cuts)))
    enc_walls = []
    for _ in range(CODEC_REPS):
        t = time.perf_counter()
        for d, tf, w in runs:
            for _blk in encode_posting_blocks(d, tf, w, gap_codec=gap_codec):
                pass
        enc_walls.append(time.perf_counter() - t)
    total = int(ns.sum())
    return {
        "codec.decode_postings_per_s": (total / statistics.median(dec_walls), "postings/s"),
        "codec.encode_postings_per_s": (total / statistics.median(enc_walls), "postings/s"),
    }


def layer_metrics(
    index_dir, tracer, setup_spans, timed_spans, timed_s, timed_jobs,
    start_s, foot_base, foot, oracle, batches,
):
    seg, fin, app = (
        next(s for s in setup_spans if s.name == name)
        for name in ("build_segments", "finalize_index", "append_index")
    )
    out = {
        "session.start_s": (start_s, "s"),
        "build_segments.s": (seg.wall, "s"),
        "build_segments.executor_cpu_s": (seg.stage["cpu_s"], "s"),
        "build_segments.shuffle_write_bytes": (seg.stage["shuffle_write"], "B"),
        "build_segments.spill_bytes": (seg.stage["spill"], "B"),
        "finalize_index.s": (fin.wall, "s"),
        "finalize_index.executor_run_s": (fin.stage["run_s"], "s"),
        "finalize_index.executor_cpu_s": (fin.stage["cpu_s"], "s"),
        "finalize_index.shuffle_write_bytes": (fin.stage["shuffle_write"], "B"),
        "finalize_index.shuffle_bytes_per_posting": (
            fin.stage["shuffle_write"] / foot_base["postings.count"], "B",
        ),
        "finalize_index.spill_bytes": (fin.stage["spill"], "B"),
        "finalize_index.tasks": (fin.stage["tasks"], "count"),
        "finalize_index.max_task_s": (fin.max_task_s, "s"),
        "append_index.s": (app.wall, "s"),
        "append_index.shuffle_write_bytes": (app.stage["shuffle_write"], "B"),
        "append_index.postings_bytes_rewritten_per_new_byte": (
            foot["postings.bytes"] / max(foot["postings.bytes"] - foot_base["postings.bytes"], 1),
            "ratio",
        ),
    }
    for key in ("postings.bytes", "postings.count", "postings.blocks", "postings.row_groups",
                "term_dict.bytes"):
        out[key] = (foot[key], "B" if key.endswith("bytes") else "count")
    out.update(codec_rates(index_dir))

    # search_fused: one parent span per batch with prep + collect children
    fused = [s for s in timed_spans if s.name == "search_fused"]
    prep = [s for s in timed_spans if s.name == "search_fused.prep"]
    coll = [s for s in timed_spans if s.name == "search_fused.collect"]
    per_posting, rows = [], []
    for s, (qrows, res, _) in zip(fused, batches):
        terms = {t for _, text in qrows for t in oracle.term_ids(text)}
        postings = sum(oracle.df[t] for t in terms if t < len(oracle.df))
        per_posting.append(s.stage["shuffle_write"] / max(postings, 1))
        rows.append(0 if res is None else len(res))
    out.update({
        "search_fused.prep_s": (median_of(prep, lambda s: s.wall), "s"),
        "search_fused.exec_s": (median_of(coll, lambda s: s.job_wall_s), "s"),
        "search_fused.collect_s": (median_of(coll, lambda s: max(s.wall - s.job_wall_s, 0.0)), "s"),
        "search_fused.jobs": (median_of(fused, lambda s: len(s.jobs)), "count"),
        "search_fused.stages": (median_of(fused, lambda s: s.stages), "count"),
        "search_fused.executor_run_s": (median_of(fused, lambda s: s.stage["run_s"]), "s"),
        "search_fused.executor_cpu_s": (median_of(fused, lambda s: s.stage["cpu_s"]), "s"),
        "search_fused.shuffle_write_bytes": (median_of(fused, lambda s: s.stage["shuffle_write"]), "B"),
        "search_fused.shuffle_read_bytes": (median_of(fused, lambda s: s.stage["shuffle_read"]), "B"),
        "search_fused.shuffle_bytes_per_posting": (float(statistics.median(per_posting)), "B"),
        "search_fused.spill_bytes": (median_of(fused, lambda s: s.stage["spill"]), "B"),
        "search_fused.max_task_s": (median_of(fused, lambda s: s.max_task_s), "s"),
        "search_fused.result_rows": (float(statistics.median(rows)), "count"),
    })

    serve = [s for s in timed_spans if s.name == "search_maxscore_fused"]
    out.update({
        "search_maxscore_fused.s": (median_of(serve, lambda s: s.wall), "s"),
        "search_maxscore_fused.spark_jobs_per_query": (
            sum(len(s.jobs) for s in serve) / len(serve), "count",
        ),
        "search_maxscore_fused.driver_answered_frac": (
            sum(len(s.jobs) == 0 for s in serve) / len(serve), "ratio",
        ),
    })

    # what the spans account for in the timed region
    top = fused + serve
    covered = set()
    for s in top:
        covered.update(s.jobs)
    out["trace.overhead_frac"] = (tracer.bookkeeping_s / timed_s, "ratio")
    out["trace.span_coverage"] = (sum(s.wall for s in top) / timed_s, "ratio")
    extra = {
        "build_split": "build_segments + finalize_index (what build_index runs)",
        "timed_jobs": len(timed_jobs),
        "unattributed_jobs": len(set(timed_jobs) - covered),
        "bookkeeping_s": tracer.bookkeeping_s,
    }
    return out, extra
