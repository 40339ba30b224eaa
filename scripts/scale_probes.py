"""Scale-probe campaign: run every subsystem at >= 4x its benched size
and assert it completes correctly — the harness that caught the int32
block_id overflow (a 16M-doc build failure; commit dfefe6b) and the
LSH duplicate-cluster pair blow-up (1M docs in 1000-clone clusters ->
499.5M candidate pairs; bucket_cap commits).

Correctness tests verify semantics at small SF; these probes verify the
SAME code paths don't hit overflow / blow-up / driver-memory walls when
the data grows. Each probe prints one JSON line; failures raise.

Usage: python scripts/scale_probes.py [probe ...]   (default: all)
Probes: build16m queryside8m bmp4m quantized4m docmajor4m append4m
        reassign4m hdf5export4m dedup1m ann1m
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _docs(spark, n, tokens=16, vocab=50_000):
    """Deterministic selective-vocabulary corpus (no RNG)."""
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(
                    F.lit("w"),
                    F.pmod(
                        F.col("id") * (40503 + 2 * j) + F.lit(j * 104729),
                        F.lit(vocab),
                    ).cast("string"),
                )
                for j in range(tokens)
            ],
        ).alias("text"),
    )


_QROWS = [(0, "w100 w200 w300 w400"), (1, "w5 w17 w923 w44000")]


def _build(spark, n, **kw):
    from splade_spark.operators.index_build import build_index

    idx = tempfile.mkdtemp(prefix=f"probe_idx_{n}_")
    t0 = time.time()
    build_index(_docs(spark, n), idx, n_segments=4, n_buckets=32, **kw)
    return idx, time.time() - t0


def probe_build16m(spark):
    """4x the scaling bench's corpus; caught the int32 block_id cap."""
    idx, dt = _build(spark, 16_000_000)
    stats = json.load(open(os.path.join(idx, "stats.json")))
    assert stats["n_docs"] == 16_000_000
    return {"build_s": round(dt, 1), "docs_per_sec": round(16_000_000 / dt)}


def probe_queryside8m(spark):
    """4x the qps fixture: batch wall must grow sublinearly. Times the
    default route (the driver while candidate pairs fit
    DRIVER_POSTING_LIMIT) and the Spark route (limit zeroed); both must
    return the same rows."""
    from splade_spark.operators import index_query
    from splade_spark.operators.index_query import search_fused

    idx, dt = _build(spark, 8_000_000, block_size=128)
    qrows = [
        (q, " ".join(f"w{(q * 15485863 + i * 32452843) % 50000}" for i in range(4)))
        for q in range(1024)
    ]
    out = {"build_s": round(dt, 1)}
    rows = {}
    default_limit = index_query.DRIVER_POSTING_LIMIT
    try:
        for name, limit in (("default", default_limit), ("spark", 0)):
            index_query.DRIVER_POSTING_LIMIT = limit
            search_fused(spark, idx, qrows[:64], k=1000).count()  # warm
            counts = {}
            t0 = time.time()
            rows[name] = search_fused(spark, idx, qrows, k=1000, debug_counts=counts).toPandas()
            out[f"{name}_batch1024_s"] = round(time.time() - t0, 2)
            out[f"{name}_route"] = counts["route"]
    finally:
        index_query.DRIVER_POSTING_LIMIT = default_limit
    a, b = (r.sort_values(["qid", "rank"]).reset_index(drop=True) for r in rows.values())
    assert len(a) > 0 and a.equals(b)
    out["driver_work"] = counts["driver_work"]
    return out


def probe_bmp4m(spark):
    from splade_spark.operators.bmp import build_bmp_index, search_bmp

    idx, _ = _build(spark, 4_000_000)
    t0 = time.time()
    build_bmp_index(spark, idx)
    bt = time.time() - t0
    t0 = time.time()
    n = search_bmp(spark, idx, _QROWS, k=100).count()
    assert n == 200
    return {"bmp_build_s": round(bt, 1), "search_s": round(time.time() - t0, 2)}


def probe_quantized4m(spark):
    from splade_spark.operators.index_query import search_fused

    idx, _ = _build(spark, 4_000_000)
    t0 = time.time()
    n = search_fused(spark, idx, _QROWS, k=100, quantized=True).count()
    assert n == 200
    return {"search_s": round(time.time() - t0, 2)}


def probe_docmajor4m(spark):
    """Pinned doc-major (memory guard live) must equal term-major."""
    from splade_spark.operators.index_query import search_fused

    idx, _ = _build(spark, 4_000_000)
    a = (
        search_fused(spark, idx, _QROWS, k=100, strategy="doc")
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    b = (
        search_fused(spark, idx, _QROWS, k=100, strategy="term")
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    assert (a.doc_id.values == b.doc_id.values).all()
    assert (abs(a.score.values - b.score.values) < 1e-9).all()
    return {"rows": len(a), "identical": True}


def probe_append4m(spark):
    """2M append onto 2M base: merged stats + searchable result."""
    from pyspark.sql import functions as F

    from splade_spark.operators.index_build import append_index, build_index
    from splade_spark.operators.index_query import search_fused

    docs = _docs(spark, 4_000_000)
    idx = tempfile.mkdtemp(prefix="probe_append_")
    build_index(
        docs.filter(F.col("doc_id") < 2_000_000), idx, n_segments=4, n_buckets=32
    )
    t0 = time.time()
    append_index(docs.filter(F.col("doc_id") >= 2_000_000), idx, n_segments=4)
    at = time.time() - t0
    stats = json.load(open(os.path.join(idx, "stats.json")))
    assert stats["n_docs"] == 4_000_000
    n = search_fused(spark, idx, _QROWS[:1], k=10).count()
    assert n == 10
    return {"append_s": round(at, 1)}


def probe_reassign4m(spark):
    from pyspark.sql import functions as F

    from splade_spark.operators.docids import reassign_doc_ids

    t0 = time.time()
    r = reassign_doc_ids(_docs(spark, 4_000_000))
    lo, hi, nd = r.agg(
        F.min("new_doc_id"), F.max("new_doc_id"), F.countDistinct("new_doc_id")
    ).collect()[0]
    assert (lo, hi, nd) == (0, 3_999_999, 4_000_000)
    return {"reassign_s": round(time.time() - t0, 1), "dense": True}


def probe_hdf5export4m(spark):
    from splade_spark.sources.hdf5 import export_hdf5_index

    idx, _ = _build(spark, 4_000_000)
    out = tempfile.mkdtemp(prefix="probe_h5_")
    t0 = time.time()
    export_hdf5_index(spark, idx, out)
    dt = time.time() - t0
    sz = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _d, fs in os.walk(out)
        for f in fs
    )
    assert sz > 0
    return {"export_s": round(dt, 1), "mb": round(sz / 1e6, 1)}


def _clone_corpus(spark, n, cluster=1000):
    """n docs in identical-text clusters — the LSH blow-up shape."""
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(
                    F.lit("t"),
                    F.pmod(
                        F.floor(F.col("id") / cluster) * (7 + j) + F.lit(j * 13),
                        F.lit(50_000),
                    ).cast("string"),
                )
                for j in range(24)
            ],
        ).alias("text"),
    )


def probe_dedup1m(spark):
    """Capped LSH pair generators on a pathological clone corpus must
    stay near-empty (uncapped this corpus emits 499.5M pairs)."""
    from splade_spark.operators.dedup import minhash_lsh_pairs, simhash_pairs

    docs = _clone_corpus(spark, 1_000_000)
    t0 = time.time()
    nm = minhash_lsh_pairs(docs, bucket_cap=64).count()
    mt = time.time() - t0
    t0 = time.time()
    ns = simhash_pairs(docs, bucket_cap=64).count()
    return {
        "minhash_pairs": nm,
        "minhash_s": round(mt, 1),
        "simhash_pairs": ns,
        "simhash_s": round(time.time() - t0, 1),
    }


def probe_ann1m(spark):
    from pyspark.sql import functions as F

    from splade_spark.operators.ann import ivf_cosine_topk, lsh_cosine_topk

    emb = spark.range(1_000_000).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (
                    F.pmod(
                        F.col("id") * (40503 + 2 * j) + F.lit(j * 104729),
                        F.lit(20011),
                    )
                    / 10005.5
                    - 1.0
                ).cast("float")
                for j in range(64)
            ]
        ).alias("embedding"),
    )
    t0 = time.time()
    nl = lsh_cosine_topk(emb, query_mod=10_000, k=10, dim=64).count()
    lt = time.time() - t0
    t0 = time.time()
    ni = ivf_cosine_topk(emb, query_mod=10_000, k=10).count()
    assert nl == ni == 1000
    return {"lsh_s": round(lt, 1), "ivf_s": round(time.time() - t0, 1)}


PROBES = {
    "build16m": probe_build16m,
    "queryside8m": probe_queryside8m,
    "bmp4m": probe_bmp4m,
    "quantized4m": probe_quantized4m,
    "docmajor4m": probe_docmajor4m,
    "append4m": probe_append4m,
    "reassign4m": probe_reassign4m,
    "hdf5export4m": probe_hdf5export4m,
    "dedup1m": probe_dedup1m,
    "ann1m": probe_ann1m,
}


def main() -> int:
    names = sys.argv[1:] or list(PROBES)
    from splade_spark.session import get_spark

    spark = get_spark(
        app="scale-probes", cores=int(os.environ.get("SPARK_GRAFT_CPUS", 32))
    )
    for name in names:
        t0 = time.time()
        out = PROBES[name](spark)
        print(
            json.dumps(
                {"probe": name, "wall_s": round(time.time() - t0, 1), **out}
            ),
            flush=True,
        )
    print(json.dumps({"probes": len(names), "status": "ALL PASS"}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
