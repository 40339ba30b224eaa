"""spark-submit entry point.

Usage (cluster):
  spark-submit --py-files splade_spark.zip -m splade_spark.cli index \\
      --input /data/pages --index-dir /data/idx --segments 64
  spark-submit ... query --index-dir /data/idx --queries q.tsv --k 1000
  python -m splade_spark.cli bench --sf-dir /root/testdata/sf0.1

Local mode builds its own session (session.get_spark); under
spark-submit the active session is reused.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession


def _spark(args) -> SparkSession:
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    from splade_spark.session import get_spark

    return get_spark(app=f"splade-{args.cmd}", cores=getattr(args, "cores", None))


def cmd_append(args) -> None:
    """Incremental append: new docs -> fresh segments -> re-finalize
    (global BM25 stats re-derived; existing segments never re-tokenized)."""
    from splade_spark.operators.index_build import append_index
    from splade_spark.sources.pages import load_table

    spark = _spark(args)
    if args.input.endswith(".parquet"):
        docs = spark.read.parquet(args.input)
    else:
        docs = load_table(spark, args.input, args.table)
    t0 = time.time()
    append_index(
        docs.select("doc_id", "text"),
        args.index_dir,
        n_segments=args.segments,
        epoch=args.epoch,
    )
    wall = time.time() - t0
    n_docs = docs.count()
    print(
        json.dumps(
            {
                "cmd": "append",
                "docs_appended": n_docs,
                "wall_sec": round(wall, 3),
            }
        )
    )


def cmd_drain(args) -> None:
    """Continuous-ingestion step: drain newly arrived parquet files
    from an inbox into stream segments and (unless deferred by
    --min-drain-frac) re-finalize — the streaming twin of `append`.
    Exactly-once via the stream checkpoint; resumable at any point."""
    from splade_spark.streaming.incremental import stream_append

    spark = _spark(args)
    t0 = time.time()
    n = stream_append(
        spark,
        args.inbox,
        args.index_dir,
        min_drain_frac=args.min_drain_frac,
    )
    print(
        json.dumps(
            {
                "cmd": "drain",
                "segments_drained": n,
                "wall_sec": round(time.time() - t0, 3),
            }
        )
    )


def cmd_index(args) -> None:
    import os

    from pyspark.sql import functions as F

    from splade_spark.operators.index_build import build_index
    from splade_spark.sources.pages import load_table

    spark = _spark(args)
    if args.input.endswith(".parquet"):
        docs = spark.read.parquet(args.input)
    else:
        docs = load_table(spark, args.input, args.table)
    docs = docs.select("doc_id", "text")
    t0 = time.time()
    if args.reassign:
        # quality-ordered docID assignment (operators/docids.py): hot
        # blocks cluster so Block-Max-pruned scans skip row groups
        # (BENCH layout contrast); the (doc_id, orig_doc_id) remap
        # dimension is persisted beside the index for result mapping
        from splade_spark.operators.docids import reassign_doc_ids

        re = reassign_doc_ids(docs)
        re.select(
            F.col("new_doc_id").alias("doc_id"),
            F.col("doc_id").alias("orig_doc_id"),
        ).write.mode("overwrite").parquet(
            os.path.join(args.index_dir, "docid_remap")
        )
        docs = re.select(F.col("new_doc_id").alias("doc_id"), "text")
    man = build_index(
        docs,
        args.index_dir,
        n_segments=args.segments,
        n_buckets=args.buckets,
        gap_codec=args.gap_codec,
    )
    wall = time.time() - t0
    n_docs = docs.count()
    print(
        json.dumps(
            {
                "cmd": "index",
                "docs": n_docs,
                "wall_sec": round(wall, 3),
                "docs_per_sec": round(n_docs / wall, 1),
                "snapshots": len(man.snapshots),
            }
        )
    )


def cmd_query(args) -> None:
    from splade_spark.operators.index_query import search_fused
    from splade_spark.operators.maxscore import search_maxscore_fused
    from splade_spark.sources.pages import read_tsv_queries
    from splade_spark.sources.sinks import write_trec_run

    spark = _spark(args)
    if args.queries.endswith(".tsv"):
        queries = read_tsv_queries(spark, args.queries)
    else:
        queries = spark.read.parquet(args.queries)
    t0 = time.time()
    qrows = [(r.qid, r.text) for r in queries.collect()]
    if args.bmp:
        from splade_spark.operators.bmp import build_bmp_index, search_bmp

        # no-op if committed; --quantized selects the uint8 layout
        # (the only one available on a store_impacts=False index)
        build_bmp_index(spark, args.index_dir, quantized=args.quantized)
        run = search_bmp(
            spark, args.index_dir, qrows, k=args.k, quantized=args.quantized
        )
    elif args.prune and not args.quantized:
        # both MaxScore passes on the driver, then a driver answer or
        # one pruned cluster scan
        run = search_maxscore_fused(spark, args.index_dir, qrows, k=args.k)
    else:
        # MaxScore scores floats only: --quantized takes precedence
        run = search_fused(
            spark, args.index_dir, qrows, k=args.k, quantized=args.quantized
        )
    if args.remap:
        import os

        from pyspark.sql import functions as F

        remap_dir = os.path.join(args.index_dir, "docid_remap")
        if not os.path.exists(remap_dir):
            raise SystemExit(
                "--remap: no docid_remap dimension beside this index "
                "(build it with `index --reassign`)"
            )
        # the remap dimension is corpus-sized — broadcast the RUN
        # (queries x k rows), never the dimension
        remap = spark.read.parquet(remap_dir)
        run = (
            remap.join(F.broadcast(run), "doc_id")
            .drop("doc_id")
            .withColumnRenamed("orig_doc_id", "doc_id")
            .select("qid", "doc_id", "score", "rank")
        )
    if args.out:
        write_trec_run(run, args.out)
        n = spark.read.text(args.out).count()
    else:
        n = run.count()
    print(
        json.dumps(
            {"cmd": "query", "rows": n, "wall_sec": round(time.time() - t0, 3)}
        )
    )


def cmd_export_pisa(args) -> None:
    """Export the corpus's quantized index in the reference's PISA
    binary interchange format (index2pisa.py parity)."""
    from splade_spark.engine import logical_postings
    from splade_spark.sources.pages import load_table
    from splade_spark.sources.sinks import write_pisa_index

    spark = _spark(args)
    if args.input.endswith(".parquet"):
        docs = spark.read.parquet(args.input)
    else:
        docs = load_table(spark, args.input, args.table)
    docs = docs.select("doc_id", "text")
    stats = write_pisa_index(docs, logical_postings(docs), args.output)
    print(json.dumps({"cmd": "export-pisa", **stats}))


def cmd_export_hdf5(args) -> None:
    """Export a finalized index as the reference's HDF5 array-index
    directory (inverted_index.py:75-95 layout: array_index.h5py +
    index_dist.json + doc_ids.pkl) via the pure-Python writer."""
    import os

    from splade_spark.sources.hdf5 import export_hdf5_index

    spark = _spark(args)
    t0 = time.time()
    path = export_hdf5_index(spark, args.index_dir, args.output)
    print(
        json.dumps(
            {
                "cmd": "export-hdf5",
                "file": path,
                "bytes": os.path.getsize(path),
                "wall_sec": round(time.time() - t0, 3),
            }
        )
    )


def cmd_describe(args) -> None:
    """Index health/summary: corpus stats, codec, vocab/block counts,
    per-stage lineage from the snapshot manifest."""
    import os

    from splade_spark.operators.index_query import load_stats
    from splade_spark.plans.snapshots import Manifest, dir_bytes

    spark = _spark(args)
    stats = load_stats(args.index_dir)
    td = spark.read.parquet(os.path.join(args.index_dir, "term_dict"))
    post = spark.read.parquet(os.path.join(args.index_dir, "postings"))
    agg = post.selectExpr(
        "count(*) AS n_blocks", "sum(n) AS n_postings", "max(block_max) AS max_impact"
    ).first()
    man = Manifest.load(args.index_dir)
    stages: dict[str, int] = {}
    for s in man.snapshots:
        stages[s["stage"]] = stages.get(s["stage"], 0) + 1
    print(
        json.dumps(
            {
                "cmd": "describe",
                **stats,
                "vocab_size": td.count(),
                "n_blocks": int(agg.n_blocks),
                "n_postings": int(agg.n_postings or 0),
                "max_impact": round(float(agg.max_impact or 0.0), 6),
                "postings_bytes": dir_bytes(os.path.join(args.index_dir, "postings")),
                "snapshots": stages,
            }
        )
    )


def cmd_bench(args) -> None:
    import os

    os.environ["SPARK_GRAFT_SF_DIR"] = args.sf_dir
    if args.cores:
        os.environ["SPARK_GRAFT_CPUS"] = str(args.cores)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    bench.main()


def main(argv=None) -> None:
    p = argparse.ArgumentParser(prog="splade_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser("index")
    pi.add_argument("--input", required=True, help="parquet path or sf dir")
    pi.add_argument("--table", default="documents")
    pi.add_argument("--index-dir", required=True)
    pi.add_argument("--reassign", action="store_true",
                    help="quality-ordered docID reassignment before "
                    "indexing (writes docid_remap beside the index)")
    pi.add_argument("--segments", type=int, default=4)
    pi.add_argument("--buckets", type=int, default=32)
    pi.add_argument(
        "--gap-codec",
        choices=["vbyte", "bitpack"],
        default="vbyte",
        help="doc-gap/tf block layout (bitpack = fixed-width FOR)",
    )
    pi.add_argument("--cores", type=int)

    pa = sub.add_parser("append")
    pa.add_argument("--input", required=True, help="parquet path or sf dir")
    pa.add_argument("--table", default="documents")
    pa.add_argument("--index-dir", required=True)
    pa.add_argument("--segments", type=int, default=4)
    pa.add_argument(
        "--epoch",
        help="append-epoch key; pass the same value to resume a killed append",
    )
    pa.add_argument("--cores", type=int)

    pdr = sub.add_parser("drain")
    pdr.add_argument("--inbox", required=True, help="parquet inbox dir")
    pdr.add_argument("--index-dir", required=True)
    pdr.add_argument(
        "--min-drain-frac",
        type=float,
        default=0.0,
        help="defer the re-finalize until pending docs exceed this "
        "fraction of the indexed corpus (0 = always re-finalize; see "
        "BENCH drain-frequency economics)",
    )
    pdr.add_argument("--cores", type=int)

    pq = sub.add_parser("query")
    pq.add_argument("--index-dir", required=True)
    pq.add_argument("--queries", required=True, help="tsv (qid\\ttext) or parquet")
    pq.add_argument("--k", type=int, default=1000)
    pq.add_argument("--prune", action="store_true", help="MaxScore pruning")
    pq.add_argument(
        "--quantized",
        action="store_true",
        help="integer scoring on uint8 quant_bytes (PISA arithmetic)",
    )
    pq.add_argument(
        "--bmp",
        action="store_true",
        help="doc-partitioned block-max (BMP) block-at-a-time search",
    )
    pq.add_argument("--remap", action="store_true",
                    help="map results back to original doc ids via "
                    "the docid_remap dimension (index --reassign)")
    pq.add_argument("--out", help="TREC run output dir")
    pq.add_argument("--cores", type=int)

    pe = sub.add_parser("export-pisa")
    pe.add_argument("--input", required=True, help="parquet path or sf dir")
    pe.add_argument("--table", default="documents")
    pe.add_argument("--output", required=True, help="output file prefix")
    pe.add_argument("--cores", type=int)

    ph = sub.add_parser("export-hdf5")
    ph.add_argument("--index-dir", required=True)
    ph.add_argument("--output", required=True, help="output directory")
    ph.add_argument("--cores", type=int)

    pd_ = sub.add_parser("describe")
    pd_.add_argument("--index-dir", required=True)
    pd_.add_argument("--cores", type=int)

    pb = sub.add_parser("bench")
    pb.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    pb.add_argument("--cores", type=int)

    args = p.parse_args(argv)
    {
        "index": cmd_index,
        "append": cmd_append,
        "drain": cmd_drain,
        "query": cmd_query,
        "export-pisa": cmd_export_pisa,
        "export-hdf5": cmd_export_hdf5,
        "describe": cmd_describe,
        "bench": cmd_bench,
    }[args.cmd](args)


if __name__ == "__main__":
    main()
