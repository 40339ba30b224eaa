from __future__ import annotations

import json


def test_cli_index_and_query(spark, tmp_path, capsys):
    # reuse the shared session (cli picks up the active one)
    from splade_spark import cli

    idx = str(tmp_path / "idx")
    cli.main(
        [
            "index",
            "--input",
            "/root/testdata/sf0.001",
            "--index-dir",
            idx,
            "--segments",
            "2",
        ]
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["docs"] == 500 and out["docs_per_sec"] > 0

    qtsv = tmp_path / "q.tsv"
    qtsv.write_text("1\tthe fast key\n2\tspark table\n")
    run_dir = str(tmp_path / "run")
    cli.main(
        [
            "query",
            "--index-dir",
            idx,
            "--queries",
            str(qtsv),
            "--k",
            "5",
            "--prune",
            "--out",
            run_dir,
        ]
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == 10  # 2 queries x k=5
    lines = [
        line
        for line in spark.read.text(run_dir).toPandas().value
    ]
    assert all(len(line.split(" ")) == 6 for line in lines)

    # plain `query` (exhaustive search_fused) writes --prune's lines:
    # MaxScore pruning is lossless
    plain_dir = str(tmp_path / "run_plain")
    cli.main(
        ["query", "--index-dir", idx, "--queries", str(qtsv), "--k", "5", "--out", plain_dir]
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == 10
    assert sorted(spark.read.text(plain_dir).toPandas().value) == sorted(lines)

    # the quantized variant runs the same queries through its own engine
    cli.main(
        ["query", "--index-dir", idx, "--queries", str(qtsv), "--k", "5", "--quantized"]
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == 10

    cli.main(["describe", "--index-dir", idx])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_docs"] == 500 and out["vocab_size"] > 0
    assert out["n_postings"] > 0 and out["snapshots"]["finalize"] >= 4


def test_cli_export_pisa(spark, tmp_path, capsys):
    from splade_spark import cli
    from splade_spark.sources.sinks import read_pisa_index

    prefix = str(tmp_path / "pisa")
    cli.main(
        ["export-pisa", "--input", "/root/testdata/sf0.001", "--output", prefix]
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_docs"] == 500 and out["n_terms"] > 0
    back = read_pisa_index(prefix)
    assert back["n_docs"] == 500
    assert sum(back["sizes"]) == out["n_postings"]


def test_cli_drain(spark, tmp_path, capsys):
    """`drain` = stream_append behind the CLI: inbox files fold into a
    finalized index; --min-drain-frac defers the re-finalize."""
    from splade_spark import cli
    from splade_spark.sources.pages import load_documents

    docs = load_documents(spark, "/root/testdata/sf0.001")
    idx = str(tmp_path / "didx")
    from splade_spark.operators.index_build import build_index

    build_index(docs.filter("doc_id % 2 = 0"), idx, n_segments=2, n_buckets=8)
    inbox = str(tmp_path / "dinbox")
    docs.filter("doc_id % 2 = 1").write.mode("overwrite").parquet(inbox)

    # tiny threshold satisfied (half the corpus pending) -> finalizes
    cli.main(["drain", "--inbox", inbox, "--index-dir", idx,
              "--min-drain-frac", "0.25"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["segments_drained"] > 0

    # nothing new -> covered no-op
    cli.main(["drain", "--inbox", inbox, "--index-dir", idx])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["segments_drained"] == 0


def test_cli_index_reassign_query_remap(spark, tmp_path, capsys):
    """index --reassign writes the docid_remap dimension and indexes
    quality-ordered ids; query --remap maps results back so the run
    matches an index built on the original ids."""
    from splade_spark import cli

    qtsv = tmp_path / "rq.tsv"
    qtsv.write_text("1\tthe fast key\n2\tspark table\n")

    idx_r = str(tmp_path / "re_idx")
    cli.main(["index", "--input", "/root/testdata/sf0.001",
              "--index-dir", idx_r, "--segments", "2", "--reassign"])
    out_r = str(tmp_path / "run_re")
    cli.main(["query", "--index-dir", idx_r, "--queries", str(qtsv),
              "--k", "10", "--remap", "--out", out_r])
    capsys.readouterr()

    idx_o = str(tmp_path / "orig_idx")
    cli.main(["index", "--input", "/root/testdata/sf0.001",
              "--index-dir", idx_o, "--segments", "2"])
    out_o = str(tmp_path / "run_orig")
    cli.main(["query", "--index-dir", idx_o, "--queries", str(qtsv),
              "--k", "10", "--out", out_o])
    capsys.readouterr()

    a = set(spark.read.text(out_r).toPandas()["value"])
    b = set(spark.read.text(out_o).toPandas()["value"])
    # TREC lines carry (qid, doc_id, score) — rank may differ on ties,
    # so compare the (qid, doc, score) triples
    strip = lambda lines: {
        tuple(x.split()[i] for i in (0, 2, 4)) for x in lines
    }
    assert strip(a) == strip(b)


def test_cli_export_hdf5(spark, tmp_path, capsys):
    from splade_spark import cli
    from splade_spark.sources.hdf5 import read_array_index

    idx = str(tmp_path / "h5idx")
    cli.main(
        ["index", "--input", "/root/testdata/sf0.001", "--index-dir", idx,
         "--segments", "2"]
    )
    out_dir = str(tmp_path / "h5out")
    cli.main(["export-hdf5", "--index-dir", idx, "--output", out_dir])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["cmd"] == "export-hdf5" and out["bytes"] > 0
    dim, post = read_array_index(out_dir)
    assert dim > 0 and len(post) == dim
    assert sum(len(ids) for ids, _ in post.values()) > 0
