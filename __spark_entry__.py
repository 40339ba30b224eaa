"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an implemented operator from SURVEY.md §2
of the splade_spark engine; ``oracle_sql()`` holds its ANSI-SQL twin
(DuckDB) built in ``splade_spark.sql_oracle`` so engine and oracle
share tokenizer/BM25 constants.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from splade_spark import sql_oracle
from splade_spark.engine import bm25_run, logical_postings
from splade_spark.functions import textstats
from splade_spark.functions.bm25 import corpus_stats, term_df
from splade_spark.functions.multimodal import (
    documents_to_media,
    extract_features,
    sample_frames,
)
from splade_spark.functions.tokenize import doc_terms, tokenize_docs
from splade_spark.operators import ann, dedup, mining
from splade_spark.operators.metrics import (
    mrr_at_k,
    ndcg_at_k,
    per_query_metrics,
    recall_at_cutoffs,
)
from splade_spark.operators.retrieval import query_terms
from splade_spark.sources.pages import compose_doc_text, load_documents, load_table
from splade_spark.synth import derive_qrels, derive_qrels_graded, derive_queries

PAIR_SAMPLE_MOD = 5  # subsample for quadratic candidate-pair ops
PAIR_WHERE = f"doc_id % {PAIR_SAMPLE_MOD} = 0"
EMB_DIM = 64

TOPK_K = 10


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 ranked run over the derived query set."""
    return bm25_run(load_documents(spark, "/root/testdata/sf0.001"), k=TOPK_K)


# --- query builders (spark, sf_dir) -> DataFrame ---------------------------


def q_bm25_topk_k1000(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval at the reference's actual depth (k=1000,
    evaluate.py:164) — previously only benchmarked, now hash-checked."""
    return bm25_run(load_documents(spark, sf_dir), k=1000)


_INDEX_CACHE: dict[str, str] = {}


def _materialized_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf_dir per process) the compressed posting-block
    index the search entries query; the driver's correctness run hits
    the REAL build -> salted encode -> bucket-partitioned parquet path."""
    if sf_dir not in _INDEX_CACHE:
        import tempfile

        from splade_spark.operators.index_build import build_index

        idx = tempfile.mkdtemp(prefix="entry_idx_")
        build_index(
            load_documents(spark, sf_dir).select("doc_id", "text"), idx, n_segments=4
        )
        _INDEX_CACHE[sf_dir] = idx
    return _INDEX_CACHE[sf_dir]


def q_index_search_k1000(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-index search at k=1000 on search_fused's term-major
    Spark route (pruned scan -> Arrow score kernel -> one shuffle of
    per-(qid, doc) partials -> top-k), which index_search_fused_k1000
    answers on the driver. Exhaustive, so it shares the BM25 SQL twin."""
    from splade_spark.operators.index_query import search_fused

    idx = _materialized_index(spark, sf_dir)
    return search_fused(spark, idx, _driver_query_rows(spark, sf_dir), k=1000, strategy="term")


def q_index_search_appended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append path under the hash gate: build the index over the even
    half of the corpus, ``append_index`` the odd half (fresh segments +
    re-finalize — reference semantics: re-index on corpus change,
    inverted_index.py:23-46 ``force_new``), then search the appended
    index. The appended index is IDENTICAL to a full build over the
    union (finalize is a pure function of the segment set), so this
    shares the BM25 SQL twin over the whole corpus. It searches on
    search_fused's doc-major Spark route (one exchange of the decoded
    postings by doc range, shard-local scoring of every query)."""
    from splade_spark.operators.index_build import append_index, build_index
    from splade_spark.operators.index_query import search_fused

    key = f"{sf_dir}::appended"
    if key not in _INDEX_CACHE:
        import tempfile

        idx = tempfile.mkdtemp(prefix="entry_idx_app_")
        docs = load_documents(spark, sf_dir).select("doc_id", "text")
        build_index(docs.filter(F.col("doc_id") % 2 == 0), idx, n_segments=4)
        append_index(docs.filter(F.col("doc_id") % 2 == 1), idx, n_segments=2)
        _INDEX_CACHE[key] = idx
    return search_fused(
        spark, _INDEX_CACHE[key], _driver_query_rows(spark, sf_dir), k=1000, strategy="doc"
    )


def q_index_search_maxscore_k1000(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-Max/MaxScore-pruned search at k=1000 on its Spark route:
    driver_posting_limit=0 sends the retained blocks to the one pruned
    Spark scan (term_major_top over the block_pairs_expr literal),
    which index_search_maxscore_fused_k1000 answers on the driver.
    Pruning is lossless (operators/maxscore.py proof), so it shares
    the BM25 SQL twin."""
    from splade_spark.operators.maxscore import search_maxscore_fused

    idx = _materialized_index(spark, sf_dir)
    return search_maxscore_fused(
        spark, idx, _driver_query_rows(spark, sf_dir), k=1000, driver_posting_limit=0
    )


def _driver_query_rows(spark: SparkSession, sf_dir: str) -> list[tuple[int, str]]:
    return [
        (int(r.qid), r.text)
        for r in derive_queries(load_documents(spark, sf_dir)).orderBy("qid").collect()
    ]


def q_index_search_fused_k1000(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused driver-resident-query search (one Arrow kernel, one
    exchange) at k=1000; exhaustive, shares the BM25 SQL twin."""
    from splade_spark.operators.index_query import search_fused

    idx = _materialized_index(spark, sf_dir)
    return search_fused(spark, idx, _driver_query_rows(spark, sf_dir), k=1000)


def q_index_search_maxscore_fused_k1000(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-side MaxScore passes + one pruned scan at k=1000;
    lossless, shares the BM25 SQL twin."""
    from splade_spark.operators.maxscore import search_maxscore_fused

    idx = _materialized_index(spark, sf_dir)
    return search_maxscore_fused(spark, idx, _driver_query_rows(spark, sf_dir), k=1000)


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_documents(spark, sf_dir)
    dterms = doc_terms(docs)
    dls = tokenize_docs(docs).select("doc_id", "dl")
    stats = corpus_stats(dls)
    agg = dterms.agg(
        F.countDistinct("term").alias("vocab_size"),
        F.count("*").alias("nnz"),
    )
    return stats.join(agg).select(
        "n_docs", F.round("avgdl", 6).alias("avgdl"), "vocab_size", "nnz"
    )


def q_term_df_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    dfs = term_df(doc_terms(load_documents(spark, sf_dir)))
    return dfs.orderBy(F.desc("df"), F.asc("term")).limit(100)


def q_index_search_bmp_k1000(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BMP-style doc-partitioned block-max search (operators/bmp.py;
    reference's bmp_inference/ export family, engine in-house):
    lossless block-at-a-time evaluation, so it shares the BM25 twin."""
    from splade_spark.operators.bmp import build_bmp_index, search_bmp

    idx = _materialized_index(spark, sf_dir)
    build_bmp_index(spark, idx, doc_block_size=64)
    return search_bmp(spark, idx, _driver_query_rows(spark, sf_dir), k=1000)


def q_posting_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    post = logical_postings(load_documents(spark, sf_dir))
    return post.groupBy("term", F.col("df").alias("posting_len")).agg(
        F.round(F.max("impact"), 6).alias("max_impact"),
        F.round(F.sum("impact"), 6).alias("sum_impact"),
    )


def q_query_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    qt = query_terms(derive_queries(load_documents(spark, sf_dir)))
    return qt.select("qid", "term", F.col("q_tf").cast("long").alias("q_tf"))


def q_query_terms_thresholded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query term-frequency threshold (``times[w] > thres``,
    queries2pisa.py:35-49) actually exercised with min_tf=1 — keeps
    only repeated query terms."""
    qt = query_terms(derive_queries(load_documents(spark, sf_dir)), min_tf=1)
    return qt.select("qid", "term", F.col("q_tf").cast("long").alias("q_tf"))


def _run_and_qrels(spark: SparkSession, sf_dir: str):
    docs = load_documents(spark, sf_dir)
    return bm25_run(docs, k=TOPK_K), derive_qrels(docs)


def q_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL eval metrics from ONE k=1000 run — mrr@10 +
    recall@{10,100,1000} (binary qrels, evaluate.py:11-31) + graded
    ndcg@10 (the TREC qrel.json path, evaluate.py:53-69) PLUS the
    per-query breakdown (pytrec_eval's per-qid dict,
    task/evaluator.py:161-180) folded in as qid-keyed rows of the
    same (metric, value) relation — 'rr@10:q<qid>' / 'recall@10:q<qid>'
    — so one driver row oracle-checks both the means and every
    per-query value. rank <= 10 of the deep run equals a k=10 run
    exactly (deterministic (-score, doc_id) ranking)."""
    docs = load_documents(spark, sf_dir)
    # persist: the metric branches share the run relation but
    # Catalyst does not reuse exchanges across union branches here —
    # unpersisted, the BM25 pipeline executes once per branch
    run = bm25_run(docs, k=1000).persist()
    qrels = derive_qrels(docs)
    pq = per_query_metrics(run, qrels, k=10)
    per_rows = pq.select(
        F.concat(F.lit("rr@10:q"), F.col("qid").cast("string")).alias("metric"),
        F.round("rr", 6).alias("value"),
    ).unionAll(
        pq.select(
            F.concat(F.lit("recall@10:q"), F.col("qid").cast("string")).alias(
                "metric"
            ),
            F.round("recall", 6).alias("value"),
        )
    )
    return (
        mrr_at_k(run, qrels, k=10)
        .unionAll(ndcg_at_k(run, derive_qrels_graded(docs), k=10))
        .unionAll(recall_at_cutoffs(run, qrels, ks=(10, 100, 1000)))
        .unionAll(per_rows)
    )


def _docs_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_documents(spark, sf_dir).filter(
        F.col("doc_id") % PAIR_SAMPLE_MOD == 0
    )


def q_exact_dedup(spark, sf_dir):
    return dedup.exact_dedup(load_documents(spark, sf_dir))


def q_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(load_documents(spark, sf_dir), min_jaccard=0.1)


def q_ngram_jaccard_capped(spark, sf_dir):
    # cap low enough that hot shingles actually drop at this sf —
    # exercises the broadcast anti-join path against the oracle
    return dedup.ngram_jaccard_pairs(
        load_documents(spark, sf_dir), min_jaccard=0.05, max_shingle_df=3
    )


def q_minhash_signatures(spark, sf_dir):
    return dedup.minhash_signatures(load_documents(spark, sf_dir))


def q_minhash_lsh(spark, sf_dir):
    return dedup.minhash_lsh_pairs(load_documents(spark, sf_dir), min_est=0.2)


def q_simhash(spark, sf_dir):
    return dedup.simhash(load_documents(spark, sf_dir))


def q_simhash_pairs(spark, sf_dir):
    return dedup.simhash_pairs(_docs_sample(spark, sf_dir), max_hamming=3)


def q_token_counts(spark, sf_dir):
    return textstats.token_counts(load_documents(spark, sf_dir))


def q_docid_reassign(spark, sf_dir):
    """Quality/length-ordered docID reassignment (operators/docids.py):
    dense new ids in (length(text), doc_id) order — the ingest-side
    layout step whose pruning-byte effect BENCH/BASELINE.md measures
    (clustered vs scattered). Scale-safe: range-partitioned sort +
    per-partition offsets, never a global single-task window."""
    from splade_spark.operators.docids import reassign_doc_ids

    return reassign_doc_ids(load_documents(spark, sf_dir)).select(
        "new_doc_id", "doc_id"
    )


def q_quality(spark, sf_dir):
    return textstats.quality_scores(load_documents(spark, sf_dir))


def q_lang_id(spark, sf_dir):
    return textstats.lang_id(load_documents(spark, sf_dir))


def q_fingerprints(spark, sf_dir):
    return textstats.fingerprints(load_documents(spark, sf_dir))


def q_dl_histogram(spark, sf_dir):
    return textstats.dl_histogram(load_documents(spark, sf_dir))


def q_term_pmi(spark, sf_dir):
    return textstats.term_pmi(load_documents(spark, sf_dir))


def q_ann_cosine(spark, sf_dir):
    return ann.cosine_topk(load_table(spark, sf_dir, "embeddings"))


def q_emb_dup(spark, sf_dir):
    # LSH-bucketed candidates -> no cartesian stage, so no subsample
    return ann.embedding_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), min_cos=0.2, dim=EMB_DIM
    )


def q_ann_lsh(spark, sf_dir):
    return ann.lsh_cosine_topk(load_table(spark, sf_dir, "embeddings"), dim=EMB_DIM)


def q_ann_lsh_multiprobe(spark, sf_dir):
    return ann.lsh_cosine_topk(
        load_table(spark, sf_dir, "embeddings"), dim=EMB_DIM, multi_probe=1
    )


def q_ann_ivf(spark, sf_dir):
    return ann.ivf_cosine_topk(load_table(spark, sf_dir, "embeddings"))


def q_multimodal_features(spark, sf_dir):
    # fake decoder = md5-derived bytes, so the FULL mapInPandas path is
    # hash-checkable: re-encode feat (byte/255 doubles) back to the
    # exact byte ints as a JSON string the DuckDB twin reproduces
    media = documents_to_media(load_documents(spark, sf_dir))
    feats = extract_features(media)
    feat_json = F.concat(
        F.lit("["),
        F.array_join(
            F.transform("feat", lambda x: F.round(x * 255).cast("int").cast("string")),
            ",",
        ),
        F.lit("]"),
    )
    return feats.select(
        "media_id", "width", "height", "n_bytes", feat_json.alias("feat_bytes_json")
    )


def q_multimodal_frames(spark, sf_dir):
    media = documents_to_media(load_documents(spark, sf_dir))
    return sample_frames(media).select("media_id", "frame_idx", "offset_s", "frame_hash")


def q_url_dedup(spark, sf_dir):
    from splade_spark.functions.cleaning import synth_messy_urls, url_dedup

    return url_dedup(synth_messy_urls(load_documents(spark, sf_dir)))


def q_pii_scrub(spark, sf_dir):
    from splade_spark.functions.cleaning import pii_scrub, with_pii

    return pii_scrub(with_pii(load_documents(spark, sf_dir)))


def q_mine_pairs(spark, sf_dir):
    run, qrels = _run_and_qrels(spark, sf_dir)
    return mining.mine_pairs(run, qrels, top_n=100)


def q_hard_negatives(spark, sf_dir):
    run, qrels = _run_and_qrels(spark, sf_dir)
    return mining.hard_negatives(run, qrels, top_n=100)


def q_quantized_query_terms(spark, sf_dir):
    from splade_spark.operators.retrieval import quantized_query_terms

    return quantized_query_terms(derive_queries(load_documents(spark, sf_dir)))


def q_bm25_topk_quantized(spark, sf_dir):
    from splade_spark.engine import bm25_run_quantized

    return bm25_run_quantized(load_documents(spark, sf_dir), k=1000)


_QINDEX_CACHE: dict[str, str] = {}


def _materialized_qindex(spark: SparkSession, sf_dir: str) -> str:
    """Quantized-ONLY index (store_impacts=False — the PISA-shaped
    8.4 B/posting layout, index2pisa.py:42-48): quant_bytes is the
    only impact payload on disk, the layout the float search paths
    refuse (require_impacts)."""
    if sf_dir not in _QINDEX_CACHE:
        import tempfile

        from splade_spark.operators.index_build import build_index

        idx = tempfile.mkdtemp(prefix="entry_qidx_")
        build_index(
            load_documents(spark, sf_dir).select("doc_id", "text"),
            idx,
            n_segments=4,
            store_impacts=False,
        )
        _QINDEX_CACHE[sf_dir] = idx
    return _QINDEX_CACHE[sf_dir]


def q_index_search_quantized(spark, sf_dir):
    """Builds a quantized-only index and searches it end-to-end with
    search_fused's integer scoring (quantized=True)."""
    from splade_spark.operators.index_query import search_fused

    idx = _materialized_qindex(spark, sf_dir)
    return search_fused(spark, idx, _driver_query_rows(spark, sf_dir), k=1000, quantized=True)


def q_index_search_bmp_quantized(spark, sf_dir):
    """Quantized BMP: integer block-max search (uint8 quant_bytes
    maxima, exact integer certificate) over the SAME quantized-only
    (store_impacts=False) index as index_search_quantized — the layout
    the reference's external BMP engine consumes (bmp_inference/
    exports). Matches search_fused(quantized=True) row-for-row, so it
    shares the quantized SQL twin."""
    from splade_spark.operators.bmp import build_bmp_index, search_bmp

    idx = _materialized_qindex(spark, sf_dir)
    build_bmp_index(spark, idx, doc_block_size=64, quantized=True)
    return search_bmp(
        spark, idx, _driver_query_rows(spark, sf_dir), k=1000, quantized=True
    )


def q_quantized_vectors(spark, sf_dir):
    # floor = the reference's int() truncation (inference_SPLADE.py:70)
    post = logical_postings(load_documents(spark, sf_dir))
    q = F.least(F.floor(F.col("impact") * 100), F.lit(255)).cast("int")
    return post.select("doc_id", "term", q.alias("impact_q")).filter(
        q > 0
    )


def q_composed_text(spark, sf_dir):
    """Both composition variants in one relation: the reference's
    'title: {t} | context: {x}' (indexing.py:23-27) and the BeIR
    '{title} {text}' (inference_all_beir_doc_bmp.py:69)."""
    from splade_spark.sources.pages import compose_doc_text_beir

    std = compose_doc_text(load_documents(spark, sf_dir))
    beir = compose_doc_text_beir(load_documents(spark, sf_dir)).withColumnRenamed(
        "composed", "composed_beir"
    )
    return std.join(beir, "doc_id")


def q_pages_extract(spark, sf_dir):
    """html -> text extraction over the pages-shaped table; byte
    identity with the stored text per url is the north-rule invariant."""
    from splade_spark.sources.pages import extract_text_from_html, load_pages

    return extract_text_from_html(load_pages(spark, sf_dir))


def q_vector_roundtrip(spark, sf_dir):
    """Write the quantized JSONL.gz export, re-scan it, explode the
    vector maps — must equal the quantized posting relation."""
    import tempfile

    from splade_spark.sources.sinks import (
        read_vectors_jsonl_gz,
        vector_export_df,
        write_vectors_jsonl_gz,
    )

    docs = load_documents(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="vec_rt_") + "/shards"
    write_vectors_jsonl_gz(vector_export_df(docs, logical_postings(docs)), path)
    return read_vectors_jsonl_gz(spark, path).withColumnRenamed("iq", "impact_q")


def q_vector_export(spark, sf_dir):
    """BOTH export quantization conventions in one relation:
    vector_json = int() truncation (PISA export,
    inference_SPLADE.py:70), vector_json_rint = np.rint (BMP export,
    inference_all_beir_doc_bmp.py:78)."""
    from splade_spark.sources.sinks import vector_export_df

    docs = load_documents(spark, sf_dir)
    post = logical_postings(docs)
    floor = vector_export_df(docs, post)
    rint = (
        vector_export_df(docs, post, rounding="rint")
        .withColumnRenamed("vector_json", "vector_json_rint")
        .select("doc_id", "vector_json_rint")
    )
    return floor.join(rint, "doc_id")


def q_run_with_urls(spark, sf_dir):
    from splade_spark.sources.pages import documents_to_pages
    from splade_spark.sources.sinks import remap_run_urls

    docs = load_documents(spark, sf_dir)
    dim = documents_to_pages(docs).select(
        F.regexp_replace("url", "^doc://", "").cast("long").alias("doc_id"), "url"
    )
    return remap_run_urls(bm25_run(docs, k=TOPK_K), dim)


def q_trec_run_lines(spark, sf_dir):
    from splade_spark.sources.sinks import trec_lines_df

    return trec_lines_df(bm25_run(load_documents(spark, sf_dir), k=TOPK_K))


def q_run_json(spark, sf_dir):
    from splade_spark.sources.sinks import run_json_df

    return run_json_df(bm25_run(load_documents(spark, sf_dir), k=TOPK_K))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "mine_pairs": q_mine_pairs,
        "hard_negatives": q_hard_negatives,
        "quantized_vectors": q_quantized_vectors,
        "quantized_query_terms": q_quantized_query_terms,
        "bm25_topk_quantized": q_bm25_topk_quantized,
        "index_search_quantized": q_index_search_quantized,
        "composed_text": q_composed_text,
        "pages_extract": q_pages_extract,
        "vector_roundtrip": q_vector_roundtrip,
        "vector_export": q_vector_export,
        "run_with_urls": q_run_with_urls,
        "trec_run_lines": q_trec_run_lines,
        "run_json": q_run_json,
        "exact_dedup": q_exact_dedup,
        "url_dedup": q_url_dedup,
        "pii_scrub": q_pii_scrub,
        "ngram_jaccard_pairs": q_ngram_jaccard,
        "ngram_jaccard_capped": q_ngram_jaccard_capped,
        "minhash_signatures": q_minhash_signatures,
        "minhash_lsh_pairs": q_minhash_lsh,
        "simhash": q_simhash,
        "simhash_pairs": q_simhash_pairs,
        "token_counts": q_token_counts,
        "docid_reassign": q_docid_reassign,
        "quality_scores": q_quality,
        "lang_id": q_lang_id,
        "fingerprints": q_fingerprints,
        "dl_histogram": q_dl_histogram,
        "term_pmi": q_term_pmi,
        "ann_cosine_topk": q_ann_cosine,
        "embedding_dup_pairs": q_emb_dup,
        "ann_lsh_topk": q_ann_lsh,
        "ann_lsh_multiprobe_topk": q_ann_lsh_multiprobe,
        "ann_ivf_topk": q_ann_ivf,
        "multimodal_features": q_multimodal_features,
        "multimodal_frames": q_multimodal_frames,
        "bm25_topk_k1000": q_bm25_topk_k1000,
        "index_search_k1000": q_index_search_k1000,
        "index_search_appended": q_index_search_appended,
        "index_search_maxscore_k1000": q_index_search_maxscore_k1000,
        "index_search_fused_k1000": q_index_search_fused_k1000,
        "index_search_maxscore_fused_k1000": q_index_search_maxscore_fused_k1000,
        "index_search_bmp_k1000": q_index_search_bmp_k1000,
        "index_search_bmp_quantized": q_index_search_bmp_quantized,
        "corpus_stats": q_corpus_stats,
        "term_df_top": q_term_df_top,
        "posting_stats": q_posting_stats,
        "query_terms": q_query_terms,
        "query_terms_thresholded": q_query_terms_thresholded,
        "eval_metrics": q_eval_metrics,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "mine_pairs": sql_oracle.mine_pairs_sql(k=TOPK_K, top_n=100),
        "hard_negatives": sql_oracle.hard_negatives_sql(k=TOPK_K, top_n=100),
        "quantized_vectors": sql_oracle.quantized_vectors_sql(100),
        "quantized_query_terms": sql_oracle.quantized_query_terms_sql(),
        "bm25_topk_quantized": sql_oracle.quantized_run_sql(1000),
        "index_search_quantized": sql_oracle.quantized_run_sql(1000),
        "index_search_bmp_quantized": sql_oracle.quantized_run_sql(1000),
        "composed_text": sql_oracle.COMPOSED_TEXT_BOTH_SQL,
        "pages_extract": sql_oracle.PAGES_EXTRACT_SQL,
        "vector_roundtrip": sql_oracle.quantized_vectors_sql(100),
        "vector_export": sql_oracle.vector_export_both_sql(100),
        "run_with_urls": sql_oracle.run_with_urls_sql(TOPK_K),
        "trec_run_lines": sql_oracle.trec_run_sql(TOPK_K),
        "run_json": sql_oracle.run_json_sql(TOPK_K),
        "exact_dedup": sql_oracle.EXACT_DEDUP_SQL,
        "url_dedup": sql_oracle.URL_DEDUP_SQL,
        "pii_scrub": sql_oracle.PII_SCRUB_SQL,
        "ngram_jaccard_pairs": sql_oracle.ngram_jaccard_sql(min_jaccard=0.1),
        "ngram_jaccard_capped": sql_oracle.ngram_jaccard_sql(
            min_jaccard=0.05, max_shingle_df=3
        ),
        "minhash_signatures": sql_oracle.minhash_signatures_sql(),
        "minhash_lsh_pairs": sql_oracle.minhash_lsh_pairs_sql(min_est=0.2),
        "simhash": sql_oracle.simhash_sql(),
        "simhash_pairs": sql_oracle.simhash_pairs_sql(
            max_hamming=3, where=PAIR_WHERE
        ),
        "token_counts": sql_oracle.TOKEN_COUNTS_SQL,
        "docid_reassign": sql_oracle.DOCID_REASSIGN_SQL,
        "quality_scores": sql_oracle.QUALITY_SQL,
        "lang_id": sql_oracle.LANG_ID_SQL,
        "fingerprints": sql_oracle.FINGERPRINTS_SQL,
        "dl_histogram": sql_oracle.DL_HISTOGRAM_SQL,
        "term_pmi": sql_oracle.term_pmi_sql(),
        "ann_cosine_topk": sql_oracle.cosine_topk_sql(),
        "embedding_dup_pairs": sql_oracle.embedding_dup_pairs_sql(
            min_cos=0.2, dim=EMB_DIM
        ),
        "ann_lsh_topk": sql_oracle.lsh_topk_sql(EMB_DIM),
        "ann_lsh_multiprobe_topk": sql_oracle.lsh_topk_sql(EMB_DIM, multi_probe=1),
        "ann_ivf_topk": sql_oracle.ivf_topk_sql(),
        "multimodal_features": sql_oracle.multimodal_features_sql(),
        "multimodal_frames": sql_oracle.multimodal_frames_sql(),
        "bm25_topk_k1000": sql_oracle.bm25_topk_sql(1000),
        "index_search_k1000": sql_oracle.bm25_topk_sql(1000),
        "index_search_appended": sql_oracle.bm25_topk_sql(1000),
        "index_search_maxscore_k1000": sql_oracle.bm25_topk_sql(1000),
        "index_search_fused_k1000": sql_oracle.bm25_topk_sql(1000),
        "index_search_maxscore_fused_k1000": sql_oracle.bm25_topk_sql(1000),
        "index_search_bmp_k1000": sql_oracle.bm25_topk_sql(1000),
        "corpus_stats": sql_oracle.CORPUS_STATS_SQL,
        "term_df_top": sql_oracle.TERM_DF_TOP_SQL,
        "posting_stats": sql_oracle.POSTING_STATS_SQL,
        "query_terms": sql_oracle.QUERY_TERMS_SQL,
        "query_terms_thresholded": sql_oracle.QUERY_TERMS_THRESH_SQL,
        "eval_metrics": sql_oracle.eval_metrics_sql(1000, 10, (10, 100, 1000)),
    }
