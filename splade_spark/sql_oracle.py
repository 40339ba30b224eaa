"""DuckDB oracle SQL twins for every SQL-expressible operator.

Each string mirrors the Spark pipeline expression-for-expression
(same tokenizer regex, same BM25 formula text, same rounding and tie
rules) so the driver's row-count/schema/value-hash comparison is
exact. Shared fragments are built programmatically so constants
can't drift from the Spark side.
"""

from __future__ import annotations

from splade_spark.functions.bm25 import sql_impact
from splade_spark.functions.hashing import sql_md5_int, sql_md5_int_seeded
from splade_spark.synth import QID_STRIDE, QUERY_PREFIX_LEN, SQL_TOK

# Common CTE prologue: tokenization, doc lengths, corpus stats,
# per-(doc,term) tf, document frequencies, weighted postings,
# derived query terms.
BM25_CTES = f"""
WITH tok AS (
  SELECT doc_id, {SQL_TOK} AS toks FROM documents
),
dl AS (SELECT doc_id, len(toks) AS dl FROM tok),
stats AS (SELECT count(*) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
dterms AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  GROUP BY doc_id, term
),
dfs AS (SELECT term, count(*) AS df FROM dterms GROUP BY term),
post AS (
  SELECT d.term, d.doc_id,
         {sql_impact(tf="d.tf", dl="l.dl", df="f.df", n="s.n_docs", avgdl="s.avgdl")} AS impact
  FROM dterms d
  JOIN dl l USING (doc_id)
  JOIN dfs f USING (term)
  CROSS JOIN stats s
),
queries AS (
  SELECT doc_id AS qid, toks[1:{QUERY_PREFIX_LEN}] AS qtoks
  FROM tok WHERE doc_id % {QID_STRIDE} = 0
),
qterms AS (
  SELECT qid, term, CAST(count(*) AS DOUBLE) AS q_tf
  FROM (SELECT qid, unnest(qtoks) AS term FROM queries)
  GROUP BY qid, term
)
"""


def bm25_topk_sql(k: int) -> str:
    return (
        BM25_CTES
        + f""",
scored AS (
  SELECT q.qid, p.doc_id, round(sum(q.q_tf * p.impact), 6) AS score
  FROM post p JOIN qterms q USING (term)
  GROUP BY q.qid, p.doc_id
  HAVING round(sum(q.q_tf * p.impact), 6) > 0.0
),
ranked AS (
  SELECT qid, doc_id, score,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT qid, doc_id, score, rank FROM ranked WHERE rank <= {k}
ORDER BY qid, rank
"""
    )


CORPUS_STATS_SQL = (
    BM25_CTES
    + """
SELECT n_docs, round(avgdl, 6) AS avgdl,
       (SELECT count(*) FROM dfs) AS vocab_size,
       (SELECT count(*) FROM dterms) AS nnz
FROM stats
"""
)

TERM_DF_TOP_SQL = (
    BM25_CTES
    + """
SELECT term, df FROM dfs ORDER BY df DESC, term ASC LIMIT 100
"""
)

DOC_LENS_SQL = (
    BM25_CTES
    + """
SELECT doc_id, CAST(dl AS BIGINT) AS dl FROM dl
"""
)

POSTING_STATS_SQL = (
    BM25_CTES
    + """
SELECT f.term, f.df AS posting_len, round(max(p.impact), 6) AS max_impact,
       round(sum(p.impact), 6) AS sum_impact
FROM post p JOIN dfs f USING (term)
GROUP BY f.term, f.df
ORDER BY f.term
"""
)

QUERY_TERMS_SQL = (
    BM25_CTES
    + """
SELECT qid, term, CAST(q_tf AS BIGINT) AS q_tf FROM qterms ORDER BY qid, term
"""
)


def _run_ctes(k: int) -> str:
    return (
        BM25_CTES
        + f""",
scored AS (
  SELECT q.qid, p.doc_id, round(sum(q.q_tf * p.impact), 6) AS score
  FROM post p JOIN qterms q USING (term)
  GROUP BY q.qid, p.doc_id
  HAVING round(sum(q.q_tf * p.impact), 6) > 0.0
),
run AS (
  SELECT qid, doc_id, score,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
  FROM scored QUALIFY rank <= {k}
),
qrels AS (
  SELECT doc_id AS qid, doc_id, 1 AS rel FROM documents WHERE doc_id % {QID_STRIDE} = 0
),
n_rel AS (SELECT qid, count(*) AS n_rel FROM qrels GROUP BY qid),
hits AS (
  SELECT r.qid, min(r.rank) AS best_rank, count(*) AS n_hit
  FROM run r JOIN qrels q ON r.qid = q.qid AND r.doc_id = q.doc_id
  GROUP BY r.qid
),
pq AS (
  SELECT n.qid,
         coalesce(1.0 / h.best_rank, 0.0) AS rr,
         coalesce(h.n_hit, 0) * 1.0 / n.n_rel AS recall
  FROM n_rel n LEFT JOIN hits h USING (qid)
)
"""
    )


def mrr_sql(k: int) -> str:
    return _run_ctes(k) + f"SELECT 'mrr@{k}' AS metric, round(avg(rr), 6) AS value FROM pq"


def recall_sql(k: int) -> str:
    return (
        _run_ctes(k)
        + f"SELECT 'recall@{k}' AS metric, round(avg(recall), 6) AS value FROM pq"
    )


PER_QUERY_METRICS_SQL = (
    _run_ctes(10)
    + "SELECT qid, round(rr, 6) AS rr, round(recall, 6) AS recall FROM pq"
)


def recall_cutoffs_sql(run_k: int, ks: tuple[int, ...] = (10, 100, 1000)) -> str:
    """Multi-cutoff recall twin (metrics.recall_at_cutoffs)."""
    h_cols = ",\n         ".join(
        f"sum(CASE WHEN r.rank <= {k} THEN 1 ELSE 0 END) AS h{k}" for k in ks
    )
    r_cols = ",\n         ".join(
        f"round(avg(coalesce(h.h{k}, 0) * 1.0 / n.n_rel), 6) AS r{k}" for k in ks
    )
    selects = "\nUNION ALL\n".join(
        f"SELECT 'recall@{k}' AS metric, r{k} AS value FROM means" for k in ks
    )
    return (
        _run_ctes(run_k)
        + f""",
hitsc AS (
  SELECT r.qid,
         {h_cols}
  FROM run r JOIN qrels q ON r.qid = q.qid AND r.doc_id = q.doc_id
  GROUP BY r.qid
),
means AS (
  SELECT {r_cols}
  FROM n_rel n LEFT JOIN hitsc h USING (qid)
)
{selects}
"""
    )


def ndcg_sql(k: int = 10, run_k: int | None = None) -> str:
    """Graded NDCG twin (metrics.ndcg_at_k over derive_qrels_graded):
    trec_eval linear gain rel/log2(rank+1)."""
    from splade_spark.synth import SQL_QRELS_GRADED

    run_k = k if run_k is None else run_k
    return (
        BM25_CTES
        + f""",
scored AS (
  SELECT q.qid, p.doc_id, round(sum(q.q_tf * p.impact), 6) AS score
  FROM post p JOIN qterms q USING (term)
  GROUP BY q.qid, p.doc_id
  HAVING round(sum(q.q_tf * p.impact), 6) > 0.0
),
run AS (
  SELECT qid, doc_id, score,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
  FROM scored QUALIFY rank <= {run_k}
),
gq AS ({SQL_QRELS_GRADED}),
pos AS (SELECT * FROM gq WHERE rel > 0),
dcg AS (
  SELECT r.qid, sum(g.rel / log2(r.rank + 1)) AS dcg
  FROM run r JOIN pos g ON r.qid = g.qid AND r.doc_id = g.doc_id
  WHERE r.rank <= {k}
  GROUP BY r.qid
),
ideal AS (
  SELECT qid, sum(rel / log2(rn + 1)) AS idcg FROM (
    SELECT qid, rel,
           row_number() OVER (PARTITION BY qid ORDER BY rel DESC, doc_id ASC) AS rn
    FROM pos
  ) WHERE rn <= {k} GROUP BY qid
),
qbase AS (SELECT DISTINCT qid FROM gq)
SELECT 'ndcg@{k}' AS metric,
       round(avg(coalesce(d.dcg / i.idcg, 0.0)), 6) AS value
FROM qbase b LEFT JOIN dcg d USING (qid) LEFT JOIN ideal i USING (qid)
"""
    )


def qrels_graded_sql() -> str:
    from splade_spark.synth import SQL_QRELS_GRADED

    return SQL_QRELS_GRADED


def eval_metrics_sql(
    run_k: int = 1000, k: int = 10, ks: tuple[int, ...] = (10, 100, 1000)
) -> str:
    """ALL eval metrics from ONE k=run_k run (the driver-cap
    curation: mrr@k + multi-cutoff recall + graded ndcg@k + the
    per-query breakdown as 'rr@k:q<qid>' / 'recall@k:q<qid>' rows, in
    a single (metric, value) relation — evaluate.py:53-69 dispatch,
    task/evaluator.py:161-180 per-qid dict). rank <= k of the deep
    run is identical to a k-deep run (deterministic (-score, doc_id)
    ranking), so the shallow-metric twins hold."""
    from splade_spark.synth import SQL_QRELS_GRADED

    h_cols = ",\n         ".join(
        f"sum(CASE WHEN r.rank <= {c} THEN 1 ELSE 0 END) AS h{c}" for c in ks
    )
    r_cols = ",\n         ".join(
        f"round(avg(coalesce(h.h{c}, 0) * 1.0 / n.n_rel), 6) AS r{c}" for c in ks
    )
    recall_selects = "\nUNION ALL ".join(
        f"SELECT 'recall@{c}' AS metric, r{c} AS value FROM means" for c in ks
    )
    return (
        _run_ctes(run_k)
        + f""",
hits10 AS (
  SELECT r.qid, min(r.rank) AS best_rank, count(*) AS n_hit
  FROM run r JOIN qrels q ON r.qid = q.qid AND r.doc_id = q.doc_id
  WHERE r.rank <= {k}
  GROUP BY r.qid
),
pq10 AS (
  SELECT n.qid,
         coalesce(1.0 / h.best_rank, 0.0) AS rr,
         coalesce(h.n_hit, 0) * 1.0 / n.n_rel AS recall
  FROM n_rel n LEFT JOIN hits10 h USING (qid)
),
hitsc AS (
  SELECT r.qid,
         {h_cols}
  FROM run r JOIN qrels q ON r.qid = q.qid AND r.doc_id = q.doc_id
  GROUP BY r.qid
),
means AS (
  SELECT {r_cols}
  FROM n_rel n LEFT JOIN hitsc h USING (qid)
),
gq AS ({SQL_QRELS_GRADED}),
gpos AS (SELECT * FROM gq WHERE rel > 0),
gdcg AS (
  SELECT r.qid, sum(g.rel / log2(r.rank + 1)) AS dcg
  FROM run r JOIN gpos g ON r.qid = g.qid AND r.doc_id = g.doc_id
  WHERE r.rank <= {k}
  GROUP BY r.qid
),
gideal AS (
  SELECT qid, sum(rel / log2(rn + 1)) AS idcg FROM (
    SELECT qid, rel,
           row_number() OVER (PARTITION BY qid ORDER BY rel DESC, doc_id ASC) AS rn
    FROM gpos
  ) WHERE rn <= {k} GROUP BY qid
),
gbase AS (SELECT DISTINCT qid FROM gq)
SELECT 'mrr@{k}' AS metric, round(avg(rr), 6) AS value FROM pq10
UNION ALL SELECT 'ndcg@{k}' AS metric,
       round(avg(coalesce(d.dcg / i.idcg, 0.0)), 6) AS value
FROM gbase b LEFT JOIN gdcg d USING (qid) LEFT JOIN gideal i USING (qid)
UNION ALL {recall_selects}
UNION ALL SELECT 'rr@{k}:q' || CAST(qid AS VARCHAR) AS metric,
       round(rr, 6) AS value FROM pq10
UNION ALL SELECT 'recall@{k}:q' || CAST(qid AS VARCHAR) AS metric,
       round(recall, 6) AS value FROM pq10
"""
    )


def run_with_urls_sql(k: int) -> str:
    """docid -> url remap join (sinks.remap_run_urls twin)."""
    return (
        _run_ctes(k)
        + """
SELECT r.qid, d.url, r.score, r.rank
FROM run r
JOIN (SELECT doc_id, 'doc://' || CAST(doc_id AS VARCHAR) AS url
      FROM documents) d USING (doc_id)
"""
    )


def trec_run_sql(k: int, runid: str = "splade_spark") -> str:
    """TREC 6-column line sink twin (sinks.trec_lines_df)."""
    return (
        _run_ctes(k)
        + f"""
SELECT qid, rank,
       printf('%d Q0 %s %d %.6f {runid}',
              qid, CAST(doc_id AS VARCHAR), rank, score) AS line
FROM run
"""
    )


def vector_export_sql(scale: int = 100, rounding: str = "floor") -> str:
    """Quantized JSONL export row twin (sinks.vector_export_df) —
    floor() mirrors the PISA export's int() truncation, round() the
    BMP export's np.rint (ties never land exactly on .5 in float64
    BM25 impacts, so round-half-away == rint here)."""
    fn = "floor" if rounding == "floor" else "round"
    return (
        BM25_CTES
        + f""",
qp AS (
  SELECT doc_id, term,
         CAST(least({fn}(impact * {scale}), 255) AS INTEGER) AS iq
  FROM post
),
vec AS (
  SELECT doc_id,
         '{{' || array_to_string(
             list_sort(list(printf('"%s":%d', term, iq))), ',') || '}}' AS vector_json
  FROM qp WHERE iq > 0 GROUP BY doc_id
)
SELECT d.doc_id, d.text AS content, v.vector_json
FROM documents d JOIN vec v USING (doc_id)
"""
    )


def vector_export_both_sql(scale: int = 100) -> str:
    """Both export quantization conventions in one relation
    (driver-cap curation): vector_json = int() truncation (the PISA
    export, inference_SPLADE.py:70), vector_json_rint = np.rint
    half-to-even (the BMP export,
    bmp_inference/inference_all_beir_doc_bmp.py:78; ties never land
    exactly on .5 in float64 BM25 impacts, so round-half-away ==
    rint here)."""
    return (
        BM25_CTES
        + f""",
qpf AS (
  SELECT doc_id, term,
         CAST(least(floor(impact * {scale}), 255) AS INTEGER) AS iq
  FROM post
),
qpr AS (
  SELECT doc_id, term,
         CAST(least(round(impact * {scale}), 255) AS INTEGER) AS iq
  FROM post
),
vecf AS (
  SELECT doc_id,
         '{{' || array_to_string(
             list_sort(list(printf('"%s":%d', term, iq))), ',') || '}}' AS vector_json
  FROM qpf WHERE iq > 0 GROUP BY doc_id
),
vecr AS (
  SELECT doc_id,
         '{{' || array_to_string(
             list_sort(list(printf('"%s":%d', term, iq))), ',') || '}}' AS vector_json_rint
  FROM qpr WHERE iq > 0 GROUP BY doc_id
)
SELECT d.doc_id, d.text AS content, f.vector_json, r.vector_json_rint
FROM documents d JOIN vecf f USING (doc_id) JOIN vecr r USING (doc_id)
"""
    )


QUERY_TERMS_THRESH_SQL = (
    BM25_CTES
    + """
SELECT qid, term, CAST(q_tf AS BIGINT) AS q_tf FROM qterms
WHERE q_tf > 1
ORDER BY qid, term
"""
)


def run_json_sql(k: int) -> str:
    """run.json score-map sink twin (sinks.run_json_df)."""
    return (
        _run_ctes(k)
        + """
SELECT qid,
       '{' || array_to_string(
           list_sort(list(printf('"%s":%.6f', CAST(doc_id AS VARCHAR), score))),
           ',') || '}' AS run_json
FROM run GROUP BY qid
"""
    )


# ---------------------------------------------------------------------------
# Dedup family twins (operators/dedup.py)
# ---------------------------------------------------------------------------

from splade_spark.operators.dedup import (  # noqa: E402
    MINHASH_BANDS,
    MINHASH_SIGS,
    NGRAM_N,
    SIMHASH_BITS,
)

EXACT_DEDUP_SQL = """
SELECT doc_id, md5(text) AS text_hash,
       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
       CAST(doc_id != min(doc_id) OVER (PARTITION BY md5(text)) AS INT) AS is_dup
FROM documents
"""

def _sh_cte(where: str = "TRUE") -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, {SQL_TOK} AS toks FROM documents WHERE {where}
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
             generate_series(1, greatest(len(toks) - {NGRAM_N - 1}, 0)),
             i -> array_to_string(toks[i:i+{NGRAM_N - 1}], ' '))) AS shingle
  FROM tok
)
"""


def ngram_jaccard_sql(
    min_jaccard: float = 0.2,
    where: str = "TRUE",
    max_shingle_df: int | None = None,
) -> str:
    from splade_spark.operators.dedup import MAX_SHINGLE_DF

    cap = MAX_SHINGLE_DF if max_shingle_df is None else max_shingle_df
    return (
        _sh_cte(where)
        + f""",
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > {cap}),
cold AS (SELECT * FROM sh ANTI JOIN hot USING (shingle)),
shared AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared
  FROM cold a JOIN cold b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT s.a, s.b,
       round(s.shared * 1.0 / (sa.n_sh + sb.n_sh - s.shared), 6) AS jaccard
FROM shared s
JOIN sizes sa ON sa.doc_id = s.a
JOIN sizes sb ON sb.doc_id = s.b
WHERE round(s.shared * 1.0 / (sa.n_sh + sb.n_sh - s.shared), 6) >= {min_jaccard}
"""
    )


def _minhash_sig_cte(n_sigs: int = MINHASH_SIGS, where: str = "TRUE") -> str:
    from splade_spark.operators.dedup import MINHASH_P, minhash_coeffs

    sig_cols = ",\n         ".join(
        f"min(({a} * h + {b}) % {MINHASH_P}) AS sig_{i}"
        for i, (a, b) in enumerate(minhash_coeffs(n_sigs))
    )
    return (
        _sh_cte(where)
        + f""",
shh AS (SELECT doc_id, {sql_md5_int('shingle')} AS h FROM sh),
sigs AS (
  SELECT doc_id,
         {sig_cols}
  FROM shh GROUP BY doc_id
)
"""
    )


def minhash_signatures_sql(n_sigs: int = MINHASH_SIGS) -> str:
    cols = ", ".join(f"sig_{i}" for i in range(n_sigs))
    return _minhash_sig_cte(n_sigs) + f"SELECT doc_id, {cols} FROM sigs"


def minhash_lsh_pairs_sql(
    n_sigs: int = MINHASH_SIGS,
    n_bands: int = MINHASH_BANDS,
    min_est: float = 0.5,
    where: str = "TRUE",
) -> str:
    rows_per_band = n_sigs // n_bands
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {bi} AS band_idx, ".format(bi=bi)
        + " || '_' || ".join(
            f"CAST(sig_{bi * rows_per_band + r} AS VARCHAR)"
            for r in range(rows_per_band)
        )
        + " AS band_key FROM sigs"
        for bi in range(n_bands)
    )
    agree = " + ".join(
        f"CASE WHEN sa.sig_{i} = sb.sig_{i} THEN 1 ELSE 0 END" for i in range(n_sigs)
    )
    return (
        _minhash_sig_cte(n_sigs, where)
        + f""",
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT c.a, c.b, round(({agree}) / {float(n_sigs)}, 6) AS est_jaccard
FROM cand c
JOIN sigs sa ON sa.doc_id = c.a
JOIN sigs sb ON sb.doc_id = c.b
WHERE round(({agree}) / {float(n_sigs)}, 6) >= {min_est}
"""
    )


def simhash_sql(bits: int = SIMHASH_BITS, where: str = "TRUE") -> str:
    s_cols = ",\n         ".join(
        f"sum(tf * (((h >> {j}) & 1) * 2 - 1)) AS s_{j}" for j in range(bits)
    )
    val = " + ".join(
        f"CASE WHEN s_{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
        for j in range(bits)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, {SQL_TOK} AS toks FROM documents WHERE {where}
),
dterms AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  GROUP BY doc_id, term
),
hashed AS (SELECT doc_id, tf, {sql_md5_int('term')} AS h FROM dterms),
bit_sums AS (
  SELECT doc_id,
         {s_cols}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({val} AS BIGINT) AS simhash FROM bit_sums
"""


def simhash_pairs_sql(
    max_hamming: int = 6, bits: int = SIMHASH_BITS, where: str = "TRUE"
) -> str:
    n_chunks = max_hamming + 1
    chunk_w = bits // n_chunks
    chunk_rows = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {c} AS chunk_idx, "
        f"(simhash >> {c * chunk_w}) & {(1 << chunk_w) - 1} AS chunk_val FROM sims"
        for c in range(n_chunks)
    )
    return (
        f"WITH sims AS ({simhash_sql(bits, where)}),\n"
        + f"""chunks AS ({chunk_rows}),
cand AS (
  SELECT DISTINCT a.doc_id AS a, a.simhash AS ha, b.doc_id AS b, b.simhash AS hb
  FROM chunks a JOIN chunks b
    ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
)
SELECT a, b, bit_count(xor(ha, hb)) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {max_hamming}
"""
    )


# ---------------------------------------------------------------------------
# Text-analysis twins (functions/textstats.py)
# ---------------------------------------------------------------------------

from splade_spark.functions.textstats import (  # noqa: E402
    BPE_RE,
    FP_MOD,
    STOPWORDS,
)


def _sql_strlist(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


TOKEN_COUNTS_SQL = f"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\\s+')) AS n_ws_tokens,
       len(regexp_extract_all(lower(text), '{BPE_RE}')) AS n_bpe_tokens,
       length(text) AS n_chars
FROM documents
"""

QUALITY_SQL = f"""
WITH tok AS (
  SELECT doc_id, text, {SQL_TOK} AS toks FROM documents
),
ratios AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         round(length(regexp_replace(text, '[a-z0-9A-Z\\s]', '', 'g')) * 1.0
               / greatest(length(text), 1), 6) AS punct_ratio,
         round(len(list_filter(toks, t -> list_contains({_sql_strlist(STOPWORDS["en"])}, t))) * 1.0
               / greatest(len(toks), 1), 6) AS stopword_ratio,
         round(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) * 1.0
               / greatest(len(toks), 1), 6) AS mean_token_len
  FROM tok
)
SELECT doc_id, n_tokens, punct_ratio, stopword_ratio, mean_token_len,
       round(1.0 / (1.0 + exp(-(2.0 * stopword_ratio + 0.1 * ln(1.0 + n_tokens)
                                - 4.0 * punct_ratio))), 6) AS quality
FROM ratios
"""


def _lang_id_sql() -> str:
    score_rows = " UNION ALL ".join(
        f"SELECT doc_id, '{lang}' AS lang, "
        f"round(len(list_filter(toks, t -> list_contains({_sql_strlist(STOPWORDS[lang])}, t))) * 1.0"
        f" / greatest(len(toks), 1), 6) AS score FROM tok"
        for lang in sorted(STOPWORDS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, {SQL_TOK} AS toks FROM documents
),
scores AS ({score_rows}),
best AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn
  FROM scores QUALIFY rn = 1
)
SELECT doc_id,
       CASE WHEN score > 0.0 THEN lang ELSE 'und' END AS lang_pred,
       score AS lang_score
FROM best
"""


LANG_ID_SQL = _lang_id_sql()

DL_HISTOGRAM_SQL = f"""
WITH tok AS (
  SELECT doc_id, {SQL_TOK} AS toks FROM documents
)
SELECT CAST(floor(len(toks) / 10) * 10 AS BIGINT) AS bucket_lo,
       count(*) AS n_docs
FROM tok GROUP BY 1
"""


def term_pmi_sql(top_n: int = 20, min_pairs: int = 2) -> str:
    """Term co-occurrence PMI twin (textstats.term_pmi)."""
    return f"""
WITH tok AS (
  SELECT doc_id, {SQL_TOK} AS toks FROM documents
),
dterms AS (
  SELECT DISTINCT doc_id, unnest(toks) AS term FROM tok
),
dfs AS (SELECT term, count(*) AS df FROM dterms GROUP BY term),
top AS (SELECT term, df FROM dfs ORDER BY df DESC, term ASC LIMIT {top_n}),
tt AS (SELECT d.doc_id, d.term FROM dterms d JOIN top t USING (term)),
n AS (SELECT count(*) AS n_docs FROM documents),
pairs AS (
  SELECT x.term AS a, y.term AS b, count(*) AS n_ab
  FROM tt x JOIN tt y ON x.doc_id = y.doc_id AND x.term < y.term
  GROUP BY 1, 2 HAVING count(*) >= {min_pairs}
)
SELECT p.a, p.b, p.n_ab,
       round(ln(n.n_docs * p.n_ab * 1.0 / (ca.df * cb.df)), 6) AS pmi
FROM pairs p
JOIN top ca ON ca.term = p.a
JOIN top cb ON cb.term = p.b
CROSS JOIN n
"""


FINGERPRINTS_SQL = f"""
WITH tok AS (
  SELECT doc_id, {SQL_TOK} AS toks FROM documents
),
posed AS (
  SELECT doc_id, {sql_md5_int("CAST(i - 1 AS VARCHAR) || ':' || toks[i]")} AS h
  FROM tok, LATERAL unnest(generate_series(1, len(toks))) t(i)
)
SELECT doc_id, bit_xor(h) AS fp_xor, CAST(sum(h) % {FP_MOD} AS BIGINT) AS fp_sum
FROM posed GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Similarity-search twins (operators/ann.py)
# ---------------------------------------------------------------------------

from splade_spark.operators.ann import LSH_PLANES  # noqa: E402

_EMB_BASE = """
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
)
"""


def cosine_topk_sql(query_mod: int = 50, k: int = 10) -> str:
    return (
        _EMB_BASE
        + f""",
qs AS (SELECT vec_id AS q_id, e AS qe, nrm AS qn FROM base WHERE vec_id % {query_mod} = 0),
pairs AS (
  SELECT q.q_id, b.vec_id,
         round(list_dot_product(q.qe, b.e) / (q.qn * b.nrm), 6) AS cos
  FROM base b, qs q WHERE b.vec_id != q.q_id
)
SELECT q_id, vec_id, cos,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rank
FROM pairs QUALIFY rank <= {k}
"""
    )


def embedding_dup_pairs_sql(
    min_cos: float, dim: int, n_planes: int | None = None
) -> str:
    """LSH-bucketed near-dup twin (ann.embedding_dup_pairs): same
    hyperplane bucket expression as lsh_topk_sql, candidates share a
    bucket, exact cosine within."""
    n_planes = LSH_PLANES if n_planes is None else n_planes
    bucket = " + ".join(
        f"CASE WHEN list_dot_product(e, {_hp_list(p, dim)}) > 0 THEN {1 << p} ELSE 0 END"
        for p in range(n_planes)
    )
    return (
        _EMB_BASE
        + f""",
sigs AS (SELECT vec_id, e, nrm, ({bucket}) AS bucket FROM base)
SELECT a.vec_id AS a, b.vec_id AS b,
       round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cos
FROM sigs a JOIN sigs b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) >= {min_cos}
"""
    )


def _hp_list(plane: int, dim: int) -> str:
    seed = sql_md5_int(f"'{plane}_' || CAST(d AS VARCHAR)")
    return (
        f"list_transform(generate_series(1, {dim}), d -> "
        f"{seed} / {float(1 << 31)} - 1.0)"
    )


def lsh_topk_sql(
    dim: int,
    query_mod: int = 50,
    k: int = 10,
    n_planes: int = LSH_PLANES,
    multi_probe: int = 0,
) -> str:
    bucket = " + ".join(
        f"CASE WHEN list_dot_product(e, {_hp_list(p, dim)}) > 0 THEN {1 << p} ELSE 0 END"
        for p in range(n_planes)
    )
    if multi_probe:
        probe_list = "[qb, " + ", ".join(
            f"xor(qb, {1 << p})" for p in range(n_planes)
        ) + "]"
        qs = f"""qs0 AS (SELECT vec_id AS q_id, e AS qe, nrm AS qn, bucket AS qb FROM sigs WHERE vec_id % {query_mod} = 0),
qs AS (SELECT q_id, qe, qn, CAST(p AS BIGINT) AS qb FROM qs0, LATERAL unnest({probe_list}) t(p))"""
    else:
        qs = f"qs AS (SELECT vec_id AS q_id, e AS qe, nrm AS qn, bucket AS qb FROM sigs WHERE vec_id % {query_mod} = 0)"
    return (
        _EMB_BASE
        + f""",
sigs AS (SELECT vec_id, e, nrm, ({bucket}) AS bucket FROM base),
{qs},
pairs AS (
  SELECT q.q_id, s.vec_id,
         round(list_dot_product(q.qe, s.e) / (q.qn * s.nrm), 6) AS cos
  FROM sigs s, qs q WHERE s.bucket = q.qb AND s.vec_id != q.q_id
)
SELECT q_id, vec_id, cos,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rank
FROM pairs QUALIFY rank <= {k}
"""
    )


# ---------------------------------------------------------------------------
# Mining + export twins (operators/mining.py, reference export shapes)
# ---------------------------------------------------------------------------


def _ivf_assign_cte(name: str, cents: str, rn_keep: str) -> str:
    return f"""
{name} AS (
  SELECT vec_id, e, nrm, c_id FROM (
    SELECT b.vec_id, b.e, b.nrm, c.c_id,
           row_number() OVER (
             PARTITION BY b.vec_id
             ORDER BY round(list_dot_product(b.e, c.ce) / (b.nrm * c.cn), 6) DESC,
                      c.c_id ASC
           ) AS rn
    FROM base b CROSS JOIN {cents} c
  ) WHERE {rn_keep}
)"""


def ivf_topk_sql(
    query_mod: int = 50,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    n_iters: int = 2,
) -> str:
    """IVF ANN twin (operators/ann.py ivf_cosine_topk): seed centroids
    = n_cells lowest vec_ids, then n_iters Lloyd steps (assign ranked
    on 6dp-rounded cosine, ties -> lowest c_id; update = per-dim mean
    rounded to 6dp; an empty cell keeps its previous centroid) —
    mirroring the Spark iteration component-for-component."""
    ctes = [
        f"""cents0 AS (
  SELECT vec_id AS c_id, e AS ce, nrm AS cn
  FROM base ORDER BY vec_id LIMIT {n_cells}
)"""
    ]
    for it in range(1, n_iters + 1):
        prev, cur = f"cents{it - 1}", f"cents{it}"
        ctes.append(_ivf_assign_cte(f"lasg{it}", prev, "rn = 1"))
        ctes.append(
            f"""mean{it} AS (
  SELECT c_id, i AS d, round(avg(e[i]), 6) AS m
  FROM lasg{it}, LATERAL unnest(generate_series(1, len(e))) t(i)
  GROUP BY c_id, i
),
newc{it} AS (SELECT c_id, list(m ORDER BY d) AS ce FROM mean{it} GROUP BY c_id),
{cur} AS (
  SELECT c0.c_id, coalesce(n.ce, c0.ce) AS ce,
         sqrt(list_dot_product(coalesce(n.ce, c0.ce), coalesce(n.ce, c0.ce))) AS cn
  FROM {prev} c0 LEFT JOIN newc{it} n USING (c_id)
)"""
        )
    final = f"cents{n_iters}"
    ctes.append(_ivf_assign_cte("dasg", final, "rn = 1"))
    ctes.append(_ivf_assign_cte("qasg", final, f"rn <= {n_probe}"))
    return (
        _EMB_BASE
        + ",\n"
        + ",\n".join(ctes)
        + f""",
data AS (SELECT vec_id, e, nrm, c_id AS cell FROM dasg),
qs AS (
  SELECT vec_id AS q_id, e AS qe, nrm AS qn, c_id AS q_cell
  FROM qasg WHERE vec_id % {query_mod} = 0
),
pairs AS (
  SELECT q.q_id, d.vec_id,
         round(list_dot_product(q.qe, d.e) / (q.qn * d.nrm), 6) AS cos
  FROM data d JOIN qs q ON d.cell = q.q_cell AND d.vec_id != q.q_id
)
SELECT q_id, vec_id, cos,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS INTEGER) AS rank
FROM pairs QUALIFY rank <= {k}
"""
    )


def mine_pairs_sql(k: int = 10, top_n: int = 100) -> str:
    return (
        _run_ctes(k)
        + f"""
SELECT r.qid, r.doc_id, r.rank, r.score,
       CASE WHEN q.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_pos
FROM run r LEFT JOIN qrels q ON r.qid = q.qid AND r.doc_id = q.doc_id
WHERE r.rank <= {top_n}
"""
    )


def hard_negatives_sql(k: int = 10, top_n: int = 100) -> str:
    return (
        _run_ctes(k)
        + f"""
SELECT r.qid, r.doc_id, r.rank, r.score
FROM run r ANTI JOIN qrels q ON r.qid = q.qid AND r.doc_id = q.doc_id
WHERE r.rank <= {top_n}
"""
    )


def quantized_query_terms_sql(scale: int = 50, clip: int = 255) -> str:
    """Query-side quantization twin (retrieval.quantized_query_terms;
    reference inference_q_SPLADE.py:13,60)."""
    return (
        BM25_CTES
        + f"""
SELECT qid, term, CAST(least(q_tf * {scale}, {clip}) AS INTEGER) AS q_w
FROM qterms
"""
    )


def quantized_run_sql(k: int, doc_scale: int = 100, q_scale: int = 50) -> str:
    """Quantized-arithmetic run twin (engine.bm25_run_quantized /
    index_query.search_fused(quantized=True)): integer sum(q_w * d_w). The doc
    side uses round() (= codec.quantize's rint except at exact .5
    ties, which BM25 impacts never hit in float64)."""
    return (
        BM25_CTES
        + f""",
postq AS (
  SELECT term, doc_id,
         CAST(least(round(impact * {doc_scale}), 255) AS INTEGER) AS d_w
  FROM post
  WHERE CAST(least(round(impact * {doc_scale}), 255) AS INTEGER) > 0
),
qtq AS (
  SELECT qid, term, CAST(least(q_tf * {q_scale}, 255) AS INTEGER) AS q_w
  FROM qterms
),
scoredq AS (
  SELECT q.qid, p.doc_id, CAST(sum(q.q_w * p.d_w) AS BIGINT) AS score
  FROM postq p JOIN qtq q USING (term)
  GROUP BY q.qid, p.doc_id
  HAVING sum(q.q_w * p.d_w) > 0
)
SELECT qid, doc_id, score,
       CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
FROM scoredq QUALIFY rank <= {k}
"""
    )


def quantized_vectors_sql(scale: int = 100) -> str:
    """Reference export quantization int(w*scale) clipped to [0,255]
    (pisa_inference/inference_SPLADE.py:70) — int() truncates, hence
    floor()."""
    return (
        BM25_CTES
        + f"""
SELECT doc_id, term,
       CAST(least(floor(impact * {scale}), 255) AS INTEGER) AS impact_q
FROM post
WHERE CAST(least(floor(impact * {scale}), 255) AS INTEGER) > 0
"""
    )


COMPOSED_TEXT_SQL = """
SELECT doc_id, 'title: ' || source || ' | context: ' || text AS composed
FROM documents
"""

COMPOSED_TEXT_BEIR_SQL = """
SELECT doc_id, source || ' ' || text AS composed
FROM documents
"""

# both composition variants in one relation (driver-cap curation):
# reference twins are indexing.py:23-27 (title|context) and
# bmp_inference/inference_all_beir_doc_bmp.py:69 (title-space-text)
COMPOSED_TEXT_BOTH_SQL = """
SELECT doc_id,
       'title: ' || source || ' | context: ' || text AS composed,
       source || ' ' || text AS composed_beir
FROM documents
"""

# ---------------------------------------------------------------------------
# Cleaning twins (functions/cleaning.py)
# ---------------------------------------------------------------------------

_URL_VARIANTS_DUCK = (
    " CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END ||"
    " CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END ||"
    " CASE WHEN doc_id % 5 = 0 THEN 'ExAmple' ELSE 'example' END ||"
    " CAST(CAST(floor(doc_id / 2) AS INTEGER) % 7 AS VARCHAR) || '.com/p/' ||"
    " CAST(CAST(floor(doc_id / 2) AS INTEGER) AS VARCHAR) ||"
    " CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END ||"
    " CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END"
)

URL_DEDUP_SQL = f"""
WITH urls AS (SELECT doc_id, {_URL_VARIANTS_DUCK} AS url FROM documents),
normed AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             lower(url), '^https?://', ''), '^www\\.', ''), '#.*$', ''),
             '/$', '') AS url_norm
  FROM urls
)
SELECT doc_id, url_norm,
       min(doc_id) OVER (PARTITION BY url_norm) AS canonical_id,
       CAST(doc_id != min(doc_id) OVER (PARTITION BY url_norm) AS INT) AS is_dup
FROM normed
"""

from splade_spark.functions.cleaning import (  # noqa: E402
    EMAIL_RE,
    IPV4_RE,
    PHONE_RE,
)

PII_SCRUB_SQL = f"""
WITH withpii AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
              || ' tel +1-555-010' || CAST(doc_id % 10 AS VARCHAR)
              || ' ip 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) AS text
  FROM documents
)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(
           text, '{EMAIL_RE}', '<EMAIL>', 'g'),
           '{IPV4_RE}', '<IP>', 'g'),
           '{PHONE_RE}', '<PHONE>', 'g') AS scrubbed
FROM withpii
"""


# Twin of extract_text_from_html over the synthetic pages table: the
# wrapper-strip must recover the stored text BYTE-IDENTICALLY per url
# (the north-rule invariant), so the oracle is simply the text itself.
PAGES_EXTRACT_SQL = """
SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url, text AS extracted
FROM documents
"""


# ---------------------------------------------------------------------------
# Multimodal twins (functions/multimodal.py — fake md5 decoder)
# ---------------------------------------------------------------------------

# hex pair -> byte value without engine-specific hex casts
_HEXVAL = "strpos('0123456789abcdef', {c}) - 1"


def _hex_byte(hexcol: str, i: int) -> str:
    hi = _HEXVAL.format(c=f"substr({hexcol}, {2 * i - 1}, 1)")
    lo = _HEXVAL.format(c=f"substr({hexcol}, {2 * i}, 1)")
    return f"(({hi}) * 16 + ({lo}))"


def multimodal_features_sql(feat_dim: int = 8) -> str:
    """Twin of extract_features over documents_to_media: media content
    is the doc text's UTF-8 bytes, so DuckDB's md5(text) equals the
    Spark-side md5 of the binary column; features are the first
    feat_dim digest bytes."""
    bytes_list = ", ".join(
        f"CAST({_hex_byte('h', i)} AS VARCHAR)" for i in range(1, feat_dim + 1)
    )
    return f"""
WITH media AS (
  SELECT doc_id AS media_id,
         CAST(doc_id % 640 + 32 AS INTEGER) AS width,
         CAST(doc_id % 480 + 32 AS INTEGER) AS height,
         octet_length(encode(text)) AS n_bytes,
         md5(text) AS h
  FROM documents
)
SELECT media_id, width, height, n_bytes,
       '[' || array_to_string([{bytes_list}], ',') || ']' AS feat_bytes_json
FROM media
"""


def multimodal_frames_sql(n_frames: int = 4) -> str:
    """Twin of sample_frames: ASCII-decimal frame salt, evenly spaced
    offsets within duration_s = (doc_id % 300) / 10."""
    return f"""
SELECT doc_id AS media_id,
       CAST(i AS INTEGER) AS frame_idx,
       round((doc_id % 300) / 10.0 * i / {n_frames}, 6) AS offset_s,
       md5(text || CAST(i AS VARCHAR)) AS frame_hash
FROM documents, LATERAL unnest(generate_series(0, {n_frames - 1})) t(i)
"""

# Quality/length-ordered docID reassignment (operators/docids.py):
# the oracle is the one-window formulation; the Spark side computes
# the SAME total order via range-partitioned sort + per-partition
# offsets because a global row_number window is a single task
DOCID_REASSIGN_SQL = """
SELECT ROW_NUMBER() OVER (ORDER BY length(text), doc_id) - 1 AS new_doc_id,
       doc_id
FROM documents
"""
