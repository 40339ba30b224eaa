"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact cosine top-k — the baseline and
  the recall oracle. Queries are broadcast; the scan over the vector
  table is embarrassingly parallel (no shuffle until the per-query
  window top-k, which AQE coalesces).
- ``lsh_cosine_topk``: random-hyperplane LSH bucketing (signs of 8
  deterministic md5-derived hyperplane projections); candidates are
  same-bucket vectors, exact cosine within. The scale path: bucket
  join replaces the full scan; recall vs brute force is measured in
  tests, not assumed.

All arithmetic is float64 left-fold (F.aggregate over zip_with) so
the DuckDB twins reproduce values exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from splade_spark.functions.hashing import md5_int
from splade_spark.operators.retrieval import (  # reuse deterministic window
    topk_window,
)

LSH_PLANES = 8


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def with_norms(embeddings: DataFrame) -> DataFrame:
    return embeddings.select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("nrm")
    )


def cosine_topk(
    embeddings: DataFrame, query_mod: int = 50, k: int = 10
) -> DataFrame:
    """(q_id, vec_id, cos, rank): exact top-k neighbors (self excluded)
    for every vec_id % query_mod == 0 query vector."""
    base = with_norms(embeddings)
    qs = base.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    pairs = base.join(F.broadcast(qs), F.col("vec_id") != F.col("q_id"))
    scored = pairs.select(
        F.col("q_id").alias("qid"),  # topk_window keys on qid/doc_id
        F.col("vec_id").alias("doc_id"),
        F.round(
            _dot(F.col("q_emb"), F.col("embedding"))
            / (F.col("q_nrm") * F.col("nrm")),
            6,
        ).alias("score"),
    )
    out = topk_window(scored, k)
    return out.select(
        F.col("qid").alias("q_id"),
        F.col("doc_id").alias("vec_id"),
        F.col("score").alias("cos"),
        "rank",
    )


def embedding_dup_pairs(
    embeddings: DataFrame,
    min_cos: float = 0.9,
    n_planes: int = LSH_PLANES,
    dim: int | None = None,
    bucket_cap: int | None = None,
) -> DataFrame:
    """(a, b, cos): near-duplicate vector pairs above a cosine
    threshold.

    Candidates come from shared random-hyperplane LSH buckets (the
    same ``lsh_signatures`` the search path uses), exact cosine within
    — an EQUALITY self-join shuffled by bucket, mirroring
    ``minhash_lsh_pairs``. The earlier brute-force theta-join
    (a.vec_id < b.vec_id) compiled to a cartesian
    BroadcastNestedLoopJoin: O(n^2) rows, the textbook scale-killer at
    a 10^12-row table. Cross-bucket pairs are missed (recall < 1, the
    standard LSH trade: near-duplicates at cos >= 0.9 flip a sign bit
    with low probability per plane).

    ``bucket_cap`` drops LSH buckets larger than the cap before the
    self-join (broadcast anti-join) — an identical-embedding cluster
    of B vectors is B^2 join rows uncapped; same rationale as
    dedup.minhash_lsh_pairs(bucket_cap=...). Default None =
    exhaustive (the oracle contract). Unlike the minhash path, no
    exact-dedup stage runs first here, and identical vectors share ONE
    signature bucket: a capped run drops that bucket with every pair
    in it. Callers should collapse exactly identical vectors first
    (hash ``groupBy`` on the embedding, keep one representative)
    before a ``bucket_cap`` run."""
    base = lsh_signatures(embeddings, n_planes, dim=dim).withColumn(
        "nrm", _norm(F.col("embedding"))
    ).persist()  # both self-join branches read it; Catalyst won't reuse
    if bucket_cap is not None:
        over = (
            base.groupBy("bucket")
            .count()
            .filter(F.col("count") > bucket_cap)
            .select("bucket")
        )
        base = base.join(F.broadcast(over), "bucket", "left_anti")
    a = base.alias("a")
    b = base.alias("b")
    return (
        a.join(b, "bucket")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("a"),
            F.col("b.vec_id").alias("b"),
            F.round(
                _dot(F.col("a.embedding"), F.col("b.embedding"))
                / (F.col("a.nrm") * F.col("b.nrm")),
                6,
            ).alias("cos"),
        )
        .filter(F.col("cos") >= min_cos)
    )


IVF_CELLS = 8
IVF_PROBE = 2
IVF_ITERS = 2


def ivf_seed_centroids(embeddings: DataFrame, n_cells: int = IVF_CELLS) -> DataFrame:
    """(c_id, c_emb, c_nrm): deterministic seeds — the n_cells
    lowest-vec_id vectors (c_id = the seed's vec_id)."""
    seeds = (
        with_norms(embeddings)
        .orderBy("vec_id")
        .limit(n_cells)
        .select(
            F.col("vec_id").alias("c_id"),
            F.col("embedding").alias("c_emb"),
            F.col("nrm").alias("c_nrm"),
        )
    )
    return seeds


def _assign_to(base: DataFrame, cents: DataFrame, n_probe: int) -> DataFrame:
    """(vec_id, embedding, nrm, cell): each vector's n_probe nearest
    centroids by cosine (rounded to 6dp BEFORE ranking so the argmax
    tie rule is reproducible in the SQL twin; ties -> lowest c_id).

    Scale: centroids are broadcast (n_cells rows); the crossJoin is a
    per-row map over the vector table — no shuffle until the window,
    which partitions by vec_id (the table's natural key)."""
    from pyspark.sql import Window

    ccos = F.round(
        _dot(F.col("embedding"), F.col("c_emb")) / (F.col("nrm") * F.col("c_nrm")), 6
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("c_id"))
    return (
        base.crossJoin(F.broadcast(cents))
        .withColumn("ccos", ccos)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_probe)
        .select("vec_id", "embedding", "nrm", F.col("c_id").alias("cell"))
    )


def ivf_centroids(
    embeddings: DataFrame,
    n_cells: int = IVF_CELLS,
    n_iters: int = IVF_ITERS,
) -> DataFrame:
    """(c_id, c_emb, c_nrm): Lloyd-refined centroids — n_iters fixed
    k-means steps from the deterministic seeds (assign = broadcast
    crossJoin + per-vec_id window; update = per-dim mean, rounded to
    6dp so the SQL twin reproduces every component exactly). An empty
    cell keeps its previous centroid.

    The centroid relation is MODEL METADATA (n_cells x dim values):
    each update is collected to the driver and re-broadcast as
    literals, exactly how MLlib's KMeans iterates — the O(corpus)
    assignment work stays distributed."""
    spark = embeddings.sparkSession
    base = with_norms(embeddings)
    cents_rows = sorted(
        (int(r.c_id), [float(x) for x in r.c_emb])
        for r in ivf_seed_centroids(embeddings, n_cells).collect()
    )
    for _ in range(n_iters):
        cdf = spark.createDataFrame(cents_rows, "c_id long, c_emb array<double>")
        cdf = cdf.select("c_id", "c_emb", _norm(F.col("c_emb")).alias("c_nrm"))
        asg = _assign_to(base, cdf, n_probe=1)
        means = (
            asg.select("cell", F.posexplode("embedding").alias("d", "v"))
            .groupBy("cell", "d")
            .agg(F.avg(F.col("v").cast("double")).alias("m"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("d", "m"))),
                    lambda s: F.round(s["m"], 6),
                ).alias("c_emb")
            )
        )
        new = {int(r.cell): [float(x) for x in r.c_emb] for r in means.collect()}
        cents_rows = [(c, new.get(c, emb)) for c, emb in cents_rows]
    cdf = spark.createDataFrame(cents_rows, "c_id long, c_emb array<double>")
    return cdf.select("c_id", "c_emb", _norm(F.col("c_emb")).alias("c_nrm"))


def ivf_assign(
    embeddings: DataFrame,
    n_cells: int = IVF_CELLS,
    n_probe: int = 1,
    n_iters: int = IVF_ITERS,
) -> DataFrame:
    """(vec_id, embedding, nrm, cell) against Lloyd-refined centroids."""
    return _assign_to(
        with_norms(embeddings), ivf_centroids(embeddings, n_cells, n_iters), n_probe
    )


def ivf_cosine_topk(
    embeddings: DataFrame,
    query_mod: int = 50,
    k: int = 10,
    n_cells: int = IVF_CELLS,
    n_probe: int = IVF_PROBE,
    n_iters: int = IVF_ITERS,
) -> DataFrame:
    """(q_id, vec_id, cos, rank): IVF approximate top-k — queries probe
    their n_probe nearest cells, exact cosine within. Each candidate
    lives in exactly one cell (rn=1 assignment), so a (q, candidate)
    pair matches at most once — no dedup stage needed."""
    cents = ivf_centroids(embeddings, n_cells, n_iters)
    base = with_norms(embeddings)
    data = _assign_to(base, cents, n_probe=1)
    qs = (
        _assign_to(base, cents, n_probe=n_probe)
        .filter(F.col("vec_id") % query_mod == 0)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
            F.col("cell").alias("q_cell"),
        )
    )
    cand = data.join(
        F.broadcast(qs),
        (F.col("cell") == F.col("q_cell")) & (F.col("vec_id") != F.col("q_id")),
    )
    scored = cand.select(
        F.col("q_id").alias("qid"),
        F.col("vec_id").alias("doc_id"),
        F.round(
            _dot(F.col("q_emb"), F.col("embedding")) / (F.col("q_nrm") * F.col("nrm")),
            6,
        ).alias("score"),
    )
    out = topk_window(scored, k)
    return out.select(
        F.col("qid").alias("q_id"),
        F.col("doc_id").alias("vec_id"),
        F.col("score").alias("cos"),
        "rank",
    )


def hyperplanes(spark, dim: int, n_planes: int = LSH_PLANES) -> DataFrame:
    """(plane, d, v): deterministic pseudo-random hyperplanes,
    v = md5_int('p_d')/2^31 - 1 in [-1, 1)."""
    return (
        spark.range(n_planes)
        .withColumnRenamed("id", "plane")
        .crossJoin(spark.range(1, dim + 1).withColumnRenamed("id", "d"))
        .select(
            "plane",
            "d",
            (
                md5_int(
                    F.concat(
                        F.col("plane").cast("string"), F.lit("_"), F.col("d").cast("string")
                    )
                )
                / F.lit(float(1 << 31))
                - 1.0
            ).alias("v"),
        )
    )


def lsh_signatures(
    embeddings: DataFrame, n_planes: int = LSH_PLANES, dim: int | None = None
) -> DataFrame:
    """(vec_id, bucket): sign-bit bucket from hyperplane projections.

    Projections use the same sequential left-fold dot product as the
    exact path (per-row, no shuffle — hyperplane values are generated
    as an array literal per plane, broadcast via the closure).

    Pass ``dim`` when known (the embeddings table's declared width):
    the fallback ``.first()`` probe is a synchronous Spark job in the
    pipeline-construction path, fine interactively but a per-call
    driver action in composed pipelines."""
    spark = embeddings.sparkSession
    if dim is None:
        dim = len(embeddings.select("embedding").first()[0])
    hp = hyperplanes(spark, dim, n_planes).orderBy("plane", "d").collect()
    planes = [
        F.array(*[F.lit(r.v) for r in hp if r.plane == p]) for p in range(n_planes)
    ]
    bucket = None
    for p, arr in enumerate(planes):
        bit = F.when(_dot(F.col("embedding"), arr) > 0, F.lit(1 << p)).otherwise(
            F.lit(0)
        )
        bucket = bit if bucket is None else bucket + bit
    return embeddings.select("vec_id", "embedding", bucket.alias("bucket"))


def lsh_cosine_topk(
    embeddings: DataFrame,
    query_mod: int = 50,
    k: int = 10,
    n_planes: int = LSH_PLANES,
    dim: int | None = None,
    multi_probe: int = 0,
) -> DataFrame:
    """(q_id, vec_id, cos, rank): approximate top-k — candidates from
    the query's LSH bucket, exact cosine within.

    ``multi_probe=1`` additionally probes every Hamming-1 neighbor
    bucket (each single sign bit flipped): a near neighbor that
    landed just across one hyperplane is recovered at the cost of
    n_planes+1 bucket probes instead of 1 — the standard multi-probe
    LSH recall/cost trade, still an EQUALITY join (each query row
    explodes into its probe-bucket list; no distance predicate)."""
    sigs = lsh_signatures(embeddings, n_planes, dim=dim)
    base = sigs.join(
        with_norms(embeddings).select("vec_id", "nrm"), "vec_id"
    )
    qs = base.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("bucket").alias("q_bucket"),
    )
    if multi_probe:
        probes = F.array(
            F.col("q_bucket"),
            *[
                F.col("q_bucket").bitwiseXOR(F.lit(1 << p))
                for p in range(n_planes)
            ],
        )
        qs = qs.select(
            "q_id", "q_emb", "q_nrm", F.explode(probes).alias("q_bucket")
        )
    cand = base.join(
        F.broadcast(qs),
        (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != F.col("q_id")),
    )
    scored = cand.select(
        F.col("q_id").alias("qid"),
        F.col("vec_id").alias("doc_id"),
        F.round(
            _dot(F.col("q_emb"), F.col("embedding"))
            / (F.col("q_nrm") * F.col("nrm")),
            6,
        ).alias("score"),
    )
    out = topk_window(scored, k)
    return out.select(
        F.col("qid").alias("q_id"),
        F.col("doc_id").alias("vec_id"),
        F.col("score").alias("cos"),
        "rank",
    )
