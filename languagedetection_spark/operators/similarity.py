"""Exact similarity operators over embedding columns (array<float>).

* ``dedup_embedding_cosine_df`` -- near-dup pairs: sign-LSH bucket
  candidates (bucket code = sign bits of the first H components,
  deterministic so an SQL oracle can reproduce it), cosine verified.
* ``quantized_kmeans_df`` -- Lloyd k-means over integer-quantized vectors,
  seeded by a distributed strided rank.
* ``semdedup_pairs_df`` -- cosine near-dup pairs within k-means clusters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def valid_embeddings(df: DataFrame, emb_col: str) -> DataFrame:
    """Drop degenerate vectors BEFORE any cosine math: NULL embeddings,
    embeddings containing NULL elements, and zero/empty vectors (no
    direction -> no cosine; both Spark's ANSI divide and DuckDB's
    list_cosine_similarity hard-error on them, and real pipelines do see
    null/zero rows).  Every similarity operator and its SQL oracle apply
    the same three filters."""
    col = F.col(emb_col)
    no_nulls = ~F.exists(col, lambda x: x.isNull())
    sq_sum = F.aggregate(
        F.transform(col, lambda x: x.cast("double")),
        F.lit(0.0), lambda a, x: a + x * x,
    )
    return df.filter(col.isNotNull() & no_nulls & (sq_sum > 0))


def _with_norm(df: DataFrame, emb_col: str) -> DataFrame:
    emb = F.transform(F.col(emb_col), lambda x: x.cast("double"))
    return valid_embeddings(df, emb_col).withColumn(
        "_emb", emb
    ).withColumn(
        "_nrm",
        F.sqrt(F.aggregate("_emb", F.lit(0.0), lambda a, x: a + x * x)),
    )


def bucket_code(emb_col: str = "embedding", n_bits: int = 8,
                offset: int = 0):
    """Sign-LSH code: bit i = (embedding[offset + i] > 0)."""
    bits = [
        F.when(F.element_at(F.col(emb_col), offset + i + 1) > 0,
               1 << i).otherwise(0)
        for i in range(n_bits)
    ]
    code = bits[0]
    for b in bits[1:]:
        code = code + b
    return code.cast("int")


MAX_BUCKET_FREQ_DEFAULT = 256


def dedup_embedding_cosine_df(df: DataFrame, threshold: float = 0.95,
                              id_col: str = "vec_id",
                              emb_col: str = "embedding",
                              n_bits: int = 8,
                              max_bucket_freq: int | None =
                              MAX_BUCKET_FREQ_DEFAULT) -> DataFrame:
    """Embedding near-dup pairs: sign-LSH bucket candidates, cosine >=
    threshold verified.  (Near-identical vectors share the bucket unless a
    component sits exactly at 0 -- acceptable for near-dup mining; the
    exact variant is a crossJoin.)

    ``max_bucket_freq`` is the bucket-join twin of the dedup family's
    band-frequency guard: a crowd of f identical embeddings shares one
    sign code and would emit O(f^2) cosine verifications; buckets fuller
    than the cap are dropped from candidate generation (identical-vector
    crowds belong to exact dedup on a vector hash)."""
    base = _with_norm(df, emb_col).select(
        F.col(id_col).alias("vid"), "_emb", "_nrm",
        bucket_code(emb_col, n_bits).alias("code"),
    )
    if max_bucket_freq is not None:
        keep = base.groupBy("code").agg(F.count("*").alias("__f")).filter(
            F.col("__f") <= max_bucket_freq
        ).select("code")
        base = base.join(keep, "code")
    a = base.select("code", F.col("vid").alias("vec_a"),
                    F.col("_emb").alias("ea"), F.col("_nrm").alias("na"))
    b = base.select("code", F.col("vid").alias("vec_b"),
                    F.col("_emb").alias("eb"), F.col("_nrm").alias("nb"))
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, "code")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("sim", F.round(dot / (F.col("na") * F.col("nb")), 4))
        .filter(F.col("sim") >= threshold)
        .select("vec_a", "vec_b", "sim")
    )


# ---------------------------------------------------------------------------
# k-means over integer-quantized vectors
# ---------------------------------------------------------------------------


KMEANS_SCALE = 1000


def _quantize(emb_col: str):
    """Integer quantization q_i = floor(x_i * SCALE + 0.5): every later
    distance and centroid update stays in EXACT integer / correctly-
    rounded-IEEE arithmetic, so cluster assignments are bit-identical
    across engines and partitionings -- no near-tie can flip on summation
    order (floor and double divide are exact on both engines; F.round's
    HALF_UP vs SQL's banker-rounding never enters)."""
    return F.transform(
        F.col(emb_col).cast("array<double>"),
        lambda x: F.floor(x * KMEANS_SCALE + F.lit(0.5)).cast("long"),
    )


def _kmeans_assign(v: DataFrame, cents: list[tuple[int, list[int]]]):
    """Map-only assignment: centroids are LITERAL arrays compiled into the
    plan (model-sized, k x dim), distances fold row-locally, and the
    argmin is an array_min over (dist, cluster) structs -- tie-break
    smallest cluster id.  NO shuffle: the big side streams."""
    structs = [
        F.struct(
            F.aggregate(
                F.zip_with(
                    "qv", F.array(*[F.lit(int(c)) for c in cen]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dist"),
            F.lit(j).alias("cluster"),
        )
        for j, cen in cents
    ]
    best = F.array_min(F.array(*structs))
    return v.select(
        "vec_id", "qv",
        best["cluster"].alias("cluster"), best["dist"].alias("sq_dist"),
    )


def quantized_kmeans_df(emb: DataFrame, k: int = 8, iters: int = 2,
                        emb_col: str = "embedding") -> DataFrame:
    """Deterministic Lloyd k-means over quantized embeddings: init = the
    k vectors at evenly-strided vec_id RANKS (rank j * (n // k) -- a
    spread seeding that, unlike first-k, never starts all centroids
    inside one dense region), *iters* update rounds, final
    re-assignment.  Returns (vec_id, cluster, sq_dist).

    Scale shape: assignment is map-only (broadcast-literal centroids);
    the only shuffles are the k*dim-bounded centroid-update aggregates
    (map-side combined) and the one-off init rank, computed as a
    distributed two-pass zipWithIndex rank (_strided_seed_rows) -- no
    single-partition sort anywhere in training.  The per-round driver
    collect is model-sized (k x dim longs), never corpus-proportional.
    Empty clusters drop out (the standard Lloyd degeneracy),
    identically on both engines."""
    v = valid_embeddings(emb, emb_col).select(
        "vec_id", _quantize(emb_col).alias("qv")
    )
    cents = kmeans_train_centroids(v, k, iters)
    return _kmeans_assign(v, cents).select("vec_id", "cluster", "sq_dist")


def kmeans_train_centroids(v: DataFrame, k: int,
                           iters: int) -> list[tuple[int, list[int]]]:
    """The Lloyd training loop of quantized_kmeans_df.  v = (vec_id, qv);
    exact-integer arithmetic and strided-rank seeding.

    v is persisted for the duration of training (count + seed rank +
    one assignment aggregate per round all re-traverse it) and released
    before returning; caching never changes results, only avoids
    re-scanning/re-quantizing the source per pass."""
    v = v.persist()
    try:
        return _kmeans_train_inner(v, k, iters)
    finally:
        v.unpersist(blocking=False)


def _strided_seed_rows(v: DataFrame, k: int, _plan_out: list | None = None):
    """Rows at vec_id ranks {0, stride, 2*stride, ...} with stride = n // k,
    computed WITHOUT a global single-partition sort.

    The r3 audit flagged the old ``row_number().over(W.orderBy("vec_id"))``
    here as a 100x-scale funnel: Spark executes an un-partitioned window as
    ONE task holding the entire vector table.  This is a hierarchical rank
    instead, bucketed by a PURE monotone function of vec_id (fixed-width id
    ranges from a min/max pass — deterministic, so no persist or range
    shuffle is needed to keep the passes consistent): per-bucket counts ->
    broadcast cumulative offsets (a B-row collect), then rank =
    offset(bucket) + local row_number within bucket.  Buckets are ascending
    disjoint vec_id intervals, so ranks are bit-identical to the global
    sort while every task holds only one bucket.  Works on sparse vec_ids
    (no density assumption; a clustered id range only skews bucket sizes,
    never correctness).  Callers persist v across training passes, so the
    extra min/max + count aggregates are cached map-side scans.

    Returns (stride, rows) where each row carries vec_id, qv, rn.
    ``_plan_out``: test hook — receives the rank stage's physical plan so
    tests/test_plans.py can pin the absence of a SinglePartition exchange.
    """
    sc = v.sparkSession.sparkContext
    # NULL ids cannot be ranked (and a None bucket key crashes the
    # driver-side sorted() over (bucket, count) tuples — ADVICE r4):
    # drop them up front; fixture domains pin ids non-null, so this is
    # an off-domain guard, not a semantic change
    v = v.filter(F.col("vec_id").isNotNull())
    bounds = v.agg(
        F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")
    ).collect()[0]
    if bounds["lo"] is None:          # empty input: no seeds, same as before
        return 1, []
    n_buckets = max(sc.defaultParallelism, 1)
    width = max((int(bounds["hi"]) - int(bounds["lo"])) // n_buckets + 1, 1)
    bucket = F.floor(
        (F.col("vec_id") - F.lit(int(bounds["lo"]))) / width
    ).cast("long")
    bv = v.select("vec_id", "qv", bucket.alias("bkt"))
    counts = sorted(
        (r["bkt"], r["n"])
        for r in bv.groupBy("bkt").agg(F.count("*").alias("n")).collect()
    )
    n = sum(c for _, c in counts)
    stride = max(n // k, 1)
    offs: list = []
    acc = 0
    for b, c in counts:
        offs.extend([F.lit(b), F.lit(acc).cast("long")])
        acc += c
    off_map = F.create_map(*offs)
    wl = W.partitionBy("bkt").orderBy("vec_id")
    ranked = (
        bv.withColumn(
            "rn", off_map[F.col("bkt")] + F.row_number().over(wl) - 1)
        .filter((F.col("rn") % stride == 0)
                & (F.col("rn") / stride < k))
        .select("vec_id", "qv", "rn")
    )
    if _plan_out is not None:
        _plan_out.append(
            ranked._jdf.queryExecution().executedPlan().toString())
    return stride, ranked.collect()


def _kmeans_train_inner(v: DataFrame, k: int,
                        iters: int) -> list[tuple[int, list[int]]]:
    stride, init = _strided_seed_rows(v, k)
    cents = [(int(r["rn"] // stride), list(r["qv"])) for r in init]
    for _ in range(iters):
        a = _kmeans_assign(v, cents)
        sums = (
            a.select("cluster", F.posexplode("qv").alias("dim", "qx"))
            .groupBy("cluster", "dim")
            .agg(
                F.floor(F.sum("qx") / F.count("*") + F.lit(0.5))
                .cast("long").alias("cx")
            )
            .collect()
        )
        by: dict[int, dict[int, int]] = {}
        for r in sums:
            by.setdefault(r["cluster"], {})[r["dim"]] = r["cx"]
        cents = [
            (j, [dims[i] for i in range(len(dims))])
            for j, dims in sorted(by.items())
        ]
    return cents


def semdedup_pairs_df(emb: DataFrame, threshold: float = 0.2,
                      k: int = 8, iters: int = 2,
                      emb_col: str = "embedding") -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate pairs found
    WITHIN k-means clusters only -- the cluster assignment prunes the
    all-pairs cosine to per-cluster blocks, the scalable formulation of
    embedding dedup (complements the sign-LSH variant: clusters follow
    the data distribution instead of fixed axis signs).

    Scale shape: the pair join is keyed by cluster (bounded blocks at
    real k), cosine verification only inside blocks; assignment itself
    is the map-only quantized-kmeans path."""
    assign = quantized_kmeans_df(emb, k=k, iters=iters, emb_col=emb_col)
    e = _with_norm(emb, emb_col).select(
        "vec_id", "_emb", "_nrm"
    ).join(assign.select("vec_id", "cluster"), "vec_id")
    a = e.select(F.col("vec_id").alias("vec_a"), "cluster",
                 F.col("_emb").alias("_ea"), F.col("_nrm").alias("_na"))
    b = e.select(F.col("vec_id").alias("vec_b"), "cluster",
                 F.col("_emb").alias("_eb"), F.col("_nrm").alias("_nb"))
    dot = F.aggregate(
        F.zip_with("_ea", "_eb", lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    sim = F.round(dot / (F.col("_na") * F.col("_nb")), 4)
    return (
        a.join(b, "cluster")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select("vec_a", "vec_b", "cluster", "sim")
    )
