"""Deduplication operators for large-scale training-data pipelines.

One implementation per ``filter_job --dedup`` choice, plus the
decontamination pair; all deterministic and engine-portable (hashes are
md5-based so a DuckDB oracle can reproduce them bit-for-bit):

* exact          -- hash-groupBy on the text md5, keeping the first turn
                    per text (``dedup_exact_keep_first``).
* minhash        -- K min-hashes from ONE md5 per shingle (affine family
                    over the digest's lower 64 bits, = DuckDB's
                    md5_number_lower), banded into B bands of R rows; docs
                    sharing a band key are candidates, then verified with
                    exact Jaccard (``dedup_minhash_lsh_df``).  Shuffles only
                    candidate pairs, not the cross product.  Connected
                    components over the verified pairs give the duplicate
                    clusters, and ``dedup_minhash_keep_first`` keeps the
                    first turn per cluster.
* decontaminate  -- flag corpus docs sharing word-3-gram shingles with a
                    benchmark, by exact broadcast join
                    (``contamination_overlap_df``) or by a constant-size
                    Bloom probe (``bloom_decontaminate_df``).

All take/return DataFrames so they compose with any source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..plans.cache_registry import cache as _cached

MINHASH_K = 12
MINHASH_BANDS = 3
MINHASH_ROWS = 4  # K = BANDS * ROWS


def shingle_df(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document (split on single spaces).

    Docs with fewer than *n* tokens are filtered BEFORE the position
    sequence: Spark's ``sequence(1, 0)`` DESCENDS (returns [1, 0]), so the
    unguarded form fabricated phantom shingles for short/empty/NULL texts
    (SQL ``generate_series(1, 0)`` is empty -- the engines disagree
    exactly off the fixture domain)."""
    toks = F.split(F.col(text_col), " ")
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    shingles = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n))
    )
    return (
        docs.filter(F.size(toks) >= n)
        .select(F.col(id_col).alias("doc_id"),
                F.explode(shingles).alias("shingle"))
        .distinct()
    )


def _verify_jaccard(pairs: DataFrame, shingles: DataFrame,
                    threshold: float) -> DataFrame:
    """Exact Jaccard for candidate (doc_a, doc_b) pairs via two shingle
    joins; sizes are broadcast (one row per doc)."""
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = shingles.select(F.col("doc_id").alias("doc_a"),
                        F.col("shingle").alias("sh"))
    b = shingles.select(F.col("doc_id").alias("doc_b"),
                        F.col("shingle").alias("sh"))
    inter = (
        pairs.join(a, "doc_a").join(b, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n_sh").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# one-md5-per-shingle universal-hash family: base hash m(shingle) is the
# LOWER 64 bits of md5 (little-endian digest bytes 8..15 -- exactly DuckDB's
# md5_number_lower, so the oracle reproduces every value), then k affine
# permutation approximations h_i = (A_i * (m mod P) + B_i) mod P over the
# Mersenne prime P = 2^31 - 1.  A_i/B_i are tiny closed-form constants so
# the SQL twin can regenerate them from i alone.
MINHASH_P = 2147483647  # 2^31 - 1


def _minhash_coeffs(k: int):
    import numpy as np

    i = np.arange(k, dtype=np.uint64)
    a = (np.uint64(1000003) * (i + np.uint64(1))) % np.uint64(MINHASH_P)
    b = (np.uint64(999983) * i + np.uint64(12345)) % np.uint64(MINHASH_P)
    return a, b


def minhash_signatures_df(docs: DataFrame, k: int = MINHASH_K,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Row-local MinHash signatures over Arrow batches — MAP-ONLY.

    ONE md5 per distinct 3-word shingle (the round-1 form paid k=12 md5s
    per shingle -- the measured hot spot of the whole dedup family); the k
    min-hashes come from a vectorized affine family over the digest:
    h_i = (A_i * (md5_lower64 mod P) + B_i) mod P, P = 2^31 - 1.  Every
    value is bit-reproducible in DuckDB via md5_number_lower (oracle:
    DEDUP_MINHASH_SQL).  Docs with no shingles (< 3 tokens) emit an empty
    sig array and must be filtered before banding."""

    def run(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        a, b = _minhash_coeffs(k)
        a2, b2 = a[:, None], b[:, None]
        p = np.uint64(MINHASH_P)
        empty: list = []
        for pdf in batches:
            ids, sigs = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = (text if isinstance(text, str) else "").split(" ")
                if len(toks) >= 3:
                    shingles = {
                        " ".join(toks[i:i + 3]).encode()
                        for i in range(len(toks) - 2)
                    }
                    ms = np.fromiter(
                        (int.from_bytes(
                            hashlib.md5(s).digest()[8:], "little")
                         for s in shingles),
                        dtype=np.uint64, count=len(shingles),
                    )
                    # a,r < 2^31 so a*r + b < 2^62: exact in uint64
                    h = (a2 * (ms % p)[None, :] + b2) % p
                    sig = h.min(axis=1).astype(np.int64).tolist()
                else:
                    sig = empty
                ids.append(doc_id)
                sigs.append(sig)
            yield pd.DataFrame({"doc_id": ids, "sig": sigs})

    return docs.mapInPandas(run, "doc_id long, sig array<long>")


MAX_BAND_FREQ_DEFAULT = 256


def _band_freq_guard(banded: DataFrame, keys: list[str],
                     cap: int | None) -> DataFrame:
    """Drop LSH bucket keys shared by more than *cap* docs from candidate
    generation (the band-join twin of the stop-shingle guard): a crowd of
    f exact-duplicate texts shares EVERY band key and emits O(f^2)
    candidate pairs per band -- measured: a 775k-turn corpus with
    generator-duplicated texts made the unguarded band join run for
    minutes at local[8].  Exact-duplicate crowds belong to exact dedup
    (run dedup_exact / --dedup exact first); the guard makes near-dup
    LSH robust to them at any scale.  Over-full buckets are either such
    crowds or degenerate signatures, so the (bounded) recall loss is by
    design; pass ``cap=None`` for exhaustive small-corpus runs."""
    if cap is None:
        return banded
    freq = banded.groupBy(*keys).agg(F.count("*").alias("__f"))
    return banded.join(
        freq.filter(F.col("__f") <= cap).select(*keys), keys
    )


def dedup_minhash_lsh_df(docs: DataFrame, threshold: float = 0.5,
                         k: int = MINHASH_K, bands: int = MINHASH_BANDS,
                         rows: int = MINHASH_ROWS,
                         max_band_freq: int | None =
                         MAX_BAND_FREQ_DEFAULT) -> DataFrame:
    """MinHash + banded LSH candidates, exact-Jaccard verified.

    h_i(doc) = min over shingles of an affine family over the shingle's
    lower-64-bit md5 (see minhash_signatures_df) -- portable to any engine
    with md5, so the whole pipeline is DuckDB-oracle-checkable.  Signatures
    are computed map-only; band key = '_'-joined decimal min-hashes of the
    band's R rows; only same-band pairs are shuffled.

    The shingle set is persisted for the verify stage: _verify_jaccard
    consumes it from three pruned branches (sizes + both intersection
    sides), and per-branch column pruning defeats exchange reuse
    (unpersisted, a shingle self-join was measured re-scanning and
    re-shingling the corpus 16x per run)."""
    sh = shingle_df(docs).transform(_cached)
    spark = docs.sparkSession
    sig = minhash_signatures_df(docs, k).filter(F.size("sig") > 0)
    band_ids = spark.range(bands).select(F.col("id").cast("int").alias("b"))
    # persisted: the band-frequency guard and both self-join sides are
    # three separately-pruned consumers of the banded signatures -- the
    # cache makes the k-hash signature kernel run exactly once instead of
    # relying on ReuseExchange (which the guard branch defeats)
    banded = sig.crossJoin(F.broadcast(band_ids)).select(
        "doc_id", "b",
        F.expr(f"concat_ws('_', slice(sig, b * {rows} + 1, {rows}))")
        .alias("key"),
    ).transform(_cached)
    banded = _band_freq_guard(banded, ["b", "key"], max_band_freq)
    left = banded.select("b", "key", F.col("doc_id").alias("doc_a"))
    right = banded.select("b", "key", F.col("doc_id").alias("doc_b"))
    pairs = (
        left.join(right, ["b", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _verify_jaccard(pairs, sh, threshold)


MAX_SHINGLE_FREQ_DEFAULT = 128


def contamination_overlap_df(docs: DataFrame, benchmark: DataFrame,
                             min_overlap: int = 2,
                             max_shingle_freq: int | None =
                             MAX_SHINGLE_FREQ_DEFAULT) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing >= *min_overlap*
    distinct word-3-gram shingles with ANY benchmark doc (the standard
    n-gram-overlap contamination test used before training on scraped
    corpora -- evaluation data must not leak into the training set).

    Scale shape: benchmark shingles are DISTINCT and usually tiny relative
    to the corpus -> the join is a broadcast semi-ish equi-join on the
    shingle; ``max_shingle_freq`` prunes stop-shingles (shared by more than
    that many corpus docs) from the CORPUS side so boilerplate doesn't fan
    out.  The guard is ON BY DEFAULT (cap 128); pass ``None`` to disable.
    Returns (doc_id, n_overlap) for contaminated docs; anti-join this
    against the corpus to decontaminate."""
    sh = shingle_df(docs)
    if max_shingle_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("f"))
        sh = sh.join(
            F.broadcast(freq.filter(F.col("f") <= max_shingle_freq)),
            "shingle",
        ).select("doc_id", "shingle")
    bench_sh = (
        shingle_df(benchmark).select("shingle").distinct()
    )
    return (
        sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )


def _bloom_pos(shingle_col, i: int, m_bits: int):
    """Bit position i for a shingle: md5 of 'i:shingle' -> first 8 hex
    chars -> integer mod m_bits.  The exact engine-portable bucket recipe
    the hashed-ngram langid features use, so DuckDB reproduces
    every position ('0x' || substr(md5(..), 1, 8))::BIGINT % m."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{i}:"), shingle_col)), 1, 8),
            16, 10,
        ).cast("long") % m_bits
    )


def bloom_decontaminate_df(docs: DataFrame, benchmark: DataFrame,
                           min_overlap: int = 2, m_bits: int = 4096,
                           k_hashes: int = 3) -> DataFrame:
    """Bloom-filter decontamination: the CONSTANT-SIZE alternative to
    broadcasting every benchmark shingle (contamination_overlap_df).  The
    benchmark's 3-gram shingles are folded into an m_bits-bit Bloom filter
    (k_hashes md5-derived positions each); a corpus shingle counts as
    contaminated iff ALL k of its bits are set.  Supersets the exact
    n-gram overlap by construction (a Bloom filter has NO false
    negatives); false positives are the documented price, rate ~
    (1 - e^(-k*S/m))^k for S benchmark shingles.

    Scale shape: the filter is a driver-built m_bits-char literal mask
    (model-sized REGARDLESS of corpus or benchmark size -- a 4 KB
    constant vs a possibly-GB shingle broadcast) and the corpus side is
    a pure MAP: shingle -> k substring probes into the compiled-literal
    mask, no join at all on the hot path; per-doc aggregation is a
    map-side-combined groupBy on doc_id.  No stop-shingle guard is
    needed because nothing fans out -- each corpus shingle does O(k)
    work whatever its frequency.  Returns (doc_id, n_shingles, n_hit)
    for docs with n_hit >= min_overlap."""
    bench_sh = shingle_df(benchmark).select("shingle").distinct()
    pos_rows = bench_sh.select(
        F.explode(F.array(*[
            _bloom_pos(F.col("shingle"), i, m_bits)
            for i in range(k_hashes)
        ])).alias("pos")
    ).distinct().collect()          # <= m_bits rows: model-sized collect
    mask = ["0"] * m_bits
    for r in pos_rows:
        mask[int(r["pos"])] = "1"
    mask_lit = F.lit("".join(mask))
    sh = shingle_df(docs)
    hit = F.lit(True)
    for i in range(k_hashes):
        hit = hit & (
            F.substring(mask_lit, (_bloom_pos(F.col("shingle"), i, m_bits)
                                   + 1).cast("int"), 1) == "1"
        )
    return (
        sh.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(hit.cast("long")).alias("n_hit"),
        )
        .filter(F.col("n_hit") >= min_overlap)
    )


def dedup_components_df(nodes: DataFrame, pairs: DataFrame,
                        id_col: str = "doc_id",
                        max_iter: int = 25) -> DataFrame:
    """Connected components over near-dup pairs -> duplicate CLUSTERS.

    The last step of near-dup dedup: pair lists don't dedupe a
    corpus -- you need the transitive closure (a~b, b~c => one cluster) and
    one canonical keeper per cluster.  Algorithm: iterative min-label
    propagation (the standard distributed CC formulation: each round,
    every node takes the min label among itself and its neighbors; a
    hash-join + groupBy-min per round, O(log D) rounds for diameter D).
    Near-dup clusters are small and shallow, so 2-4 rounds in practice;
    rounds stop early via a changed-label count.  Lineage is cut with
    localCheckpoint per round (iterative-Spark standard).  At 100 TB the
    per-round shuffle is on the PAIR list (already candidate-pruned by
    LSH), not the corpus -- the scale-correct shape.

    Singletons never change labels, so the iteration runs ONLY over nodes
    that appear in a pair (the LSH-pruned candidate set -- a tiny fraction
    of a real corpus); untouched docs are unioned back as size-1 clusters
    at the end with no per-round cost.  Per-round work is therefore
    bounded by the pair list, never the corpus.

    nodes: one row per doc (singletons become their own cluster);
    pairs: (doc_a, doc_b) undirected near-dup edges.
    Returns (doc_id, canonical_id, cluster_size); keep = doc_id ==
    canonical_id."""
    all_nodes = nodes.select(F.col(id_col).alias("doc_id"))
    half = pairs.select(F.col("doc_a").alias("src"),
                        F.col("doc_b").alias("dst"))
    sym = half.unionAll(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # drop edges referencing unknown docs -- otherwise phantom ids would
    # enter the label table through propagation and leak into the output
    edges = (
        sym.join(all_nodes.withColumnRenamed("doc_id", "src"), "src",
                 "left_semi")
        .join(all_nodes.withColumnRenamed("doc_id", "dst"), "dst",
              "left_semi")
        .localCheckpoint(eager=True)
    )
    touched = edges.select(F.col("src").alias("doc_id")).distinct()
    labels = (
        all_nodes.join(touched, "doc_id")
        .select("doc_id", F.col("doc_id").alias("label"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges.src == labels.doc_id)
            .select(F.col("dst").alias("doc_id"), "label")
        )
        cand = (
            labels.unionAll(nbr)
            .groupBy("doc_id")
            .agg(F.min("label").alias("new_label"))
        )
        changed = (
            labels.join(cand, "doc_id")
            .filter(F.col("label") != F.col("new_label"))
            .count()
        )
        labels = cand.select(
            "doc_id", F.col("new_label").alias("label")
        ).localCheckpoint(eager=True)
        if changed == 0:
            break
    w = W.partitionBy("label")
    clustered = labels.select(
        "doc_id",
        F.col("label").alias("canonical_id"),
        F.count("*").over(w).alias("cluster_size"),
    )
    singletons = all_nodes.join(touched, "doc_id", "left_anti").select(
        "doc_id",
        F.col("doc_id").alias("canonical_id"),
        F.lit(1).cast("long").alias("cluster_size"),
    )
    return clustered.unionAll(singletons)


def dedup_exact_keep_first(df: DataFrame,
                           key_cols: tuple[str, str] = ("conv_id",
                                                        "turn_idx"),
                           text_col: str = "text") -> DataFrame:
    """Corpus-wide exact dedup keeping ONE deterministic row per distinct
    text: the (conv_id, turn_idx)-minimal turn.  Built for the filter_job
    --dedup stage.

    Scale shape: the keeper per text hash is a skew-immune
    min-of-struct aggregate (partially aggregable map-side, unlike a
    row_number window that funnels a hot text -- think empty strings --
    through one reducer); the re-join is hash-keyed on the text md5."""
    k = F.md5(F.coalesce(F.col(text_col), F.lit("\x00null")))
    a, b = key_cols
    keepers = (
        df.select(k.alias("__k"), F.struct(a, b).alias("__kt"))
        .groupBy("__k").agg(F.min("__kt").alias("__keep"))
        .select("__k", F.col(f"__keep.{a}").alias("__ka"),
                F.col(f"__keep.{b}").alias("__kb"))
    )
    left = df.withColumn("__k", k)
    return (
        left.join(
            keepers,
            (left["__k"] == keepers["__k"])
            & (left[a] == keepers["__ka"])
            & (left[b] == keepers["__kb"]),
        )
        .drop(keepers["__k"]).drop("__k", "__ka", "__kb")
    )


def dedup_minhash_keep_first(df: DataFrame,
                             key_cols: tuple[str, str] = ("conv_id",
                                                          "turn_idx"),
                             text_col: str = "text",
                             threshold: float = 0.8) -> DataFrame:
    """Corpus-wide NEAR-dedup keeping one deterministic row per duplicate
    CLUSTER: MinHash-LSH candidates -> exact-Jaccard verify -> connected
    components -> the (conv_id, turn_idx)-minimal turn per cluster.  Built
    for the filter_job ``--dedup minhash`` stage; a strict superset of the
    exact stage (identical texts share every shingle, so they always land
    in one cluster).

    Scale shape: the pair pipeline is the guarded LSH operator (band
    equi-join + frequency cap -- never all-pairs); components iterate over
    the PAIR list only; and the dedup universe is DISTINCT texts keyed by
    the lower 60 bits of their md5 (the signature kernel's Arrow schema
    requires an int64 doc id), so turn multiplicity never inflates the
    LSH input.  A 60-bit collision merges two unrelated texts into one
    cluster and drops one of them -- odds ~N^2/2^61, i.e. ~4e5 wrongly
    dropped turns per 1e12 DISTINCT texts (error rate 4e-7, far below the
    LSH's own false-positive band) -- documented, not defended.  The
    final keeper election is one min-of-struct aggregate per cluster --
    partially aggregable, skew-immune (a viral text's million copies
    combine map-side)."""
    a, b = key_cols
    k = F.conv(
        F.substring(
            F.md5(F.coalesce(F.col(text_col), F.lit("\x00null"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    # the distinct-text universe: consumed by signatures, shingle verify,
    # and the component node list
    texts = (
        df.select(k.alias("doc_id"), F.col(text_col).alias("text"))
        .distinct()
        .transform(_cached)
    )
    pairs = dedup_minhash_lsh_df(texts, threshold=threshold)
    comp = dedup_components_df(texts.select("doc_id"), pairs)
    turns = df.withColumn("__k", k)
    clustered = turns.join(
        comp.select(F.col("doc_id").alias("__k"), "canonical_id"), "__k"
    )
    keepers = (
        clustered.select("canonical_id", F.struct(a, b).alias("__kt"))
        .groupBy("canonical_id")
        .agg(F.min("__kt").alias("__keep"))
        .select(F.col("canonical_id").alias("__kc"),
                F.col(f"__keep.{a}").alias("__ka"),
                F.col(f"__keep.{b}").alias("__kb"))
    )
    return (
        clustered.join(
            keepers,
            (clustered["canonical_id"] == keepers["__kc"])
            & (clustered[a] == keepers["__ka"])
            & (clustered[b] == keepers["__kb"]),
        )
        .drop("__k", "canonical_id", "__kc", "__ka", "__kb")
    )
