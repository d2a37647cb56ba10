"""Near-dup and decontamination operators (operators/dedup.py): connected
components, the on-by-default candidate guards that bound quadratic
blowup at scale, the Bloom probe's no-false-negative guarantee and the
``--dedup minhash`` keep-first stage."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_components_transitive_closure(spark):
    """Min-label propagation must produce the transitive closure: chain
    1-2, 2-3 merges into one cluster; 4-5 separate; 6 singleton."""
    from languagedetection_spark.operators.dedup import dedup_components_df

    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: (r["canonical_id"], r["cluster_size"])
        for r in dedup_components_df(nodes, pairs).collect()
    }
    assert got == {
        1: (1, 3), 2: (1, 3), 3: (1, 3),
        4: (4, 2), 5: (4, 2),
        6: (6, 1),
    }


def test_components_deep_chain_converges(spark):
    """A 16-node path graph needs multiple propagation rounds (diameter
    15): the early-exit loop must still reach the fixpoint."""
    from languagedetection_spark.operators.dedup import dedup_components_df

    n = 16
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    got = dedup_components_df(nodes, pairs).collect()
    assert all(r["canonical_id"] == 0 and r["cluster_size"] == n
               for r in got)
    assert len(got) == n


def test_components_ignore_unknown_pair_ids(spark):
    """Pairs referencing docs absent from the node set must not leak
    phantom ids into the output (nor merge through them)."""
    from languagedetection_spark.operators.dedup import dedup_components_df

    nodes = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 99), (99, 3)],  # 99 is not a node
        "doc_a long, doc_b long",
    )
    got = {
        r["doc_id"]: (r["canonical_id"], r["cluster_size"])
        for r in dedup_components_df(nodes, pairs).collect()
    }
    assert got == {1: (1, 2), 2: (1, 2), 3: (3, 1)}


def test_default_guard_is_on():
    import inspect

    from languagedetection_spark.operators.dedup import (
        MAX_SHINGLE_FREQ_DEFAULT,
        contamination_overlap_df,
    )

    default = inspect.signature(
        contamination_overlap_df
    ).parameters["max_shingle_freq"].default
    assert default == MAX_SHINGLE_FREQ_DEFAULT
    assert default is not None and default <= 1024


def test_band_freq_guard_bounds_exact_dup_crowds(spark):
    """VERDICT-r3 scale find: a crowd of f exact-duplicate texts shares
    EVERY band key, so the unguarded band join emits O(f^2) candidates
    (measured: minutes at local[8] on a 775k-turn corpus with generator
    duplicates).  With the default guard, a 2000-copy crowd produces NO
    candidate pairs from its over-full buckets (exact dedup owns exact
    crowds) while genuine near-dups below the cap are still caught."""
    import time

    import pyspark.sql.functions as F

    from languagedetection_spark.operators.dedup import dedup_minhash_lsh_df

    crowd_text = " ".join(f"w{i}" for i in range(30))
    # the near-dup pair uses a DISJOINT token universe so its band keys
    # cannot coincide with the crowd's over-full buckets
    near_a = " ".join(f"q{i}" for i in range(30))
    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"), F.lit(crowd_text).alias("text")
    ).unionAll(spark.createDataFrame(
        [(100000, near_a + " extra"), (100001, near_a + " other")],
        "doc_id long, text string",
    ))
    t0 = time.time()
    pairs = dedup_minhash_lsh_df(docs).collect()
    elapsed = time.time() - t0
    ids = {(r["doc_a"], r["doc_b"]) for r in pairs}
    # the crowd's own pairs are guarded away; the near-dup pair outside
    # the crowd survives (its buckets hold 2 docs)
    assert (100000, 100001) in ids
    assert not any(a < 2000 and b < 2000 for a, b in ids)
    assert elapsed < 60, elapsed


def test_band_freq_guard_off_restores_exhaustive(spark):
    """cap=None restores the unguarded behavior for small corpora."""
    import pyspark.sql.functions as F

    from languagedetection_spark.operators.dedup import dedup_minhash_lsh_df

    docs = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.lit("a b c d e f g h").alias("text"),
    )
    pairs = dedup_minhash_lsh_df(docs, max_band_freq=None).collect()
    assert len(pairs) == 45  # all 10-choose-2 exact-dup pairs
    guarded = dedup_minhash_lsh_df(docs, max_band_freq=5).collect()
    assert guarded == []


def test_bloom_decontaminate_no_false_negatives(spark):
    """The Bloom filter's defining guarantee: every doc the EXACT n-gram
    overlap flags (unguarded, same benchmark) is also flagged by the
    Bloom probe, with per-doc hit count >= the exact overlap count.
    False positives are allowed (and counted) -- false negatives never."""
    from pyspark.sql import functions as F

    from languagedetection_spark.operators.dedup import (
        bloom_decontaminate_df, contamination_overlap_df,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = d.filter("doc_id % 97 = 0").select(
        "doc_id",
        F.array_join(F.slice(F.split("text", " "), 5, 20), " ").alias("text"),
    )
    exact = {r["doc_id"]: r["n_overlap"]
             for r in contamination_overlap_df(
                 d, bench, min_overlap=2, max_shingle_freq=None).collect()}
    bloom = {r["doc_id"]: r["n_hit"]
             for r in bloom_decontaminate_df(
                 d, bench, min_overlap=2).collect()}
    missing = [i for i in exact if i not in bloom]
    assert not missing, f"false negatives: {missing}"
    low = [i for i in exact if bloom[i] < exact[i]]
    assert not low, f"bloom hit count below exact overlap: {low}"


def test_minhash_keep_first_clusters_near_and_exact(spark):
    """The --dedup minhash stage: exact copies AND near-dups (one word
    changed) collapse into one cluster keeping the (conv_id, turn_idx)-
    minimal turn; unrelated and NULL texts survive as singletons.  The
    md5-based signatures are deterministic, so this planted fixture's
    candidacy is a fixed fact, not a probabilistic one."""
    from languagedetection_spark.operators.dedup import (
        dedup_minhash_keep_first,
    )

    base = " ".join(f"w{i}" for i in range(20))
    near = base.rsplit(" ", 1)[0] + " zz"     # J = 17/19 on 3-shingles
    uniq = " ".join(f"u{i}" for i in range(20))
    rows = [("c1", 0, base), ("c2", 3, near), ("c2", 1, base),
            ("c3", 0, uniq), ("c4", 5, None)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string")
    kept = sorted(
        (r["conv_id"], r["turn_idx"])
        for r in dedup_minhash_keep_first(df, threshold=0.8).collect()
    )
    assert kept == [("c1", 0), ("c3", 0), ("c4", 5)]
    # schema passes through untouched (scoring runs on the survivors)
    out_cols = dedup_minhash_keep_first(df, threshold=0.8).columns
    assert out_cols == ["conv_id", "turn_idx", "text"]
