"""Tests for the MinHash signature kernel and its LSH verification.

md5 is the only MinHash hash family: one md5 per distinct shingle, an
affine family over the digest's lower 64 bits, computed in an Arrow+numpy
kernel.  It is bit-reproducible in DuckDB via md5_number_lower, so the
contract oracle checks the same path ``filter_job --dedup minhash`` runs.
Candidates come from LSH banding; what a caller sees is the verified
near-dup pairs, whose Jaccard is exact over the shingle sets.
"""


def test_native_signature_shape_and_short_doc_gate(spark):
    """k-length signature per doc with >= 3 tokens; shorter docs emit an
    empty signature (Spark's sequence(1, 0) descends, so they must be
    gated, not shingled)."""
    from languagedetection_spark.operators.dedup import (
        MINHASH_K,
        MINHASH_P,
        minhash_signatures_df,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    md5 = {r["doc_id"]: r["sig"]
           for r in minhash_signatures_df(docs)
           .filter("size(sig) > 0").collect()}
    assert set(md5) == {1}
    assert len(md5[1]) == MINHASH_K
    assert all(0 <= v < MINHASH_P for v in md5[1])


def test_hash_families_share_verification(spark):
    """A doc pair sharing most shingles is found with its exact Jaccard;
    an unrelated doc pairs with neither."""
    from languagedetection_spark.operators.dedup import dedup_minhash_lsh_df

    # 40 shared tokens with one trailing edit -> 38 of 39+39 shingles
    # shared, J ~= 0.95: well above the 3x4 banding S-curve knee
    base = " ".join(f"tok{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, base + " lambda"), (2, base + " omicron"),
         (3, "completely different text with unrelated words here")],
        "doc_id long, text string",
    )
    md5 = dedup_minhash_lsh_df(docs).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in md5] == [(1, 2)]
    assert md5[0]["jaccard"] == round(38 / 40, 4)
