"""Bucketed-sorted output sink: the downstream-shuffle eliminator.

At 100 TB the filter's output is re-read many times by conversation-level
consumers (conv rollups, turn-order reassembly, conv×conv joins against
other runs' outputs).  Writing the kept turns as a Spark bucketed table —
``bucketBy(n, conv_id)`` + ``sortBy(conv_id, turn_idx)`` — pays one
hash-partition at write time and then EVERY downstream groupBy/join on
``conv_id`` scans shuffle-free: the bucketed scan reports
``HashPartitioning(conv_id, n)`` so Catalyst plans no Exchange (pinned in
tests/test_sinks.py), and the per-bucket ``(conv_id, turn_idx)`` sort is
exactly the north_rule's stable turn ordering, persisted.

This is the Spark-native analog of the reference repo's implicit "results
live in driver memory, iteration is free" model (Demo.scala drives repeat
passes over ``TestResult``): here repeat passes are cluster re-reads, so
the layout — not a resident object — is what makes them cheap.

Two write-path notes that matter at scale:

- **File count.**  A naive bucketed write emits one file per (task ×
  bucket) — up to ``tasks × n_buckets`` small files.  ``write_bucketed``
  first repartitions by the bucket column into ``n_buckets`` partitions;
  Spark's ``repartition(n, col)`` and ``bucketBy(n, col)`` use the same
  Murmur3 hash, so each task holds exactly one bucket's rows and the
  table lands as one file per bucket (verified in the test).  For
  multi-TB buckets, raise ``files_per_bucket`` to split each bucket
  across k files (hashing on a salt WITHIN the bucket keeps bucket
  membership intact — Spark only requires that every file in a bucket
  hash-belongs to it).  Trade-off: Spark trusts the persisted sortBy
  metadata only when a bucket is ONE file, so with k > 1 the layout
  stays shuffle-free but downstream sort consumers re-sort (each file
  is still internally sorted; the Exchange, the expensive part, is
  still eliminated — pinned in the split test).
- **Catalog, not path.**  Bucketing metadata lives in the table catalog
  (``saveAsTable``); a bare ``.parquet(path)`` write silently drops it,
  and a path read ignores it: read the table back with ``spark.table``.
  On a cluster this is the Hive/Iceberg metastore; locally it's the
  session warehouse.  (Iceberg's own bucket partition transform is the
  same idea via ``plans.session.iceberg_conf`` once the runtime jar is
  present.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    n_buckets: int = 32,
    bucket_col: str = "conv_id",
    sort_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    files_per_bucket: int = 1,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a bucketed + per-bucket-sorted parquet table.

    ``files_per_bucket > 1`` additionally splits each bucket across k
    writer tasks (repartition on (bucket_col, salt)) for buckets too big
    for one task; bucket membership is unaffected."""
    if files_per_bucket <= 1:
        staged = df.repartition(n_buckets, F.col(bucket_col))
    else:
        # partition on (bucket_id, salt) — NOT the raw column — so each
        # writer task holds only whole (bucket, salt) groups and the file
        # count stays ~n_buckets * files_per_bucket.  F.hash is Murmur3
        # seed 42, the same family bucketBy's file assignment uses, so
        # bucket_id here is the bucket the row will land in.
        bucket_id = F.pmod(F.hash(F.col(bucket_col)), F.lit(n_buckets))
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in sort_cols]),
            F.lit(files_per_bucket),
        )
        staged = df.repartition(
            n_buckets * files_per_bucket, bucket_id, salt
        )
    (
        staged.write.format("parquet")
        .mode(mode)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(*sort_cols)
        .saveAsTable(table)
    )
