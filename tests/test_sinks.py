"""Bucketed-sorted output sink (sources/sinks.py): pay one hash-partition
at write time, then every downstream conv-level groupBy/join scans
shuffle-free.  The pins here are the 100 TB story: the bucketed scan
reports its HashPartitioning so Catalyst plans NO Exchange, while the
identical query over the plain parquet shuffles."""

import os

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _table_location(spark, table: str) -> str:
    row = (
        spark.sql(f"DESCRIBE FORMATTED {table}")
        .filter("col_name = 'Location'")
        .collect()[0]
    )
    return row["data_type"].replace("file:", "")


def _parquet_files(path: str) -> list[str]:
    return [
        os.path.join(r, f)
        for r, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]


def test_bucketed_sink_downstream_shuffle_free(spark, fixture_dir):
    from languagedetection_spark.sources.sinks import write_bucketed

    df = spark.read.parquet(os.path.join(fixture_dir, "transcripts.parquet"))
    write_bucketed(df, "turns_bucketed", n_buckets=8)
    t = spark.table("turns_bucketed")

    # lossless: same rows back through the catalog
    assert sorted(map(tuple, t.collect())) == sorted(map(tuple, df.collect()))

    # conv-level agg over the bucketed table: no Exchange anywhere in the
    # plan; the identical agg over plain parquet shuffles — that per-read
    # shuffle is exactly what the sink eliminates
    agg_b = t.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("turn_idx").alias("mx")
    )
    agg_p = df.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("turn_idx").alias("mx")
    )
    assert "Exchange" not in _plan(agg_b)
    assert "Exchange" in _plan(agg_p)
    assert sorted(map(tuple, agg_b.collect())) == sorted(
        map(tuple, agg_p.collect())
    )

    # bucketed x bucketed equi-join on the bucket key: co-located, so no
    # Exchange on either side (broadcast disabled to force the sort-merge
    # path a 100 TB x 100 TB join would take)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = t.select("conv_id", "turn_idx").join(
            spark.table("turns_bucketed").select(
                "conv_id", F.col("turn_idx").alias("t2")
            ),
            "conv_id",
        )
        assert "Exchange" not in _plan(j)
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # compact layout: the pre-write repartition aligns tasks with buckets,
    # so the table is at most one file per bucket (not tasks x buckets)
    files = _parquet_files(_table_location(spark, "turns_bucketed"))
    assert 1 <= len(files) <= 8

    # catalog carries the bucket spec (a path write would drop it)
    detail = spark.sql("DESCRIBE FORMATTED turns_bucketed").collect()
    kv = {r["col_name"]: r["data_type"] for r in detail}
    assert kv.get("Num Buckets") == "8"
    assert "conv_id" in kv.get("Bucket Columns", "")
    assert "turn_idx" in kv.get("Sort Columns", "")


def test_bucketed_sink_files_per_bucket_split(spark, fixture_dir):
    """files_per_bucket=2 splits writer tasks without breaking bucket
    membership: file count stays bounded by n_buckets * files_per_bucket
    and the downstream agg is still shuffle-free (multiple files per
    bucket are merged into one scan partition per bucket)."""
    from languagedetection_spark.sources.sinks import write_bucketed

    df = spark.read.parquet(os.path.join(fixture_dir, "transcripts.parquet"))
    write_bucketed(df, "turns_bucketed_split", n_buckets=4,
                   files_per_bucket=2)
    t = spark.table("turns_bucketed_split")
    assert t.count() == df.count()
    files = _parquet_files(_table_location(spark, "turns_bucketed_split"))
    assert 1 <= len(files) <= 8
    agg = t.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"))
    assert "Exchange" not in _plan(agg)
