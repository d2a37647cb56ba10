"""Structured Streaming face of the quality filter.

The reference has no streams (SURVEY §2 'Streaming: none'); the filter's
row-local decisions run unchanged on a stream.  This module provides:

* ``stream_transcripts``        -- readStream over a transcripts directory.
* ``streaming_quality_filter``  -- the SAME mapInPandas decision kernel
  (stateless row-local ops compose with streaming unchanged).
* ``streaming_lang_rates``      -- watermarked tumbling-window keep/drop
  rates per language (late data handled by the watermark).
* ``run_batch_to_memory``       -- test/demo driver: processAllAvailable
  against a memory sink.
"""

from __future__ import annotations

from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.kernels import FilterModel
from ..functions.udfs import with_decisions
from ..sources.readers import TRANSCRIPT_SCHEMA


def stream_transcripts(spark: SparkSession, path: str,
                       max_files_per_trigger: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_quality_filter(stream_df: DataFrame,
                             model: FilterModel | Broadcast) -> DataFrame:
    return with_decisions(stream_df, model)


def streaming_lang_rates(decided: DataFrame, watermark: str = "10 minutes",
                         window: str = "5 minutes") -> DataFrame:
    return (
        decided.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"),
                 F.coalesce("lang", F.lit("<none>")).alias("lang"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "lang", "n_turns", "n_kept",
        )
    )


def run_to_parquet(decided: DataFrame, output_dir: str,
                   checkpoint_dir: str) -> None:
    """PRODUCTION sink: parquet files + streaming checkpoint.

    ``availableNow`` drains everything currently in the source then stops
    (the modern incremental-batch pattern); the checkpoint makes restarts
    exactly-once -- re-running after success writes nothing new, and
    re-running after a crash resumes from the last committed offset.  The
    streaming twin of jobs/filter_job.py's bucketed batch writer (which
    covers the same need with explicit per-bucket lineage when the source
    is a static table)."""
    q = (
        decided.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_batch_to_memory(df: DataFrame, name: str,
                        output_mode: str = "append") -> None:
    """Drive a bounded stream to completion synchronously (tests/demos)."""
    q = (
        df.writeStream.format("memory").queryName(name)
        .outputMode(output_mode).start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
