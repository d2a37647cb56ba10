"""spark-submit entry point for the quality-filter job.

    spark-submit --py-files languagedetection_spark.zip \\
        -m languagedetection_spark.jobs.filter_job \\
        --input /path/transcripts.parquet --output /path/out \\
        --checkpoint /path/ckpt [--corpus /path/labeled.parquet] \\
        [--buckets 16] [--run-id r1] [--master local[8]]

Reads transcripts (Parquet path or Iceberg identifier), builds/loads the
frozen model, and processes per-conv_id hash buckets with checkpoint/resume
and per-bucket lineage (sources/checkpoint.py).  With more than one bucket
to run, the input (deduped, with --dedup) is staged once under --checkpoint,
rebalanced and partitioned by bucket, and each bucket reads only its own
partition; up to defaultParallelism bucket writes run at once, and the
lineage metrics are observed on each bucket's write.  Killing the job
mid-run and re-submitting with the same --checkpoint/--run-id resumes
exactly where it stopped, reusing the staged input; completed buckets are
never recomputed.  The last line on stdout is one JSON summary.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def build_model(spark, corpus_path: str | None):
    from ..fixtures.generate import gen_labeled_corpus
    from ..functions.kernels import FilterModel

    if corpus_path:
        # distributed build: the corpus is never collected -- only the
        # model-sized vocab/trigram aggregates reach the driver, so an
        # arbitrarily large labeled corpus works (bit-identical to
        # FilterModel.from_corpus, pinned in tests/test_training_fold.py)
        from ..operators.training import build_model_distributed

        corpus = spark.read.parquet(corpus_path).select("language", "text")
        return build_model_distributed(spark, corpus)
    rows = [(lang, text) for text, lang, _ in gen_labeled_corpus()]
    return FilterModel.from_corpus(rows)


def _norm_path(path: str) -> str:
    """Local path as Spark may qualify it: ``file:/x`` and ``/x`` match."""
    if path.startswith("file:"):
        path = path[len("file:"):]
    return os.path.realpath(path)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--corpus", default=None,
                   help="labeled corpus parquet (language, text); "
                        "default: the seed-42 fixture corpus")
    p.add_argument("--model-artifact", default=None,
                   help="load the frozen model from this artifact instead "
                        "of training from --corpus; if the file does not "
                        "exist, the trained model is saved there")
    p.add_argument("--buckets", type=int, default=16)
    p.add_argument("--run-id", default="r1")
    p.add_argument("--master", default=None)
    p.add_argument("--conv-report", default=None,
                   help="also write the conversation-level rollup (keep "
                        "rate, dominant language, mean perplexity per "
                        "conv_id) to this parquet path, computed from the "
                        "completed per-turn output")
    p.add_argument("--dedup", choices=["exact", "minhash"], default=None,
                   help="corpus-wide dedup stage before scoring: 'exact' "
                        "keeps the (conv_id, turn_idx)-minimal turn per "
                        "distinct text; 'minhash' keeps it per NEAR-dup "
                        "cluster (LSH candidates, exact-Jaccard verify at "
                        "--dedup-threshold, connected components) -- a "
                        "strict superset of 'exact' (batch mode only; the "
                        "streaming mode's analogue is stateful "
                        "dropDuplicates)")
    p.add_argument("--dedup-threshold", type=float, default=None,
                   help="verified-Jaccard threshold in (0, 1] for --dedup "
                        "minhash (default 0.8)")
    p.add_argument("--bucketed-table", default=None,
                   help="after all buckets complete, additionally compact "
                        "the KEPT turns into a bucketed + per-bucket-"
                        "sorted catalog table (bucketBy conv_id, sortBy "
                        "conv_id, turn_idx) so every downstream conv-"
                        "level join/agg scans shuffle-free "
                        "(sources/sinks.py); batch mode only")
    p.add_argument("--warehouse-dir", default=None,
                   help="spark.sql.warehouse.dir for --bucketed-table "
                        "(default: Spark's default warehouse)")
    p.add_argument("--streaming", action="store_true",
                   help="consume --input as a file stream (availableNow "
                        "trigger): parquet sink + streaming checkpoint "
                        "gives exactly-once restarts instead of the "
                        "bucketed batch writer")
    args = p.parse_args(argv)

    if args.conv_report:
        # the report is written with mode="overwrite": a target that
        # equals or contains --output or --checkpoint deletes the per-turn
        # output or the _progress/_staged rows, and one nested under
        # --output is re-ingested as input on a rerun -- reject any
        # overlap up-front in BOTH modes
        rep = _norm_path(args.conv_report)
        for flag, path in (("--output", args.output),
                           ("--checkpoint", args.checkpoint)):
            other = _norm_path(path)
            if os.path.commonpath([rep, other]) in (rep, other):
                p.error(f"--conv-report ({args.conv_report}) must not "
                        f"equal, contain or lie under {flag} ({path})")

    # mode-combination errors BEFORE any JVM spins up
    if args.buckets < 1:
        p.error("--buckets must be at least 1")
    if args.streaming and args.dedup:
        p.error("--dedup is a batch stage; streaming mode dedups via "
                "stateful dropDuplicates (see streaming_dedup)")
    if args.streaming and args.bucketed_table:
        p.error("--bucketed-table is a batch compaction stage; for a "
                "stream, run it as a separate batch job over the sink")
    if args.dedup != "minhash":
        if args.dedup_threshold is not None:
            p.error("--dedup-threshold applies only to --dedup minhash")
    elif args.dedup_threshold is None:
        args.dedup_threshold = 0.8
    elif not 0 < args.dedup_threshold <= 1:
        p.error(f"--dedup-threshold must be in (0, 1], got "
                f"{args.dedup_threshold}")

    from pyspark.sql import SparkSession

    from ..functions.udfs import broadcast_model
    from ..operators.quality_filter import quality_filter
    from ..plans.session import get_spark
    from ..sources.checkpoint import model_fingerprint, run_with_checkpoint
    from ..sources.readers import read_transcripts

    if args.warehouse_dir:
        # getOrCreate() silently ignores builder conf when a session
        # already exists in this process -- the bucketed table would land
        # in the WRONG warehouse while the job output claims success.  It
        # reuses the thread's active session, else the process default
        # one, so check both.
        existing = (SparkSession.getActiveSession()
                    or SparkSession._instantiatedSession)
        if existing is not None and existing._sc._jsc is not None:
            pinned = existing.conf.get("spark.sql.warehouse.dir")
            if _norm_path(pinned) != _norm_path(args.warehouse_dir):
                p.error("--warehouse-dir requires a fresh process: an "
                        "existing SparkSession already pins "
                        f"spark.sql.warehouse.dir to {pinned}")

    # the console progress bar is a build-time setting (changing it on a
    # running session raises CANNOT_MODIFY_CONFIG)
    conf = {"spark.ui.showConsoleProgress": "false"}
    if args.warehouse_dir:
        conf["spark.sql.warehouse.dir"] = args.warehouse_dir
    spark = get_spark(master=args.master, app_name="ld-filter-job",
                      extra_conf=conf)

    if args.model_artifact and os.path.exists(args.model_artifact):
        from ..model.artifacts import load_model

        model = load_model(args.model_artifact)
    else:
        model = build_model(spark, args.corpus)
        if args.model_artifact:
            from ..model.artifacts import save_model

            save_model(model, args.model_artifact)
    fp = model_fingerprint(model)
    bc = broadcast_model(spark, model)

    if args.streaming:
        from ..streaming.pipeline import (
            run_to_parquet,
            stream_transcripts,
            streaming_quality_filter,
        )

        stream = stream_transcripts(spark, args.input)
        run_to_parquet(
            streaming_quality_filter(stream, bc), args.output,
            os.path.join(args.checkpoint, "stream"),
        )
        out = {"run_id": args.run_id, "mode": "streaming",
               "model_fingerprint": fp}
        if args.conv_report:
            from ..operators.quality_filter import conv_report

            decided = spark.read.parquet(args.output)
            conv_report(decided).write.parquet(
                args.conv_report, mode="overwrite"
            )
            out["conv_report_rows"] = (
                spark.read.parquet(args.conv_report).count()
            )
        print(json.dumps(out))
        spark.stop()
        return 0

    df = read_transcripts(spark, args.input)
    if args.dedup == "exact":
        from ..operators.dedup import dedup_exact_keep_first

        df = dedup_exact_keep_first(df)
    elif args.dedup == "minhash":
        from ..operators.dedup import dedup_minhash_keep_first

        df = dedup_minhash_keep_first(df, threshold=args.dedup_threshold)

    processed = run_with_checkpoint(
        spark, df, lambda part: quality_filter(part, bc), args.output,
        args.checkpoint, args.run_id,
        n_buckets=args.buckets,
        extra_lineage={"model_fingerprint": fp, "input_path": args.input},
    )
    # THIS run's bucket dirs only (0..buckets-1), not a bare bucket=* glob:
    # a previous run on the same --output with a LARGER --buckets count
    # leaves stale bucket dirs beyond this run's range, and globbing them
    # in would duplicate every turn they hold (each turn is also in this
    # run's rewritten buckets).  Every one of them is marked done now, so
    # a missing dir means the output lost a bucket the checkpoint vouches
    # for: exporting the rest would silently drop its turns.
    this_run_dirs = [os.path.join(args.output, f"bucket={b}")
                     for b in range(args.buckets)]
    missing = [d for d in this_run_dirs if not os.path.isdir(d)]
    if missing:
        spark.stop()
        print(f"checkpoint {args.checkpoint} marks run {args.run_id!r} "
              f"done but its output is missing {missing}; delete the "
              f"checkpoint to recompute", file=sys.stderr)
        return 1
    out = {"run_id": args.run_id, "processed_buckets": processed,
           "model_fingerprint": fp}
    if args.conv_report:
        from ..operators.quality_filter import conv_report

        decided = spark.read.parquet(*this_run_dirs)
        conv_report(decided).write.parquet(args.conv_report, mode="overwrite")
        out["conv_report_rows"] = spark.read.parquet(args.conv_report).count()
    if args.bucketed_table:
        from ..operators.quality_filter import kept_turns
        from ..sources.sinks import write_bucketed

        decided = spark.read.parquet(*this_run_dirs)
        write_bucketed(
            kept_turns(decided), args.bucketed_table,
            n_buckets=args.buckets,
        )
        out["bucketed_table"] = args.bucketed_table
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
