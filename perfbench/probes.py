"""Layer probes for the traced run.

``kernel_breakdown`` runs in the calling process: one core, no Spark, the
job's default model, Arrow-batch-sized slices of the workload input.  It
also sizes the Arrow IPC stream the job's ``mapInPandas`` moves per turn.

Run as a script, this module times nested plans over the workload input on
a session from ``get_spark`` (configured as the job's), each to a ``noop``
sink, and two layer probes the batch job does not reach on its own:

    python3 perfbench/probes.py --input DIR --stream-input DIR \\
        --work DIR --out probes.json

* scan: ``read_transcripts``; identity ``mapInPandas`` over the same
  columns (the Arrow round trip); warm and first ``quality_filter`` plans;
  ``dedup_exact_keep_first``;
* stream: ``stream_transcripts`` -> ``streaming_quality_filter`` ->
  ``run_to_parquet`` over a directory of files, with per-trigger progress;
* resume: ``run_with_checkpoint`` stopped after half the buckets, then
  resumed on the same checkpoint, counting buckets run twice.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

BATCH_ROWS = 10_000   # spark.sql.execution.arrow.maxRecordsPerBatch in get_spark
KERNEL_ROWS = 10_000  # turns the in-process kernel breakdown scores: one batch


def _ipc_bytes(table) -> int:
    import pyarrow as pa

    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table, max_chunksize=BATCH_ROWS)
    return sink.getvalue().size


def kernel_breakdown(table) -> dict:
    """Per-stage kernel seconds on a fresh model per pass, so every pass
    starts with empty token memos, as a fresh Python worker does.  *table*
    is the workload input (pyarrow)."""
    import pickle

    import pyarrow as pa

    from languagedetection_spark.jobs.filter_job import build_model

    table = table.slice(0, KERNEL_ROWS)
    texts = table.column("text").to_pylist()
    model = build_model(None, None)
    blob = pickle.dumps(model, protocol=pickle.HIGHEST_PROTOCOL)

    def fresh():
        return pickle.loads(blob)

    m = fresh()
    decided = []
    t0 = time.perf_counter()
    for i in range(0, len(texts), BATCH_ROWS):
        decided.append(m.decide_batch(texts[i:i + BATCH_ROWS]))
    batch_s = time.perf_counter() - t0
    # what mapInPandas moves: the job's columns to the worker, and those
    # columns plus the six decision columns back
    returned = table
    for col in decided[0].columns:
        returned = returned.append_column(col, pa.concat_arrays(
            [pa.array(d[col]) for d in decided]))

    m = fresh()
    decide_s = 0.0
    for t in texts:
        t0 = time.perf_counter()
        m.decide(t)
        decide_s += time.perf_counter() - t0

    m = fresh()
    scrub_s = classify_s = ppl_s = 0.0
    rewritten = 0
    for t in texts:
        t0 = time.perf_counter()
        s = m.scrub(t)
        t1 = time.perf_counter()
        lang, _conf = m.classify_text(t)
        t2 = time.perf_counter()
        m.perplexity(t, lang)
        t3 = time.perf_counter()
        scrub_s += t1 - t0
        classify_s += t2 - t1
        ppl_s += t3 - t2
        rewritten += s != t

    tokens = [tok for t in texts for tok in t.lower().split()]
    return {
        "kernel.turns_per_s": len(texts) / batch_s,
        "kernel.scrub_s": scrub_s,
        "kernel.classify_s": classify_s,
        "kernel.perplexity_s": ppl_s,
        "kernel.heuristics_s": decide_s - scrub_s - classify_s - ppl_s,
        "kernel.glue_s": batch_s - decide_s,
        "kernel.scrub_rewrite_ratio": rewritten / len(texts),
        "kernel.distinct_text_ratio": len(set(texts)) / len(texts),
        "kernel.distinct_token_ratio": len(set(tokens)) / max(1, len(tokens)),
        "model.pickle_bytes": len(blob),
        "arrow.bytes_per_turn":
            (_ipc_bytes(table) + _ipc_bytes(returned)) / len(texts),
    }


def _noop_seconds(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _median_noop(df, n: int) -> float:
    return statistics.median(_noop_seconds(df) for _ in range(n))


def scan_probes(spark, bc, path: str) -> dict:
    from languagedetection_spark.operators.dedup import dedup_exact_keep_first
    from languagedetection_spark.operators.quality_filter import quality_filter
    from languagedetection_spark.sources.readers import read_transcripts

    df = read_transcripts(spark, path)
    turns = df.count()
    scan_s = _median_noop(df, 3)
    # the first plan that starts Python workers in this session, then warm
    cold_s = _noop_seconds(quality_filter(df, bc))
    warm_s = _median_noop(quality_filter(df, bc), 2)
    schema = df.schema
    identity_s = _median_noop(df.mapInPandas(lambda it: it, schema=schema), 2)
    deduped = dedup_exact_keep_first(df)
    dedup_s = _median_noop(deduped, 2)
    return {
        "scan.s": scan_s,
        "scan.splits": df.rdd.getNumPartitions(),
        "arrow.roundtrip_s": identity_s - scan_s,
        "udf.cold_penalty_s": cold_s - warm_s,
        "filter.turns_per_s": turns / warm_s,
        "dedup.s": dedup_s,
        "dedup.keep_ratio": deduped.count() / turns,
        "_turns": turns,
    }


def stream_probe(spark, bc, path: str, work: str, turns: int) -> dict:
    from pyspark.sql.streaming import readwriter

    from languagedetection_spark.streaming.pipeline import (
        run_to_parquet, stream_transcripts, streaming_quality_filter,
    )

    out, ckpt = os.path.join(work, "stream_out"), os.path.join(work, "stream_ckpt")
    queries = []
    real_start = readwriter.DataStreamWriter.start

    def start(self, *a, **kw):
        q = real_start(self, *a, **kw)
        queries.append(q)
        return q

    readwriter.DataStreamWriter.start = start
    try:
        run_to_parquet(streaming_quality_filter(stream_transcripts(spark, path), bc),
                       out, ckpt)
    finally:
        readwriter.DataStreamWriter.start = real_start
    progress = [p for q in queries for p in q.recentProgress]
    batches = [p for p in progress if p.numInputRows > 0]
    written = spark.read.parquet(out)
    n_rows = written.count()
    n_keys = written.select("conv_id", "turn_idx").distinct().count()
    return {
        "stream.batches": len(batches),
        "stream.add_batch_s": sum(p.durationMs.get("addBatch", 0)
                                  for p in progress) / 1000,
        "stream.trigger_s": sum(p.durationMs.get("triggerExecution", 0)
                                for p in progress) / 1000,
        "_stream_errors": abs(n_rows - turns) + (n_rows - n_keys),
    }


class _Injected(RuntimeError):
    pass


def resume_probe(spark, path: str, work: str, turns: int,
                 n_buckets: int = 8) -> dict:
    from languagedetection_spark.sources import checkpoint
    from languagedetection_spark.sources.readers import read_transcripts

    out, ckpt = os.path.join(work, "resume_out"), os.path.join(work, "resume_ckpt")
    df = read_transcripts(spark, path)
    calls = {"n": 0}

    def failing(part):
        calls["n"] += 1
        if calls["n"] > n_buckets // 2:
            raise _Injected
        return part

    try:
        checkpoint.run_with_checkpoint(spark, df, failing, out, ckpt, "probe",
                                       n_buckets=n_buckets)
    except _Injected:
        pass
    t0 = time.perf_counter()
    done = checkpoint.load_completed(spark, ckpt, "probe")
    load_s = time.perf_counter() - t0
    ran = checkpoint.run_with_checkpoint(spark, df, lambda part: part, out,
                                         ckpt, "probe", n_buckets=n_buckets)
    n_rows = spark.read.parquet(
        *[os.path.join(out, f"bucket={b}") for b in range(n_buckets)]
    ).count()
    return {
        "checkpoint.load_s": load_s,
        "checkpoint.rerun_buckets": len(set(ran) & done),
        "_resume_errors": abs(n_rows - turns)
        + abs(len(done) + len(ran) - n_buckets),
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--input", required=True)
    p.add_argument("--stream-input", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)

    from languagedetection_spark.functions.udfs import broadcast_model
    from languagedetection_spark.jobs.filter_job import build_model
    from languagedetection_spark.plans.session import get_spark

    shutil.rmtree(args.work, ignore_errors=True)
    os.makedirs(args.work)
    spark = get_spark(app_name="perfbench-probes")
    try:
        bc = broadcast_model(spark, build_model(spark, None))
        res = scan_probes(spark, bc, args.input)
        res.update(stream_probe(spark, bc, args.stream_input, args.work,
                                res["_turns"]))
        res.update(resume_probe(spark, args.input, args.work, res["_turns"]))
    finally:
        spark.stop()
    with open(args.out, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
