"""Per-partition checkpoint/resume with lineage (north_rule requirement).

The job splits its input into logical partitions (hash buckets of conv_id --
at production scale these are Iceberg partitions), processes each bucket
independently, and records one row per completed bucket in a ``_progress``
JSON-lines table (one atomically-renamed file per bucket):

    run_id, bucket, n_buckets, status, n_rows, n_kept, mean_lang_conf,
    n_no_lang, drop_reasons, model_fingerprint, input_path, finished_at

(the detector-confidence fields appear when the processed output carries
the quality-filter columns; a generic ``process`` gets counts only)

A re-run with the same checkpoint dir skips completed buckets (idempotent
resume after failure).  A row counts only under the bucket count it
records: under another count, bucket b holds other conversations, so a
re-run with a different ``n_buckets`` recomputes every bucket, and so do
rows without the field.  Each bucket's output is written to its own
subdirectory, so a partially-written bucket is simply overwritten on retry
(overwrite-by-partition idempotency).  The model fingerprint ties every
bucket's output to the exact broadcast artifact that produced it (lineage).
Up to ``defaultParallelism`` bucket writes run at once, each on its own
thread; the buckets are planned in order on the calling thread.

When more than one bucket is left to run, the input is first staged once
under the checkpoint dir, rebalanced on the bucket column and partitioned
by it:

    <checkpoint>/_staged/<run_id>/_bucket=<b>/part-*.parquet

so a bucket dir holds one file, or one per advisory partition size when
the bucket is large, and each bucket reads only its own dir.  The staging
is recorded in its own ``_progress`` row (``<run_id>-staged.json``:
run_id, status "staged", n_buckets, path, finished_at), so a resume with
the same bucket count reuses the staged files; the staged dir is deleted
once every bucket is done.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.util import inheritable_thread_target

from ..refmodel.quality import DROP_REASONS


def model_fingerprint(model) -> str:
    """Content fingerprint over a CANONICAL serialization.  (Pickle bytes are
    identity-sensitive: shared interned strings memoize into backreferences,
    so two equal-content models can pickle differently -- verified when a
    JSON round-trip changed the pickle. sort_keys JSON is stable.)"""
    state = model.__getstate__() if hasattr(model, "__getstate__") else model
    blob = json.dumps(state, sort_keys=True, ensure_ascii=False)
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()[:16]


def _progress_path(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, "_progress")


def _staging_path(checkpoint_dir: str, run_id: str) -> str:
    return os.path.join(checkpoint_dir, "_staged", run_id)


def _progress_rows(checkpoint_dir: str) -> list[dict]:
    """Every committed ``_progress`` row.  Only a missing table means
    nothing is recorded: an unreadable row raises, because skipping it
    would silently recompute (or restage) what it records.  ``*.tmp``
    files are commits a crash cut short, and are not rows."""
    path = _progress_path(checkpoint_dir)
    if not os.path.exists(path):
        return []
    rows = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(path, name)) as f:
            text = f.read()
        try:
            rows.append(json.loads(text))
        except ValueError as e:
            raise ValueError(
                f"corrupt _progress row {os.path.join(path, name)}: {e}"
            ) from e
    return rows


def load_completed(spark: SparkSession, checkpoint_dir: str, run_id: str,
                   n_buckets: int | None = None) -> set[int]:
    """Buckets of *run_id* marked done; with *n_buckets*, only those done
    under that bucket count.  (The table is local JSON files; *spark* is
    not needed to read it.)"""
    return {r["bucket"] for r in _progress_rows(checkpoint_dir)
            if r["run_id"] == run_id and r["status"] == "done"
            and (n_buckets is None or r.get("n_buckets") == n_buckets)}


def _write_row(checkpoint_dir: str, name: str, row: dict) -> None:
    """Write one JSON line atomically (rename) -- crash-safe bookkeeping."""
    path = _progress_path(checkpoint_dir)
    os.makedirs(path, exist_ok=True)
    final = os.path.join(path, name)
    tmp = final + ".tmp"
    with open(tmp, "w") as f:
        f.write(json.dumps(row) + "\n")
    os.replace(tmp, final)


def record_done(checkpoint_dir: str, run_id: str, bucket: int,
                metrics: dict) -> None:
    _write_row(checkpoint_dir, f"{run_id}-{bucket}.json",
               {"run_id": run_id, "bucket": bucket, "status": "done",
                "finished_at": time.time(), **metrics})


def _staged_input(bucketed: DataFrame, checkpoint_dir: str, run_id: str,
                  n_buckets: int, n_todo: int) -> DataFrame:
    """*bucketed* read back from its staged copy, partitioned by
    ``_bucket``.  Staged files of this run and bucket count are reused; if
    there are none, they are written now when more than one bucket is left
    to run, and otherwise *bucketed* itself is returned."""
    path = _staging_path(checkpoint_dir, run_id)
    row_name = f"{run_id}-staged.json"
    staged = next((r for r in _progress_rows(checkpoint_dir)
                   if r["run_id"] == run_id and r["status"] == "staged"),
                  None)
    if not (staged and staged["n_buckets"] == n_buckets
            and os.path.isdir(path)):
        if n_todo <= 1:
            return bucketed
        # the row goes first and comes back last, so a row always names
        # a complete write
        row_path = os.path.join(_progress_path(checkpoint_dir), row_name)
        if os.path.exists(row_path):
            os.remove(row_path)
        # the rebalance gives each bucket dir one file, or several when the
        # bucket is larger than AQE's advisory partition size, instead of
        # one per scan task (each file is a split, so a Python task)
        (bucketed.hint("rebalance", "_bucket").write.mode("overwrite")
         .partitionBy("_bucket").parquet(path))
        _write_row(checkpoint_dir, row_name,
                   {"run_id": run_id, "status": "staged",
                    "n_buckets": n_buckets, "path": path,
                    "finished_at": time.time()})
    return bucketed.sparkSession.read.schema(bucketed.schema).parquet(path)


def _observe_lineage(out: DataFrame) -> tuple[DataFrame, Observation]:
    """*out* with the lineage aggregates attached, to be collected by the
    action that writes it.  Columns are optional -- a non-filter
    ``process`` (e.g. the resume unit test's length flag) still gets
    n_rows/n_kept; the real quality_filter output gets the full set."""
    cols = set(out.columns)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if "keep" in cols:
        aggs.append(F.count_if(F.col("keep")).alias("n_kept"))
    if "lang_conf" in cols:
        # avg ignores NULLs (abstained turns); 6 dp keeps the JSON stable
        aggs.append(F.round(F.avg("lang_conf"), 6).alias("mean_lang_conf"))
    if "lang" in cols:
        aggs.append(F.count_if(F.col("lang").isNull()).alias("n_no_lang"))
    if "drop_reason" in cols:
        reason = F.col("drop_reason")
        aggs += [F.count_if(reason == r).alias(r) for r in DROP_REASONS]
        aggs.append(F.count_if(~reason.isin(*DROP_REASONS))
                    .alias("_unknown_reasons"))
    obs = Observation()
    return out.observe(obs, *aggs), obs


def _bucket_metrics(obs: Observation, columns: list[str]) -> dict:
    """The lineage metrics of a bucket, as observed by its write: row/keep
    counts plus the detector-confidence metrics the north_rule asks for
    (mean winner confidence, abstention count, drop-reason histogram)."""
    stats = obs.get
    metrics = {"n_rows": stats["n_rows"], "n_kept": stats.get("n_kept")}
    if "lang_conf" in columns:
        metrics["mean_lang_conf"] = stats["mean_lang_conf"]
    if "lang" in columns:
        metrics["n_no_lang"] = stats["n_no_lang"]
    if "drop_reason" in columns:
        if stats["_unknown_reasons"]:
            raise ValueError(
                f"{stats['_unknown_reasons']} rows carry a drop_reason "
                f"outside {DROP_REASONS}"
            )
        metrics["drop_reasons"] = {r: stats[r] for r in DROP_REASONS
                                   if stats[r]}
    return metrics


def _inheriting(spark: SparkSession, fn):
    """*fn*, to run on another thread with this thread's job group, local
    properties and tags as they are now."""
    wrap = inheritable_thread_target(spark)
    # with unpinned threads (PYSPARK_PIN_THREAD=false) there is no thread
    # state to carry over, and PySpark hands the session itself back
    return fn if wrap is spark else wrap(fn)


def run_with_checkpoint(
    spark: SparkSession,
    df: DataFrame,
    process,                      # DataFrame -> DataFrame
    output_dir: str,
    checkpoint_dir: str,
    run_id: str,
    n_buckets: int = 16,
    key: str = "conv_id",
    extra_lineage: dict | None = None,
) -> list[int]:
    """Process ``df`` bucket by bucket, with up to ``defaultParallelism``
    bucket writes in flight, and resume.  Returns the buckets processed in
    THIS invocation (completed ones are skipped), sorted.

    Buckets are ``crc32(key) % n_buckets`` so membership is stable across
    runs and engines.  With more than one bucket to run, ``df`` is
    evaluated once, into the staged copy (see the module docstring), and
    each bucket's filter prunes that copy by partition.

    ``process`` is called on the calling thread, in bucket order, when a
    write slot is free; each bucket's write, lineage and ``_progress`` row
    run on a pool thread.  On the first error, from ``process`` or from a
    write, no further bucket is planned: the running writes finish and
    commit, then the error is raised (of several failed writes, the lowest
    bucket's)."""
    done = load_completed(spark, checkpoint_dir, run_id, n_buckets)
    todo = [b for b in range(n_buckets) if b not in done]
    bucketed = df.withColumn(
        "_bucket", F.crc32(F.col(key).cast("string")) % n_buckets
    )
    source = _staged_input(bucketed, checkpoint_dir, run_id, n_buckets,
                           len(todo))

    def write(b: int, out: DataFrame, obs: Observation) -> int:
        dest = os.path.join(output_dir, f"bucket={b}")
        out.write.mode("overwrite").parquet(dest)
        record_done(
            checkpoint_dir, run_id, b,
            {"n_buckets": n_buckets, **_bucket_metrics(obs, out.columns),
             "output": dest, **(extra_lineage or {})},
        )
        return b

    slots = max(1, min(len(todo), spark.sparkContext.defaultParallelism))
    writes, running = [], set()
    with ThreadPoolExecutor(max_workers=slots) as pool:
        for b in todo:
            if len(running) == slots:
                wait(running, return_when=FIRST_COMPLETED)
            finished = {w for w in running if w.done()}
            running -= finished
            if any(w.exception() for w in finished):
                break
            part = source.filter(F.col("_bucket") == b).drop("_bucket")
            out, obs = _observe_lineage(process(part))
            w = pool.submit(_inheriting(spark, write), b, out, obs)
            writes.append(w)
            running.add(w)
    processed = [w.result() for w in writes]
    shutil.rmtree(_staging_path(checkpoint_dir, run_id), ignore_errors=True)
    return processed
