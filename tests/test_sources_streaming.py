"""Tests for sources (regex-CSV scan, checkpoint/resume), streaming, and
the filter job."""

import os

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# op-1: regex CSV scan
# ---------------------------------------------------------------------------

def test_read_regex_csv(spark, tmp_path):
    from languagedetection_spark.sources.readers import read_regex_csv

    # multi-line texts, mixed-case names, one unknown name (dropped)
    csv = (
        "hello world\nsecond line,English\n"
        "bonjour,FRENCH\n"
        "mystery words,klingon\n"
        "siste rad,nynorsk\n"
    )
    p = tmp_path / "data.csv"
    p.write_text(csv, encoding="utf-8")
    rows = {
        (r["text"], r["language"])
        for r in read_regex_csv(spark, str(p)).collect()
    }
    langs = {l for _, l in rows}
    assert langs == {"english", "french", "nynorsk"}  # klingon dropped (op-2)
    # the regex is non-greedy up to the LAST comma-name pair per match;
    # multi-line text is preserved (Demo.scala:10 semantics)
    assert any("\n" in t for t, _ in rows)


def test_checkpoint_resume(spark, fixture_dir, tmp_path):
    from languagedetection_spark.sources.checkpoint import (
        load_completed, run_with_checkpoint,
    )

    df = spark.read.parquet(os.path.join(fixture_dir, "transcripts.parquet"))
    out1, ck = str(tmp_path / "out1"), str(tmp_path / "ck")

    def proc(part):
        return part.withColumn("keep", F.length("text") > 5)

    calls = {"n": 0}

    def failing(part):
        calls["n"] += 1
        if calls["n"] > 2:
            raise RuntimeError("boom")
        return proc(part)

    with pytest.raises(RuntimeError):
        run_with_checkpoint(spark, df, failing, out1, ck, "t1", n_buckets=4)
    assert load_completed(spark, ck, "t1") == {0, 1}

    done = run_with_checkpoint(spark, df, proc, out1, ck, "t1", n_buckets=4)
    assert done == [2, 3]
    # idempotent re-run
    assert run_with_checkpoint(spark, df, proc, out1, ck, "t1",
                               n_buckets=4) == []
    # resumed output == clean run output
    out2 = str(tmp_path / "out2")
    run_with_checkpoint(spark, df, proc, out2, str(tmp_path / "ck2"), "t1",
                        n_buckets=4)
    a = sorted(map(tuple, spark.read.parquet(out1 + "/bucket=*").collect()))
    b = sorted(map(tuple, spark.read.parquet(out2 + "/bucket=*").collect()))
    assert a == b and len(a) == df.count()


def _progress(ck):
    import glob
    import json

    rows = []
    for p in sorted(glob.glob(os.path.join(ck, "_progress", "*.json"))):
        with open(p) as f:
            rows.append(json.load(f))
    return rows


def _staged_files(ck, run_id):
    import glob

    return sorted(glob.glob(os.path.join(ck, "_staged", run_id, "*", "*")))


def test_checkpoint_bucket_plan_prunes_staged_input(spark, fixture_dir,
                                                    tmp_path):
    """The input (here deduped) is evaluated once, into the staged copy:
    each bucket's plan is a scan of that copy pruned to one ``_bucket``
    partition, with no dedup aggregate and no Exchange."""
    from languagedetection_spark.operators.dedup import dedup_exact_keep_first
    from languagedetection_spark.sources.checkpoint import run_with_checkpoint

    df = dedup_exact_keep_first(
        spark.read.parquet(os.path.join(fixture_dir, "transcripts.parquet")))
    assert "Aggregate" in df._jdf.queryExecution().executedPlan().toString()
    plans = []

    def proc(part):
        plans.append(part._jdf.queryExecution().executedPlan().toString())
        return part

    ck = str(tmp_path / "ck")
    run_with_checkpoint(spark, df, proc, str(tmp_path / "out"), ck, "p",
                        n_buckets=4)
    assert len(plans) == 4
    for b, plan in enumerate(plans):
        filters = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        assert "_bucket" in filters and f"= {b})" in filters, plan
        for op in ("Exchange", "Aggregate", "Join"):
            assert op not in plan, plan
    # staged once, recorded in its own row, deleted when all are done
    assert [r["n_buckets"] for r in _progress(ck)
            if r["status"] == "staged"] == [4]
    assert not os.path.exists(os.path.join(ck, "_staged", "p"))


def test_checkpoint_resume_reuses_staged_input(spark, fixture_dir, tmp_path):
    from languagedetection_spark.sources.checkpoint import run_with_checkpoint

    df = spark.read.parquet(os.path.join(fixture_dir, "transcripts.parquet"))
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    seen = []

    def failing(part):
        if len(seen) == 2:
            raise RuntimeError("boom")
        seen.append(_staged_files(ck, "r"))
        return part

    with pytest.raises(RuntimeError):
        run_with_checkpoint(spark, df, failing, out, ck, "r", n_buckets=4)
    staged = _staged_files(ck, "r")
    assert staged and seen == [staged, staged]
    rows = [r for r in _progress(ck) if r["status"] == "staged"]

    def resumed(part):
        seen.append(_staged_files(ck, "r"))
        return part

    assert run_with_checkpoint(spark, df, resumed, out, ck, "r",
                               n_buckets=4) == [2, 3]
    # the same files (part-file names carry the writing job's id): no
    # second staging write, and still exactly one staging row
    assert seen[2:] == [staged, staged]
    assert [r for r in _progress(ck) if r["status"] == "staged"] == rows
    assert not _staged_files(ck, "r")
    n = spark.read.parquet(*[f"{out}/bucket={b}" for b in range(4)]).count()
    assert n == df.count()


def test_checkpoint_restages_for_new_bucket_count(spark, fixture_dir,
                                                  tmp_path):
    """A staged copy is keyed by run id AND bucket count: a rerun with a
    different --buckets restages instead of reading the old buckets."""
    from languagedetection_spark.sources.checkpoint import run_with_checkpoint

    df = spark.read.parquet(os.path.join(fixture_dir, "transcripts.parquet"))
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def failing(part):
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        run_with_checkpoint(spark, df, failing, out, ck, "r", n_buckets=4)
    first = _staged_files(ck, "r")
    assert {os.path.basename(os.path.dirname(p)) for p in first} == {
        f"_bucket={b}" for b in range(4)}
    seen = []

    def proc(part):
        seen.append(_staged_files(ck, "r"))
        return part

    assert run_with_checkpoint(spark, df, proc, out, ck, "r",
                               n_buckets=2) == [0, 1]
    assert {os.path.basename(os.path.dirname(p)) for p in seen[0]} == {
        "_bucket=0", "_bucket=1"}
    assert not set(seen[0]) & set(first)
    assert [r["n_buckets"] for r in _progress(ck)
            if r["status"] == "staged"] == [2]
    n = spark.read.parquet(f"{out}/bucket=0", f"{out}/bucket=1").count()
    assert n == df.count()


def test_checkpoint_rerun_with_fewer_buckets_recomputes_all(
        spark, fixture_dir, tmp_path):
    """Buckets done under one bucket count are not done under another:
    a 4-bucket run that finished buckets 0 and 1, rerun with 2 buckets,
    recomputes both, and its output equals a clean 2-bucket run."""
    from languagedetection_spark.sources.checkpoint import (
        load_completed, run_with_checkpoint,
    )

    df = spark.read.parquet(os.path.join(fixture_dir, "transcripts.parquet"))
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    calls = {"n": 0}

    def failing(part):
        calls["n"] += 1
        if calls["n"] == 3:
            raise RuntimeError("boom")
        return part

    with pytest.raises(RuntimeError, match="boom"):
        run_with_checkpoint(spark, df, failing, out, ck, "r", n_buckets=4)
    assert load_completed(spark, ck, "r") == {0, 1}
    assert load_completed(spark, ck, "r", 4) == {0, 1}
    assert load_completed(spark, ck, "r", 2) == set()
    assert run_with_checkpoint(spark, df, lambda part: part, out, ck, "r",
                               n_buckets=2) == [0, 1]
    clean = str(tmp_path / "clean")
    run_with_checkpoint(spark, df, lambda part: part, clean,
                        str(tmp_path / "ck2"), "r", n_buckets=2)
    for b in (0, 1):
        got = spark.read.parquet(f"{out}/bucket={b}").collect()
        want = spark.read.parquet(f"{clean}/bucket={b}").collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want)), b
    n = spark.read.parquet(f"{out}/bucket=0", f"{out}/bucket=1").count()
    assert n == df.count()


def test_checkpoint_single_bucket_left_is_not_staged(spark, fixture_dir,
                                                     tmp_path):
    """--buckets 1, and a resume with one bucket left, write no staged
    copy: the one bucket reads the input directly."""
    from languagedetection_spark.sources.checkpoint import run_with_checkpoint

    df = spark.read.parquet(os.path.join(fixture_dir, "transcripts.parquet"))
    ck = str(tmp_path / "ck")
    run_with_checkpoint(spark, df, lambda part: part, str(tmp_path / "out"),
                        ck, "one", n_buckets=1)
    assert [r["status"] for r in _progress(ck)] == ["done"]
    assert not os.path.exists(os.path.join(ck, "_staged"))


def test_checkpoint_process_error_lets_running_writes_commit(
        spark, fixture_dir, tmp_path):
    """``process`` failing on bucket 6 of 8 plans no further bucket; the
    writes already running (buckets 0-5) finish and commit, and a resume
    runs exactly the rest."""
    from languagedetection_spark.sources.checkpoint import (
        load_completed, run_with_checkpoint,
    )

    df = spark.read.parquet(os.path.join(fixture_dir, "transcripts.parquet"))
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    calls = {"n": 0}

    def failing(part):
        calls["n"] += 1
        if calls["n"] == 7:
            raise RuntimeError("boom")
        return part

    with pytest.raises(RuntimeError, match="boom"):
        run_with_checkpoint(spark, df, failing, out, ck, "a", n_buckets=8)
    assert calls["n"] == 7
    assert load_completed(spark, ck, "a") == set(range(6))
    assert run_with_checkpoint(spark, df, lambda part: part, out, ck, "a",
                               n_buckets=8) == [6, 7]
    clean = str(tmp_path / "clean")
    run_with_checkpoint(spark, df, lambda part: part, clean,
                        str(tmp_path / "ck2"), "a", n_buckets=8)
    a = sorted(map(tuple, spark.read.parquet(out + "/bucket=*").collect()))
    b = sorted(map(tuple, spark.read.parquet(clean + "/bucket=*").collect()))
    assert a == b and len(a) == df.count()


def test_checkpoint_write_error_marks_no_row(spark, fixture_dir, tmp_path):
    """A bucket whose write fails raises out of the run and gets no
    ``_progress`` row; every bucket marked done has its output dir, and a
    resume runs exactly the buckets not marked done."""
    from languagedetection_spark.sources.checkpoint import (
        load_completed, run_with_checkpoint,
    )

    df = spark.read.parquet(os.path.join(fixture_dir, "transcripts.parquet"))
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    calls = {"n": 0}

    def broken(batches):
        for _ in batches:
            raise ValueError("bucket 3 write failed")
        yield from ()

    def failing(part):
        calls["n"] += 1
        if calls["n"] == 4:  # bucket 3
            return part.mapInPandas(broken, part.schema)
        return part

    with pytest.raises(Exception, match="bucket 3 write failed"):
        run_with_checkpoint(spark, df, failing, out, ck, "w", n_buckets=8)
    done = load_completed(spark, ck, "w")
    assert 3 not in done
    assert not os.path.exists(os.path.join(ck, "_progress", "w-3.json"))
    for b in done:
        assert os.path.isdir(os.path.join(out, f"bucket={b}"))
    rest = sorted(set(range(8)) - done)
    assert run_with_checkpoint(spark, df, lambda part: part, out, ck, "w",
                               n_buckets=8) == rest
    n = spark.read.parquet(*[f"{out}/bucket={b}" for b in range(8)]).count()
    assert n == df.count()


def test_checkpoint_bucket_writes_overlap(spark, fixture_dir, tmp_path):
    """Bucket writes run side by side: with a slow Python map, at least
    two buckets' tasks are in flight at the same time."""
    import glob
    import time

    from languagedetection_spark.sources.checkpoint import run_with_checkpoint

    df = spark.read.parquet(os.path.join(fixture_dir, "transcripts.parquet"))
    log = tmp_path / "log"
    log.mkdir()
    calls = {"n": 0}

    def proc(part):
        b = calls["n"]
        calls["n"] += 1

        def slow(batches):
            start = time.time()
            rows = list(batches)
            time.sleep(0.3)
            with open(os.path.join(str(log), f"{b}-{start}"), "w") as f:
                f.write(f"{b} {start} {time.time()}\n")
            yield from rows

        return part.mapInPandas(slow, part.schema)

    run_with_checkpoint(spark, df, proc, str(tmp_path / "out"),
                        str(tmp_path / "ck"), "o", n_buckets=4)
    spans = {}
    for p in glob.glob(os.path.join(str(log), "*")):
        with open(p) as f:
            b, start, end = f.read().split()
        lo, hi = spans.get(int(b), (float("inf"), 0.0))
        spans[int(b)] = (min(lo, float(start)), max(hi, float(end)))
    assert sorted(spans) == [0, 1, 2, 3]
    assert any(spans[a][0] < spans[b][1] and spans[b][0] < spans[a][1]
               for a in spans for b in spans if a < b), spans


def test_checkpoint_runs_with_unpinned_threads(spark, monkeypatch,
                                               tmp_path):
    """With PYSPARK_PIN_THREAD=false, ``inheritable_thread_target(session)``
    returns the session itself; the bucket writes must still run."""
    from languagedetection_spark.sources import checkpoint

    monkeypatch.setattr(checkpoint, "inheritable_thread_target",
                        lambda session: session)
    df = spark.createDataFrame([(f"c{i}", "x") for i in range(20)],
                               "conv_id string, text string")
    assert checkpoint.run_with_checkpoint(
        spark, df, lambda part: part, str(tmp_path / "out"),
        str(tmp_path / "ck"), "u", n_buckets=4) == [0, 1, 2, 3]


def test_checkpoint_stages_one_file_per_bucket(spark, fixture_dir, tmp_path):
    """An input of several files stages to one file per small bucket (the
    staging write is rebalanced on ``_bucket``), so each bucket's scan is
    one split."""
    from languagedetection_spark.sources.checkpoint import run_with_checkpoint

    src = str(tmp_path / "src")
    (spark.read.parquet(os.path.join(fixture_dir, "transcripts.parquet"))
     .repartition(4).write.parquet(src))
    assert len([f for f in os.listdir(src) if f.endswith(".parquet")]) >= 4
    df = spark.read.parquet(src)
    ck = str(tmp_path / "ck")

    def failing(part):
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        run_with_checkpoint(spark, df, failing, str(tmp_path / "out"), ck,
                            "s", n_buckets=4)
    staged = _staged_files(ck, "s")
    dirs = [os.path.basename(os.path.dirname(p)) for p in staged]
    assert sorted(dirs) == [f"_bucket={b}" for b in range(4)], staged


def test_checkpoint_observed_lineage_matches_reread(spark, fixture_dir,
                                                    oracle_model, tmp_path):
    """Differential: the lineage metrics observed on each bucket's write
    equal an aggregate over the bucket read back from disk; buckets with
    no conversations (more buckets than convs) record zero rows."""
    from languagedetection_spark.functions.kernels import FilterModel
    from languagedetection_spark.functions.udfs import broadcast_model
    from languagedetection_spark.operators.quality_filter import quality_filter
    from languagedetection_spark.sources.checkpoint import run_with_checkpoint

    v, tm, _ = oracle_model
    bc = broadcast_model(spark, FilterModel.from_vocabulary(v, tm))
    df = spark.read.parquet(os.path.join(fixture_dir, "transcripts.parquet"))
    for n_buckets, src in ((4, df), (8, df.filter("conv_id < 'c0003'"))):
        ck = str(tmp_path / f"ck{n_buckets}")
        run_with_checkpoint(spark, src, lambda part: quality_filter(part, bc),
                            str(tmp_path / f"out{n_buckets}"), ck, "d",
                            n_buckets=n_buckets)
        rows = [r for r in _progress(ck) if r["status"] == "done"]
        assert sorted(r["bucket"] for r in rows) == list(range(n_buckets))
        for r in rows:
            written = spark.read.parquet(r["output"])
            want = written.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.coalesce(F.sum(F.col("keep").cast("long")), F.lit(0))
                .alias("n_kept"),
                F.round(F.avg("lang_conf"), 6).alias("mean_lang_conf"),
                F.coalesce(F.sum(F.col("lang").isNull().cast("long")),
                           F.lit(0)).alias("n_no_lang"),
            ).collect()[0].asDict()
            want["drop_reasons"] = {
                x["drop_reason"]: x["count"]
                for x in written.filter("drop_reason IS NOT NULL")
                .groupBy("drop_reason").count().collect()
            }
            assert {k: r[k] for k in want} == want
        assert sum(r["n_rows"] for r in rows) == src.count()
        if n_buckets == 8:
            empty = [r for r in rows if r["n_rows"] == 0]
            assert empty and all(
                r["n_kept"] == 0 and r["drop_reasons"] == {}
                and r["mean_lang_conf"] is None for r in empty)


def test_checkpoint_lineage_rejects_unknown_drop_reason(spark, tmp_path):
    from languagedetection_spark.sources.checkpoint import (
        load_completed, run_with_checkpoint,
    )

    df = spark.createDataFrame([("c1", "x")], "conv_id string, text string")
    ck = str(tmp_path / "ck")
    with pytest.raises(ValueError, match="drop_reason"):
        run_with_checkpoint(
            spark, df, lambda part: part.withColumn("drop_reason",
                                                    F.lit("made_up")),
            str(tmp_path / "out"), ck, "u", n_buckets=1)
    assert load_completed(spark, ck, "u") == set()


def test_load_completed_raises_on_corrupt_row(spark, tmp_path):
    """Only a missing _progress table means "nothing done": a truncated
    row must not silently turn a resume into a full recompute."""
    from languagedetection_spark.sources.checkpoint import (
        load_completed, record_done,
    )

    ck = str(tmp_path / "ck")
    assert load_completed(spark, ck, "t") == set()
    record_done(ck, "t", 0, {"n_rows": 1})
    # a commit cut short before its rename is not a row
    (tmp_path / "ck" / "_progress" / "t-1.json.tmp").write_text('{"run_')
    assert load_completed(spark, ck, "t") == {0}
    (tmp_path / "ck" / "_progress" / "t-1.json").write_text(
        '{"run_id": "t", "bucket": 1, "sta')
    with pytest.raises(ValueError, match="t-1.json"):
        load_completed(spark, ck, "t")


# ---------------------------------------------------------------------------
# streaming
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def stream_dir(spark, fixture_dir, tmp_path_factory):
    """readStream needs a DIRECTORY source; split the fixture into files
    (several micro-batches given maxFilesPerTrigger)."""
    d = str(tmp_path_factory.mktemp("stream_src"))
    (spark.read.parquet(os.path.join(fixture_dir, "transcripts.parquet"))
     .repartition(8).write.mode("overwrite").parquet(d))
    return d


def test_streaming_pipeline_matches_batch(spark, fixture_dir, oracle_model,
                                          stream_dir):
    from languagedetection_spark.functions.kernels import FilterModel
    from languagedetection_spark.functions.udfs import broadcast_model
    from languagedetection_spark.operators.quality_filter import quality_filter
    from languagedetection_spark.streaming.pipeline import (
        run_batch_to_memory, stream_transcripts, streaming_quality_filter,
    )

    v, tm, _ = oracle_model
    bc = broadcast_model(spark, FilterModel.from_vocabulary(v, tm))
    src = stream_dir

    stream = stream_transcripts(spark, src)
    assert stream.isStreaming
    decided = streaming_quality_filter(stream, bc)
    run_batch_to_memory(decided, "stream_out")
    got = sorted(
        (r["conv_id"], r["turn_idx"], r["lang"], r["keep"], r["drop_reason"])
        for r in spark.sql("SELECT * FROM stream_out").collect()
    )
    batch = sorted(
        (r["conv_id"], r["turn_idx"], r["lang"], r["keep"], r["drop_reason"])
        for r in quality_filter(spark.read.parquet(src), bc).collect()
    )
    assert got == batch


def test_streaming_parquet_sink_exactly_once(spark, oracle_model,
                                             stream_dir, tmp_path):
    """run_to_parquet (availableNow + checkpoint): output equals the batch
    filter exactly, and re-running with the same checkpoint writes NOTHING
    new (exactly-once restart semantics)."""
    from languagedetection_spark.functions.kernels import FilterModel
    from languagedetection_spark.functions.udfs import broadcast_model
    from languagedetection_spark.operators.quality_filter import quality_filter
    from languagedetection_spark.streaming.pipeline import (
        run_to_parquet, stream_transcripts, streaming_quality_filter,
    )

    v, tm, _ = oracle_model
    bc = broadcast_model(spark, FilterModel.from_vocabulary(v, tm))
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run():
        decided = streaming_quality_filter(
            stream_transcripts(spark, stream_dir), bc
        )
        run_to_parquet(decided, out, ckpt)

    run()
    got = sorted(
        (r["conv_id"], r["turn_idx"], r["lang"], r["keep"], r["drop_reason"])
        for r in spark.read.parquet(out).collect()
    )
    batch = sorted(
        (r["conv_id"], r["turn_idx"], r["lang"], r["keep"], r["drop_reason"])
        for r in quality_filter(spark.read.parquet(stream_dir), bc).collect()
    )
    assert got == batch

    run()  # restart against the same checkpoint: no new offsets, no rows
    assert spark.read.parquet(out).count() == len(got)


def test_streaming_windowed_rates(spark, fixture_dir, oracle_model,
                                  stream_dir):
    from languagedetection_spark.functions.kernels import FilterModel
    from languagedetection_spark.functions.udfs import broadcast_model
    from languagedetection_spark.streaming.pipeline import (
        run_batch_to_memory, stream_transcripts, streaming_lang_rates,
        streaming_quality_filter,
    )

    v, tm, _ = oracle_model
    bc = broadcast_model(spark, FilterModel.from_vocabulary(v, tm))
    src = stream_dir
    decided = streaming_quality_filter(stream_transcripts(spark, src), bc)
    rates = streaming_lang_rates(decided)
    run_batch_to_memory(rates, "rates_out", output_mode="append")
    rows = spark.sql("SELECT * FROM rates_out").collect()
    assert rows
    assert all(r["n_kept"] <= r["n_turns"] for r in rows)


def test_filter_job_rejects_nested_conv_report(tmp_path):
    """The conv report is written with mode="overwrite", so its path must
    not equal, contain or lie under --output or --checkpoint.  Nested
    under --output it would be re-ingested as input on a rerun (the
    streaming branch reads the sink dir whole); containing --output its
    overwrite deletes every bucket dir; containing --checkpoint it
    deletes _progress and _staged, so a rerun recomputes every bucket.
    Both modes must refuse each layout up-front, before any Spark work."""
    import pytest

    from languagedetection_spark.jobs.filter_job import main

    rep = str(tmp_path / "rep")
    layouts = [
        # (output, checkpoint, conv_report)
        (str(tmp_path / "out"), str(tmp_path / "ckpt"),
         str(tmp_path / "out" / "conv_report")),
        (rep + "/out", str(tmp_path / "ckpt"), rep),
        (str(tmp_path / "out"), rep + "/ckpt", rep),
        (rep + "/out", str(tmp_path / "ckpt"), "file:" + rep),
    ]
    for out, ckpt, report in layouts:
        for extra in ([], ["--streaming"]):
            with pytest.raises(SystemExit) as exc:
                main(["--input", "in.parquet", "--output", out,
                      "--checkpoint", ckpt, "--conv-report", report]
                     + extra)
            assert exc.value.code == 2, (out, ckpt, report, extra)


def test_filter_job_dedup_exact_stage(spark, tmp_path):
    """--dedup exact keeps ONE deterministic turn per distinct text across
    the whole corpus before scoring; a rerun (resume path) is idempotent."""
    import json
    import subprocess
    import sys

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [
        ("c1", 0, "user", "hello world this is a decent length turn", None),
        ("c2", 1, "user", "hello world this is a decent length turn", None),
        ("c1", 1, "asst", "a different reply with plenty of words here",
         None),
        ("c3", 0, "user", "hello world this is a decent length turn", None),
        ("c3", 1, "user", "unique text that appears exactly once okay",
         None),
        # three in-domain turns (drawn from the seed-42 fixture corpus) the
        # filter KEEPS, so the --bucketed-table export is non-empty and the
        # stale-bucket duplication check below has rows to catch
        ("c4", 0, "user", "pfaxurdv hlbk toocjg nrrvyg drtgbim hmxtjcfu "
         "mkmyrry blmxo vlntblubv hxlalwxhx", None),
        ("c4", 1, "asst", "kjs fllcekh hmxtjcfu pbsiuwbie", None),
        ("c5", 0, "user", "ausrl yklpdmnhf wofb eyeokv wrd rvmqlvu rtm "
         "dmhrqdnq rtm gspmuoh", None),
    ]
    import datetime as dt
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    tbl = pa.table({
        "conv_id": [r[0] for r in rows],
        "turn_idx": pa.array([r[1] for r in rows], pa.int32()),
        "role": [r[2] for r in rows],
        "text": [r[3] for r in rows],
        "tool": pa.array([r[4] for r in rows], pa.string()),
        "ts": pa.array([ts] * len(rows), pa.timestamp("us", tz="UTC")),
    })
    inp = str(tmp_path / "in.parquet")
    pq.write_table(tbl, inp)
    out = subprocess.run(
        [sys.executable, "-m", "languagedetection_spark.jobs.filter_job",
         "--input", inp, "--output", str(tmp_path / "out"),
         "--checkpoint", str(tmp_path / "ckpt"), "--dedup", "exact",
         "--buckets", "4",
         "--bucketed-table", "kept_compacted",
         "--warehouse-dir", str(tmp_path / "wh")],
        capture_output=True, text=True,
        cwd="/root/repo",
    )
    assert out.returncode == 0, out.stderr[-2000:]
    # the final compaction stage ran and landed a bucketed table of the
    # kept turns in the job's warehouse (plan-level shuffle-elimination
    # pins live in tests/test_sinks.py)
    job_out = json.loads(out.stdout.strip().splitlines()[-1])
    assert job_out["bucketed_table"] == "kept_compacted"
    import glob
    assert glob.glob(str(tmp_path / "wh" / "kept_compacted" / "*"))
    res = duckdb.execute(
        f"SELECT conv_id, turn_idx, text FROM "
        f"'{tmp_path}/out/bucket=*/*.parquet' ORDER BY text, conv_id"
    ).fetchall()
    texts = [r[2] for r in res]
    assert len(texts) == len(set(texts)) == 6
    kept = {r[2]: (r[0], r[1]) for r in res}
    # deterministic keeper: minimal (conv_id, turn_idx) per text
    assert kept["hello world this is a decent length turn"] == ("c1", 0)
    # north_rule lineage + detector-confidence metrics: every completed
    # bucket's _progress row carries counts, mean winner confidence,
    # abstention count, and a drop-reason histogram that exactly accounts
    # for the dropped rows
    prog = [r for r in _progress(str(tmp_path / "ckpt"))
            if r["status"] == "done"]
    assert prog and sum(r["n_rows"] for r in prog) == 6
    for r in prog:
        assert {"mean_lang_conf", "n_no_lang", "drop_reasons",
                "model_fingerprint"} <= set(r)
        assert r["n_kept"] <= r["n_rows"]
        assert sum(r["drop_reasons"].values()) == r["n_rows"] - r["n_kept"]
    # rerun on the SAME --output with FEWER buckets: run 1's bucket=2,3
    # dirs are now stale and hold copies of rows that run 2 rewrites into
    # bucket=0,1 -- the compaction (and conv-report) must read only THIS
    # run's bucket range or every such row exports twice
    out2 = subprocess.run(
        [sys.executable, "-m", "languagedetection_spark.jobs.filter_job",
         "--input", inp, "--output", str(tmp_path / "out"),
         "--checkpoint", str(tmp_path / "ckpt"), "--dedup", "exact",
         "--buckets", "2", "--run-id", "r2",
         "--bucketed-table", "kept_compacted2",
         "--warehouse-dir", str(tmp_path / "wh")],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert out2.returncode == 0, out2.stderr[-2000:]
    n_all, n_distinct = duckdb.execute(
        f"SELECT count(*), count(DISTINCT conv_id || '|' || turn_idx) "
        f"FROM '{tmp_path}/wh/kept_compacted2/*.parquet'"
    ).fetchone()
    assert n_all == n_distinct, "stale buckets duplicated exported turns"
    n_run1 = duckdb.execute(
        f"SELECT count(*) FROM '{tmp_path}/wh/kept_compacted/*.parquet'"
    ).fetchone()[0]
    assert n_all == n_run1 > 0  # same input + model => same NON-EMPTY kept set


def test_filter_job_warehouse_guard(spark, monkeypatch, tmp_path):
    """An existing session pins spark.sql.warehouse.dir.  The same path in
    its ``file:``-qualified form is accepted; a different path is refused
    before any Spark work, also when the session is only the process
    default and not this thread's active one."""
    import pytest
    from pyspark.sql import SparkSession

    from languagedetection_spark.jobs.filter_job import main
    from languagedetection_spark.plans import session as session_mod

    class _PastGuard(Exception):
        pass

    def _no_session(**_kw):
        raise _PastGuard

    monkeypatch.setattr(session_mod, "get_spark", _no_session)
    pinned = spark.conf.get("spark.sql.warehouse.dir")
    plain = pinned[len("file:"):] if pinned.startswith("file:") else pinned
    args = ["--input", str(tmp_path / "in.parquet"),
            "--output", str(tmp_path / "out"),
            "--checkpoint", str(tmp_path / "ckpt"),
            "--bucketed-table", "kept", "--warehouse-dir"]
    for same in (plain, "file:" + plain, plain + "/"):
        with pytest.raises(_PastGuard):
            main(args + [same])

    other = str(tmp_path / "other_wh")
    with pytest.raises(SystemExit) as exc:
        main(args + [other])
    assert exc.value.code == 2
    jcls = SparkSession._get_j_spark_session_class(spark._jvm)
    jcls.clearActiveSession()
    try:
        assert SparkSession.getActiveSession() is None
        with pytest.raises(SystemExit) as exc:
            main(args + [other])
        assert exc.value.code == 2
    finally:
        jcls.setActiveSession(spark._jsparkSession)
    assert not os.path.exists(other)


def test_filter_job_rejects_dedup_with_streaming(tmp_path):
    import pytest

    from languagedetection_spark.jobs.filter_job import main

    with pytest.raises(SystemExit) as exc:
        main(["--input", "x.parquet", "--output", str(tmp_path / "o"),
              "--checkpoint", str(tmp_path / "c"), "--dedup", "exact",
              "--streaming"])
    assert exc.value.code == 2


def test_filter_job_rejects_bad_dedup_threshold(monkeypatch, tmp_path):
    """--dedup-threshold only means something under --dedup minhash and
    only inside (0, 1]; anything else exits 2 before a session is built,
    as does an unknown option such as --fail-after.  A valid threshold, or
    none, gets past the guard."""
    import pytest

    from languagedetection_spark.jobs.filter_job import main
    from languagedetection_spark.plans import session as session_mod

    class _PastGuard(Exception):
        pass

    def _no_session(**_kw):
        raise _PastGuard

    monkeypatch.setattr(session_mod, "get_spark", _no_session)
    base = ["--input", "x.parquet", "--output", str(tmp_path / "o"),
            "--checkpoint", str(tmp_path / "c")]
    for extra in (["--dedup-threshold", "0.5"],
                  ["--dedup", "exact", "--dedup-threshold", "0.5"],
                  ["--dedup", "minhash", "--dedup-threshold", "80"],
                  ["--dedup", "minhash", "--dedup-threshold", "0"],
                  ["--dedup", "minhash", "--dedup-threshold", "nan"],
                  ["--fail-after", "1"]):
        with pytest.raises(SystemExit) as exc:
            main(base + extra)
        assert exc.value.code == 2, extra
    for extra in (["--dedup", "minhash"],
                  ["--dedup", "minhash", "--dedup-threshold", "1"]):
        with pytest.raises(_PastGuard):
            main(base + extra)


def test_read_transcripts_relative_parquet_path(spark, monkeypatch,
                                                tmp_path):
    """A relative ``t.parquet`` looks like a ``db.table`` identifier; it
    must still read as the Parquet file it names."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from languagedetection_spark.sources.readers import read_transcripts

    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    pq.write_table(pa.table({
        "conv_id": ["c1", "c2"],
        "turn_idx": pa.array([0, 1], pa.int32()),
        "role": ["user", "asst"],
        "text": ["hello there", "good day"],
        "tool": pa.array([None, None], pa.string()),
        "ts": pa.array([ts, ts], pa.timestamp("us", tz="UTC")),
    }), tmp_path / "t.parquet")
    monkeypatch.chdir(tmp_path)
    rows = read_transcripts(spark, "t.parquet").orderBy("conv_id").collect()
    assert [(r.conv_id, r.text) for r in rows] == [
        ("c1", "hello there"), ("c2", "good day")]


def test_filter_job_dedup_minhash_stage(spark, tmp_path):
    """--dedup minhash collapses near-dup clusters (not just exact copies)
    before scoring, keeping the minimal (conv_id, turn_idx) per cluster."""
    import subprocess
    import sys

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = " ".join(f"w{i}" for i in range(20))
    near = base.rsplit(" ", 1)[0] + " zz"        # near-dup of base
    uniq = " ".join(f"u{i}" for i in range(20))
    rows = [
        ("c1", 0, "user", base, None),
        ("c2", 1, "user", near, None),           # near-dup -> dropped
        ("c2", 2, "asst", base, None),           # exact copy -> dropped
        ("c3", 0, "user", uniq, None),
    ]
    import datetime as dt
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    tbl = pa.table({
        "conv_id": [r[0] for r in rows],
        "turn_idx": pa.array([r[1] for r in rows], pa.int32()),
        "role": [r[2] for r in rows],
        "text": [r[3] for r in rows],
        "tool": pa.array([r[4] for r in rows], pa.string()),
        "ts": pa.array([ts] * len(rows), pa.timestamp("us", tz="UTC")),
    })
    inp = str(tmp_path / "in.parquet")
    pq.write_table(tbl, inp)
    out = subprocess.run(
        [sys.executable, "-m", "languagedetection_spark.jobs.filter_job",
         "--input", inp, "--output", str(tmp_path / "out"),
         "--checkpoint", str(tmp_path / "ckpt"), "--dedup", "minhash",
         "--buckets", "2"],
        capture_output=True, text=True,
        cwd="/root/repo",
    )
    assert out.returncode == 0, out.stderr[-2000:]
    res = duckdb.execute(
        f"SELECT conv_id, turn_idx FROM "
        f"'{tmp_path}/out/bucket=*/*.parquet' ORDER BY conv_id"
    ).fetchall()
    assert res == [("c1", 0), ("c3", 0)]


def _run_job(args):
    """filter_job in a fresh process, stderr merged into stdout."""
    import subprocess
    import sys

    return subprocess.run(
        [sys.executable, "-m", "languagedetection_spark.jobs.filter_job",
         *args],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_filter_job_builds_session_without_console_progress(monkeypatch,
                                                            tmp_path):
    """The progress bar is a build-time setting: the job must pass it to
    get_spark, since setting it on a live session raises."""
    from languagedetection_spark.jobs.filter_job import main
    from languagedetection_spark.plans import session

    seen = {}

    def fake_get_spark(**kw):
        seen.update(kw)
        raise RuntimeError("stop here")

    monkeypatch.setattr(session, "get_spark", fake_get_spark)
    with pytest.raises(RuntimeError, match="stop here"):
        main(["--input", "x.parquet", "--output", str(tmp_path / "o"),
              "--checkpoint", str(tmp_path / "c")])
    assert seen["extra_conf"]["spark.ui.showConsoleProgress"] == "false"


def test_filter_job_output_ends_in_json_and_checks_done_buckets(fixture_dir,
                                                                tmp_path):
    """The job's last output line is its JSON summary, even with stderr
    merged in (no console progress bar).  A rerun whose checkpoint marks a
    bucket done while its bucket=N dir is gone fails before the exports
    instead of exporting the other buckets."""
    import json
    import shutil

    args = ["--input", os.path.join(fixture_dir, "transcripts.parquet"),
            "--output", str(tmp_path / "out"),
            "--checkpoint", str(tmp_path / "ckpt"), "--buckets", "2"]
    first = _run_job(args + ["--conv-report", str(tmp_path / "rep1")])
    assert first.returncode == 0, first.stdout[-2000:]
    assert "[Stage" not in first.stdout
    summary = json.loads(first.stdout.strip().splitlines()[-1])
    assert summary["processed_buckets"] == [0, 1]
    assert summary["conv_report_rows"] > 0

    shutil.rmtree(tmp_path / "out" / "bucket=1")
    second = _run_job(args + ["--conv-report", str(tmp_path / "rep2")])
    assert second.returncode == 1
    assert "marks run 'r1' done but its output is missing" in second.stdout
    assert "bucket=1" in second.stdout
    assert not (tmp_path / "rep2").exists()
