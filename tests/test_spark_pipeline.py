"""Differential tests: Spark pipeline (optimized kernel over Arrow batches)
vs the pure-Python oracle, on the seeded fixture corpus.

These are the acceptance tests for BASELINE.md: per-turn keep/drop equality
(F1 = 1.0 >= 0.99), exact scrubbed-text equality, and partition-count
invariance (the distribution must not change any answer).
"""

import os

import pyarrow.parquet as pq
import pytest

from languagedetection_spark.functions.kernels import FilterModel
from languagedetection_spark.refmodel.quality import decide_turn


@pytest.fixture(scope="module")
def turns(fixture_dir):
    return pq.read_table(
        os.path.join(fixture_dir, "transcripts.parquet")
    ).to_pylist()


@pytest.fixture(scope="module")
def filter_model(oracle_model):
    v, tm, _rows = oracle_model
    return FilterModel.from_vocabulary(v, tm)


def test_kernel_matches_oracle_per_turn(turns, oracle_model, filter_model):
    """The optimized kernel reproduces the naive oracle bit-for-bit."""
    v, tm, _ = oracle_model
    for r in turns:
        gold = decide_turn(r["text"], v, tm)
        lang, conf, ppl, keep, drop, scrubbed = filter_model.decide(r["text"])
        assert lang == gold.lang, r["text"][:60]
        assert conf == gold.lang_conf  # exact: fsum both sides
        assert ppl == gold.ppl
        assert keep == gold.keep
        assert drop == gold.drop_reason
        assert scrubbed == gold.scrubbed_text


def _golden_map(turns, oracle_model):
    v, tm, _ = oracle_model
    gold = {}
    for r in turns:
        d = decide_turn(r["text"], v, tm)
        gold[(r["conv_id"], r["turn_idx"])] = d
    return gold


def test_spark_pipeline_matches_oracle(spark, fixture_dir, turns,
                                       oracle_model, filter_model):
    from languagedetection_spark.functions.udfs import broadcast_model
    from languagedetection_spark.operators.quality_filter import quality_filter

    df = spark.read.parquet(os.path.join(fixture_dir, "transcripts.parquet"))
    bc = broadcast_model(spark, filter_model)
    out = quality_filter(df, bc).collect()

    gold = _golden_map(turns, oracle_model)
    assert len(out) == len(turns)
    mismatches = 0
    for row in out:
        g = gold[(row["conv_id"], row["turn_idx"])]
        if (row["lang"], row["keep"], row["drop_reason"],
                row["scrubbed_text"]) != (g.lang, g.keep, g.drop_reason,
                                          g.scrubbed_text):
            mismatches += 1
        assert row["lang_conf"] == g.lang_conf
        assert row["ppl"] == g.ppl
    # exact parity -> F1 = 1.0 (>= 0.99 target of BASELINE.md)
    assert mismatches == 0


def test_broadcast_model_swap_in_reused_workers(spark, fixture_dir,
                                                oracle_model, filter_model):
    """Two broadcast models in one session, run in turn on the same (reused)
    Python workers: each run decides with its own model."""
    from languagedetection_spark.functions.udfs import broadcast_model
    from languagedetection_spark.operators.quality_filter import quality_filter

    _v, _tm, rows = oracle_model
    langs = sorted({lang for lang, _ in rows})
    other = FilterModel.from_corpus(
        [(lang, text) for lang, text in rows if lang in langs[::2]])
    df = spark.read.parquet(os.path.join(fixture_dir, "transcripts.parquet"))
    texts = [r["text"] for r in df.select("text").collect()]

    def expected(model):
        return sorted(zip(texts, model.decide_batch(texts)["lang"]),
                      key=str)

    def run(bc):
        return sorted(((r["text"], r["lang"]) for r in
                       quality_filter(df, bc).select("text", "lang").collect()),
                      key=str)

    bc_a, bc_b = broadcast_model(spark, filter_model), broadcast_model(
        spark, other)
    want_a, want_b = expected(filter_model), expected(other)
    assert want_a != want_b
    assert run(bc_a) == want_a
    assert run(bc_b) == want_b
    assert run(bc_a) == want_a


def test_partition_invariance(spark, fixture_dir, filter_model):
    """Output must be independent of partitioning (salted or not) -- the
    SURVEY §5.3 property test."""
    from languagedetection_spark.functions.udfs import broadcast_model
    from languagedetection_spark.operators.quality_filter import quality_filter
    from languagedetection_spark.plans.partitioning import salted_repartition

    df = spark.read.parquet(os.path.join(fixture_dir, "transcripts.parquet"))
    bc = broadcast_model(spark, filter_model)

    def run(frame):
        rows = quality_filter(frame, bc).collect()
        return sorted(
            (r["conv_id"], r["turn_idx"], r["lang"], r["keep"],
             r["drop_reason"], r["lang_conf"], r["ppl"], r["scrubbed_text"])
            for r in rows
        )

    base = run(df.coalesce(1))
    assert run(df.repartition(16)) == base
    assert run(salted_repartition(df, 8, block_size=16)) == base


def test_kept_turns_projection(spark, fixture_dir, filter_model):
    from languagedetection_spark.functions.udfs import broadcast_model
    from languagedetection_spark.operators.quality_filter import (
        kept_turns, quality_filter,
    )

    df = spark.read.parquet(os.path.join(fixture_dir, "transcripts.parquet"))
    bc = broadcast_model(spark, filter_model)
    decided = quality_filter(df, bc)
    kept = kept_turns(decided)
    assert kept.columns == [
        "conv_id", "turn_idx", "role", "lang", "lang_conf", "ppl",
        "scrubbed_text",
    ]
    n_kept = kept.count()
    n_all = df.count()
    assert 0 < n_kept < n_all


def test_conv_report_equals_window_reference(spark, fixture_dir,
                                             filter_model):
    """conv_report's skew-immune min-of-struct dominant-language agg must
    equal the straightforward row_number() window formulation."""
    from pyspark.sql import Window as W, functions as F

    from languagedetection_spark.functions.udfs import broadcast_model
    from languagedetection_spark.operators.quality_filter import (
        conv_report, quality_filter,
    )

    df = spark.read.parquet(os.path.join(fixture_dir, "transcripts.parquet"))
    bc = broadcast_model(spark, filter_model)
    decided = quality_filter(df, bc).cache()
    got = {r["conv_id"]: r for r in conv_report(decided).collect()}

    w = W.partitionBy("conv_id").orderBy(
        F.desc("lang_conf"), F.asc("lang"), F.asc("turn_idx")
    )
    ref_top = {
        r["conv_id"]: r["lang"]
        for r in decided.filter("lang IS NOT NULL")
        .withColumn("rn", F.row_number().over(w)).filter("rn = 1").collect()
    }
    ref_counts = {
        r["conv_id"]: r
        for r in decided.groupBy("conv_id").agg(
            F.count("*").alias("n_turns"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
        ).collect()
    }
    decided.unpersist()
    assert set(got) == set(ref_counts)
    for conv_id, r in got.items():
        assert r["n_turns"] == ref_counts[conv_id]["n_turns"]
        assert r["n_kept"] == ref_counts[conv_id]["n_kept"]
        assert r["top_lang"] == ref_top.get(conv_id)
    # sanity: the fixture corpus has at least one dominant language
    assert any(r["top_lang"] is not None for r in got.values())


def test_model_artifact_roundtrip(oracle_model, tmp_path):
    """save_model/load_model: bit-exact round-trip (fingerprint-verified),
    corrupt artifacts rejected, future format versions rejected."""
    import gzip
    import json

    import pytest

    from languagedetection_spark.functions.kernels import FilterModel
    from languagedetection_spark.model.artifacts import load_model, save_model

    v, tm, _rows = oracle_model
    model = FilterModel.from_vocabulary(v, tm)
    path = str(tmp_path / "model.json.gz")
    fp = save_model(model, path)

    loaded = load_model(path)
    assert loaded.vocab == model.vocab
    assert loaded.tri_logprob == model.tri_logprob
    assert loaded.tri_backoff == model.tri_backoff

    with gzip.open(path, "rt") as f:
        payload = json.load(f)
    assert payload["fingerprint"] == fp

    # tamper with a score: fingerprint check must reject
    lang = next(iter(payload["vocab"]))
    word = next(iter(payload["vocab"][lang]), None)
    if word is not None:
        payload["vocab"][lang][word] = 0.123456
    bad = str(tmp_path / "bad.json.gz")
    with gzip.open(bad, "wt") as f:
        json.dump(payload, f)
    with pytest.raises(ValueError, match="fingerprint"):
        load_model(bad)

    payload["format_version"] = 999
    with gzip.open(bad, "wt") as f:
        json.dump(payload, f)
    with pytest.raises(ValueError, match="version"):
        load_model(bad)
