"""Distributed EP-2 training: the STREAMED mean-adjust fold with staleness
replay must equal the pure oracle fold bit for bit at ANY batch size; the
distributed model build must match the local one; the fold goldens backing
the DuckDB oracle must match a fresh refmodel recompute."""

import pytest

from languagedetection_spark.operators.training import train_fold_streamed
from languagedetection_spark.refmodel.classifier import Vocabulary


def _small_corpus(oracle_model):
    _v, _tm, rows = oracle_model
    labeled = rows[:120]
    unlabeled = rows[120:160]
    return labeled, unlabeled


def _oracle_fold(labeled, unlabeled):
    v = Vocabulary()
    for lang, text in labeled:
        v.load_labeled(lang, text)
    for _lang, text in unlabeled:
        v.classify(text, adjust=True)
    return v


@pytest.mark.parametrize("batch_size", [1, 7, 64])
def test_streamed_fold_exact_at_any_batch_size(spark, oracle_model,
                                               batch_size):
    """train_fold_streamed = snapshot classify + staleness replay: must be
    BIT-IDENTICAL to the sequential reference fold at every batch size (the
    fixture corpus repeats words heavily, so larger batches genuinely
    exercise the replay branch)."""
    labeled, unlabeled = _small_corpus(oracle_model)
    gold = _oracle_fold(labeled, unlabeled)
    ldf = spark.createDataFrame(labeled, "language string, text string")
    udf_ = spark.createDataFrame(
        [(i, text) for i, (_l, text) in enumerate(unlabeled)],
        "seq long, text string",
    )
    got = train_fold_streamed(
        spark, ldf, udf_, batch_size=batch_size, order_col="seq"
    )
    assert got.rows() == gold.rows()


def test_replay_branch_triggers_and_stays_exact(spark, oracle_model):
    """A batch of overlapping texts MUST route through the replay branch
    (staleness detection) and still match the sequential fold."""
    from languagedetection_spark.operators.training import _apply_batch_exact

    labeled, _ = _small_corpus(oracle_model)
    text = labeled[0][1]
    batch = [(i, text) for i in range(8)]  # identical texts: maximal overlap

    v = Vocabulary()
    for lang, t in labeled:
        v.load_labeled(lang, t)
    replays = _apply_batch_exact(spark, v, batch)
    assert replays >= 1

    gold = Vocabulary()
    for lang, t in labeled:
        gold.load_labeled(lang, t)
    for _i, t in batch:
        gold.classify(t, adjust=True)
    assert v.rows() == gold.rows()


def test_fold_goldens_match_refmodel():
    """Drift pin: the checked-in goldens (the DuckDB oracle for
    mean_adjust_fold / axiom_distribution) must equal a fresh pure-refmodel
    recompute at sf0.001."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "gen_fold_goldens",
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "tools", "gen_fold_goldens.py"),
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)

    from languagedetection_spark.fixtures.fold_goldens import (
        AXIOM_DIST_GOLDENS,
        FOLD_GOLDENS,
    )

    sf_dir = "/root/testdata/sf0.001"
    key = gen.sf_key(sf_dir)
    fold = gen.pure_fold_rows(sf_dir)
    assert FOLD_GOLDENS[key] == fold
    assert AXIOM_DIST_GOLDENS[key] == gen.axiom_distribution_rows(fold)


def test_goldens_self_heal_on_fixture_change(tmp_path):
    """If the driver regenerates testdata, the frozen fold goldens must be
    DETECTED as stale (documents fingerprint) and recomputed live -- the
    gate must never compare against rows from an older fixture."""
    import shutil

    from languagedetection_spark.fixtures import fold_oracle
    from languagedetection_spark.fixtures.fold_goldens import FOLD_GOLDENS

    src = "/root/testdata/sf0.001"
    sf_dir = tmp_path / "sf0.001"
    sf_dir.mkdir()
    shutil.copy(f"{src}/lineitem.parquet", sf_dir / "lineitem.parquet")

    # perturb the documents table: append a new word to a labeled doc's
    # text -- guarantees a new axiom in the recomputed vocabulary
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{src}/documents.parquet")
    rows = t.to_pylist()
    changed = next(r for r in rows if r["source"] == "src0")
    # NOTE: no 'z' -- the reference's Set.range bug (pinned) makes 'z'
    # invalid, and a gated-out word would not change the vocabulary
    changed["text"] = changed["text"] + " qqnewaxiomword"
    pq.write_table(
        pa.Table.from_pylist(rows, schema=t.schema),
        str(sf_dir / "documents.parquet"),
    )

    folds, dists = fold_oracle.current_goldens(
        root=str(tmp_path), sfs=("sf0.001",)
    )
    live = fold_oracle.pure_fold_rows(str(sf_dir))
    assert folds[6000] == live
    assert folds[6000] != FOLD_GOLDENS[6000]
    assert dists[6000] == fold_oracle.axiom_distribution_rows(live)

    # unchanged fixture: the frozen goldens are served untouched
    folds2, _ = fold_oracle.current_goldens()
    assert folds2[6000] == FOLD_GOLDENS[6000]


def test_build_model_distributed_equals_from_corpus(spark, oracle_model):
    """The distributed model build (filter_job's scale path) must be
    bit-identical to FilterModel.from_corpus: same vocab, same trigram
    log-probs, same backoffs."""
    from languagedetection_spark.functions.kernels import FilterModel
    from languagedetection_spark.operators.training import (
        build_model_distributed,
    )

    _v, _tm, rows = oracle_model
    gold = FilterModel.from_corpus(rows)
    df = spark.createDataFrame(rows, "language string, text string")
    got = build_model_distributed(spark, df)
    assert got.vocab == gold.vocab
    assert got.tri_logprob == gold.tri_logprob
    assert got.tri_backoff == gold.tri_backoff


def test_min_df_floor_bounds_vocab(spark, oracle_model):
    """The broadcast-budget lever (VERDICT r4 ask #4): min_df > 1 keeps
    exactly the words whose labeled-row document frequency clears the
    floor -- the hapax tail that makes the vocab grow with the corpus is
    dropped, every retained (language, word) axiom is unchanged, and the
    default (min_df=1) stays the reference's exact vocabulary."""
    from languagedetection_spark.operators.training import (
        axiom_rows_df,
        build_model_distributed,
    )

    rows = [
        ("english", "the cat sat on the mat"),
        ("english", "the cat ran"),
        ("english", "a dog ran"),
        ("dutch", "de hond liep"),
        ("dutch", "de hond sliep"),
    ]
    df = spark.createDataFrame(rows, "language string, text string")

    exact = {(r["language"], r["word"])
             for r in axiom_rows_df(df).collect()}
    floored = {(r["language"], r["word"])
               for r in axiom_rows_df(df, min_df=2).collect()}
    # ground truth doc frequencies, computed independently
    from collections import Counter

    from languagedetection_spark.refmodel.tokenizer import split_words

    dfreq: Counter = Counter()
    for lang, text in rows:
        for w in set(split_words(text, lang)):
            dfreq[(lang, w)] += 1
    assert exact == set(dfreq)
    assert floored == {k for k, c in dfreq.items() if c >= 2}
    assert floored < exact          # the floor really drops the tail

    # the lever threads through the flagship model build: floored vocab,
    # trigram tables untouched (perplexity is corpus-statistics, not
    # vocabulary, so the floor must not perturb it)
    m1 = build_model_distributed(spark, df)
    m2 = build_model_distributed(spark, df, min_df=2)
    assert {(l, w) for l, d in m2.vocab.items() for w in d} == floored
    assert m1.tri_logprob == m2.tri_logprob
    assert m1.tri_backoff == m2.tri_backoff


def test_build_model_distributed_registers_empty_bag_language(spark):
    """ADVICE r2 twin for the trigram path: a language whose every text is
    shorter than 3 normalized chars gets an empty trigram table and
    backoff log(1) = 0.0 in BOTH the local and distributed builds (the
    local TrigramModel.train used to KeyError on this; the distributed
    build used to drop the language)."""
    from languagedetection_spark.functions.kernels import FilterModel
    from languagedetection_spark.operators.training import (
        build_model_distributed,
    )

    rows = [("arabic", "ab"), ("english", "hello world of words")]
    gold = FilterModel.from_corpus(rows)
    df = spark.createDataFrame(rows, "language string, text string")
    got = build_model_distributed(spark, df)
    assert gold.tri_logprob["arabic"] == {}
    assert gold.tri_backoff["arabic"] == 0.0
    assert got.tri_logprob == gold.tri_logprob
    assert got.tri_backoff == gold.tri_backoff
    assert got.vocab == gold.vocab


def test_fold_oracle_sentinel_on_unknown_fixture():
    """ADVICE r2: an sf dir whose lineitem count matches no golden key must
    yield an explicit 'NO GOLDEN ...' sentinel row from the oracle SQL, not
    a silent empty result."""
    import duckdb

    from languagedetection_spark.entry_queries import (
        _axiom_dist_goldens_sql,
        _fold_goldens_sql,
    )

    con = duckdb.connect()
    con.execute("CREATE VIEW lineitem AS SELECT * FROM range(7777)")
    rows = con.execute(_fold_goldens_sql()).fetchall()
    assert len(rows) == 1
    assert rows[0][0] == "NO GOLDEN FOR lineitem count 7777"
    dist = con.execute(_axiom_dist_goldens_sql()).fetchall()
    assert dist == [("NO GOLDEN FOR lineitem count 7777", 0, 0)]


def test_fold_oracle_root_derived_from_env(tmp_path, monkeypatch):
    """default_root follows SPARK_GRAFT_SF_DIR's parent so a custom
    testdata tree is validated instead of the hardcoded default."""
    from languagedetection_spark.fixtures import fold_oracle

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path / "sfX"))
    assert fold_oracle.default_root() == str(tmp_path)
    monkeypatch.delenv("SPARK_GRAFT_SF_DIR")
    assert fold_oracle.default_root() == "/root/testdata"
