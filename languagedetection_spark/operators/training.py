"""Distributed training: the frozen filter model and the reference's
semi-supervised fold (EP-2, SURVEY §3/§7 item 8).

* ``axiom_rows_df`` / ``trigram_counts_df`` / ``build_model_distributed``
  build the frozen ``FilterModel`` from a corpus DataFrame; only the
  model-sized aggregates reach the driver.
* ``train_fold_streamed`` is the reference's ONLINE mean-adjust fold
  (Language.scala:335-364), where each classification mutates the
  vocabulary the next one reads.  Micro-batches are classified in
  parallel against a vocabulary snapshot and stale samples are replayed
  on the driver, so the fold is bit-exact at ANY batch size.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from ..refmodel.alphabets import LANGUAGES
from ..refmodel.classifier import ADJUST_THRESHOLD, Vocabulary
from ..refmodel.tokenizer import split_words


def _classify_batch_distributed(
    spark: SparkSession, texts: list[tuple[int, str]], vocab_state: dict,
) -> list[tuple[int, str, list[str], float, int]]:
    """One map-only job: classify (seq, text) rows against a frozen snapshot.
    Returns (seq, winner_lang, winner_tokens, total, n) per sample."""
    bc = spark.sparkContext.broadcast(vocab_state)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        state = bc.value
        for pdf in batches:
            out = {"seq": [], "winner": [], "tokens": [], "total": [],
                   "n": []}
            for seq, text in zip(pdf["seq"], pdf["text"]):
                best_lang, best_score, best_tokens = None, float("-inf"), []
                for lang in LANGUAGES:
                    vocab = state.get(lang, {})
                    tokens = split_words(
                        text if isinstance(text, str) else "", lang
                    )
                    if tokens and any(t in vocab for t in tokens):
                        score = 0.0
                        for t in tokens:  # sequential, reference order
                            score += vocab.get(t, (0.0, False))[0]
                    else:
                        tokens, score = [], 0.0
                    if score > best_score or (
                        score == best_score
                        and best_lang is not None and lang < best_lang
                    ):
                        best_lang, best_score, best_tokens = (
                            lang, score, tokens
                        )
                out["seq"].append(seq)
                out["winner"].append(best_lang)
                out["tokens"].append(best_tokens)
                out["total"].append(best_score)
                out["n"].append(len(best_tokens))
            yield pd.DataFrame(out)

    # createDataFrame already slices the local batch across
    # defaultParallelism partitions -- no repartition (= no shuffle) needed
    df = spark.createDataFrame(texts, "seq long, text string")
    res = df.mapInPandas(
        run,
        schema="seq long, winner string, tokens array<string>, "
               "total double, n int",
    ).collect()
    bc.unpersist()
    return sorted(
        ((r["seq"], r["winner"], list(r["tokens"]), r["total"], r["n"])
         for r in res),
        key=lambda t: t[0],
    )


def axiom_rows_df(labeled: DataFrame, lang_col: str = "language",
                  text_col: str = "text", min_df: int = 1) -> DataFrame:
    """Distinct (language, word) axiom rows, computed DISTRIBUTED.

    ``Vocabulary.load_labeled`` (Language.scala:45-48) is order-independent
    and idempotent -- every insert writes the same (1.0, True) -- so the
    axiom set is exactly the distinct (language, token) pairs of the
    labeled split and can be built with a map-side-deduped explode +
    distinct.  Only the aggregated, model-sized result is ever collected.

    ``min_df`` is the broadcast-budget lever (VERDICT r4 ask #4): the
    vocabulary grows with DISTINCT labeled words, and at 100 TB of
    labeled data the collected/broadcast dict is the flagship's one
    data-dependent memory object (measured ~107 MiB of resident driver
    dict + ~19 MiB of pickled broadcast per million distinct words --
    see NOTES.md).  With ``min_df`` > 1 only words appearing in at least
    that many labeled ROWS survive, flooring out the hapax tail that
    dominates distinct-word growth (Heaps' law) while the reference
    semantics stay exact for every retained word.  Default 1 = the
    reference's exact vocabulary (bug-for-bug; contract queries use
    this)."""

    def run(batches):
        import pandas as pd

        seen: set = set()
        for pdf in batches:
            out_l: list = []
            out_w: list = []
            for lang, text in zip(pdf[lang_col], pdf[text_col]):
                if lang not in LANGUAGES:
                    continue
                for t in split_words(
                    text if isinstance(text, str) else "", lang
                ):
                    key = (lang, t)
                    if key not in seen:
                        seen.add(key)
                        out_l.append(lang)
                        out_w.append(t)
            yield pd.DataFrame({"language": out_l, "word": out_w})

    if min_df <= 1:
        return labeled.mapInPandas(
            run, "language string, word string"
        ).distinct()

    def run_df(batches):
        """Per-ROW dedup (not per-partition): each emitted (language,
        word) row is one labeled row containing the word, so the
        downstream count is the document frequency."""
        import pandas as pd

        for pdf in batches:
            out_l: list = []
            out_w: list = []
            for lang, text in zip(pdf[lang_col], pdf[text_col]):
                if lang not in LANGUAGES:
                    continue
                for t in set(split_words(
                    text if isinstance(text, str) else "", lang
                )):
                    out_l.append(lang)
                    out_w.append(t)
            yield pd.DataFrame({"language": out_l, "word": out_w})

    from pyspark.sql import functions as F

    return (
        labeled.mapInPandas(run_df, "language string, word string")
        .groupBy("language", "word")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") >= min_df)
        .select("language", "word")
    )


def trigram_counts_df(corpus: DataFrame, lang_col: str = "language",
                      text_col: str = "text") -> DataFrame:
    """(language, trigram, count) over the normalized corpus, map-side
    pre-aggregated per Arrow batch so only distinct (lang, tri) rows
    shuffle -- the aggregate is model-sized regardless of corpus size."""

    def run(batches):
        from collections import Counter

        import pandas as pd

        from ..refmodel.quality import TrigramModel

        agg: Counter = Counter()
        seen: set = set()
        for pdf in batches:
            for lang, text in zip(pdf[lang_col], pdf[text_col]):
                seen.add(lang)
                norm = TrigramModel._norm(
                    text if isinstance(text, str) else ""
                )
                for i in range(len(norm) - 2):
                    agg[(lang, norm[i:i + 3])] += 1
        # tri = '' marker registers languages whose every text is shorter
        # than 3 normalized chars (real trigrams have length 3): the local
        # twin (TrigramModel.train) registers them per row via setdefault,
        # giving an empty table and backoff log(1) = 0.0 -- an unregistered
        # language would instead vanish from the model
        for lang in seen:
            agg.setdefault((lang, ""), 0)
        yield pd.DataFrame({
            "language": [k[0] for k in agg],
            "tri": [k[1] for k in agg],
            "c": list(agg.values()),
        })

    from pyspark.sql import functions as F

    return (
        corpus.mapInPandas(run, "language string, tri string, c long")
        .groupBy("language", "tri")
        .agg(F.sum("c").alias("c"))
    )


def build_model_distributed(spark: SparkSession, corpus: DataFrame,
                            min_df: int = 1):
    """FilterModel from a (language, text) corpus DataFrame WITHOUT ever
    collecting the corpus: axioms via axiom_rows_df (distributed distinct)
    and trigram tables via trigram_counts_df (distributed counts); the
    driver only materializes the model-sized aggregates and applies the
    closed-form smoothing (TrigramModel.train, alpha=1 -- bit-identical:
    integer counts in, one math.log per entry).  This is the scale-safe
    replacement for FilterModel.from_corpus on unbounded corpora.

    ``min_df``: vocabulary document-frequency floor -- the broadcast
    budget lever for very large LABELED corpora (see axiom_rows_df);
    default 1 keeps the reference's exact vocabulary."""
    import math

    from ..functions.kernels import FilterModel

    vocab: dict[str, dict[str, float]] = {lang: {} for lang in LANGUAGES}
    for r in axiom_rows_df(corpus, min_df=min_df).collect():
        vocab[r["language"]][r["word"]] = 1.0

    counts: dict[str, dict[str, int]] = {}
    totals: dict[str, int] = {}
    for r in trigram_counts_df(corpus).collect():
        bag = counts.setdefault(r["language"], {})
        if r["tri"] == "":  # per-language registration marker
            continue
        bag[r["tri"]] = r["c"]
        totals[r["language"]] = totals.get(r["language"], 0) + r["c"]
    logprob: dict[str, dict[str, float]] = {}
    backoff: dict[str, float] = {}
    for lang, bag in counts.items():
        total = totals.get(lang, 0)  # 0 for marker-only (empty-bag) langs
        vsize = len(bag) + 1
        denom = total + vsize
        logprob[lang] = {
            tri: math.log((c + 1.0) / denom) for tri, c in bag.items()
        }
        backoff[lang] = math.log(1.0 / denom)
    return FilterModel(vocab, logprob, backoff)


def train_fold_streamed(
    spark: SparkSession,
    labeled: DataFrame,
    unlabeled: DataFrame,
    batch_size: int = 256,
    order_col: str = "doc_id",
    lang_col: str = "language",
    text_col: str = "text",
) -> Vocabulary:
    """The reference's online mean-adjust fold with BOUNDED driver memory
    and distributed heavy lifting -- bit-exact at ANY batch size.

    * Axioms come from ``axiom_rows_df`` (distributed explode/distinct);
      the driver collects only the model-sized aggregate.
    * Unlabeled texts stream through the driver in ``order_col`` order via
      ``toLocalIterator`` (one partition resident at a time -- never the
      whole table), chunked into micro-batches.
    * Each micro-batch is classified in parallel against the batch-start
      vocabulary snapshot (one broadcast + one map-only job); the driver
      applies the reference's per-sample updates (Language.scala:350-364)
      in sample order -- model-sized state only.
    * EXACTNESS: a snapshot classification is stale only when an earlier
      sample in the SAME batch touched one of this sample's tokens
      (inserted it, changing a gate, or mean-adjusted its score).  The
      driver tracks touched words per language and replays stale samples
      with the pure reference ``classify`` (rare, driver-cheap); everything
      else reuses the distributed result, which is then bit-identical to
      the sequential fold.  ``batch_size`` trades cluster round-trips
      against replay frequency -- never fidelity.

    On a real cluster the per-batch broadcast would ship vocab deltas, not
    the full model; at model sizes here (10^2..10^5 entries) the full
    re-broadcast is cheaper than the bookkeeping.
    """
    v = Vocabulary()
    for r in axiom_rows_df(labeled, lang_col, text_col).collect():
        v.entries[r["language"]][r["word"]] = (1.0, True)

    ordered = unlabeled.select(order_col, text_col).orderBy(order_col)
    buf: list[tuple[int, str]] = []
    for row in ordered.toLocalIterator():
        buf.append((row[order_col], row[text_col]))
        if len(buf) >= batch_size:
            _apply_batch_exact(spark, v, buf)
            buf = []
    if buf:
        _apply_batch_exact(spark, v, buf)
    return v


def _apply_batch_exact(
    spark: SparkSession, v: Vocabulary, batch: list[tuple[int, str]],
) -> int:
    """Classify *batch* against the current-vocabulary snapshot in parallel,
    then apply the reference updates per sample in order, replaying any
    sample whose snapshot result could be stale.  Returns the replay count
    (telemetry for tests)."""
    results = _classify_batch_distributed(spark, batch, v.entries)
    touched: dict[str, set] = {lang: set() for lang in LANGUAGES}
    replays = 0
    for (seq, winner, tokens, total, n), (_s, raw) in zip(results, batch):
        text = raw if isinstance(raw, str) else ""
        per_lang_tokens: dict[str, list[str]] = {}
        stale = False
        for lang in LANGUAGES:
            toks = split_words(text, lang)
            per_lang_tokens[lang] = toks
            tl = touched[lang]
            if tl and any(t in tl for t in toks):
                stale = True
                break
        if stale:
            replays += 1
            res = v.classify(text, adjust=True)  # pure reference path
            for lang in LANGUAGES:
                _score, words = res.per_language[lang]
                touched[lang].update(words)
        else:
            # exact replay of classify() using the snapshot result: no
            # touched-overlap means every gate outcome and token score this
            # sample reads is unchanged since the snapshot
            for lang in LANGUAGES:
                toks = per_lang_tokens[lang]
                vocab = v.entries[lang]
                if toks and any(t in vocab for t in toks):
                    for t in toks:
                        if t not in vocab:
                            vocab[t] = (0.0, False)
                            touched[lang].add(t)
            if n > ADJUST_THRESHOLD:
                vocab = v.entries[winner]
                mean = total / n
                for t in tokens:
                    score, is_axiom = vocab[t]
                    if not is_axiom:
                        vocab[t] = ((score + mean) / 2.0, False)
                touched[winner].update(tokens)
    return replays

