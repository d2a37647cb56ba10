"""Text-analysis operators: fingerprinting, token counting, language-ID
heuristic -- the remaining training-data-pipeline text ops.

* ``fingerprint_df``     -- 61-bit polynomial rolling hash of the text
  (mod 2^61-1, base 131), computed row-locally in an Arrow batch with a
  numpy Horner loop.  Used for cheap content addressing / shard-stable
  sampling.  (The md5 alternative is exact-dedup; a rolling hash supports
  windowed substring fingerprints too.)
* ``bpe_token_count_df`` -- whitespace tokens plus a BPE-ish subword count:
  number of matches of a GPT-2-style pre-tokenizer regex (word pieces,
  numbers, punctuation runs).  JVM-side regexp_count -- no Python.
* ``langid_heuristic_df`` -- stopword-profile scorer: score(doc, lang) =
  matched profile words / tokens; argmax with (score desc, lang asc)
  tie-break.  Profiles are learned in-query (top-N frequent words per
  labeled language), so the operator is self-contained and SQL-expressible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..plans.cache_registry import cache as _cached

FP_MOD = (1 << 61) - 1
FP_BASE = 131

# GPT-2-ish pre-tokenizer shape, reduced to the RE2/Java-common subset:
# contractions, letter runs, digit runs, non-space-non-alnum runs.
BPE_REGEX = r"'[a-z]+|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def fingerprint_df(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for text in pdf[text_col]:
                h = 0
                for o in np.frombuffer(
                    (text or "").encode("utf-32-le"), dtype=np.uint32
                ).tolist():
                    h = (h * FP_BASE + o) % FP_MOD
                out.append(h)
            yield pd.DataFrame({"doc_id": pdf[id_col], "fp": out})

    return docs.mapInPandas(run, schema="doc_id long, fp long")


def bpe_token_count_df(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long").alias("ws_tokens"),
        # F.lit keeps the backslashes out of the SQL-string parser (an
        # expr("regexp_count(..., \"..\\s..\")") literal would eat them)
        F.regexp_count(F.col(text_col), F.lit(BPE_REGEX)).cast("long").alias("bpe_tokens"),
    )


def lang_profile_df(labeled: DataFrame, profile_size: int = 8) -> DataFrame:
    """Top-``profile_size`` most-frequent words per language (ties by word
    asc) from labeled (language, text) -- the stopword profile shared by
    the doc-level and segment-level heuristic language IDs."""
    ltoks = labeled.select(
        "language", F.explode(F.split("text", " ")).alias("word")
    ).filter("word <> ''")
    freq = ltoks.groupBy("language", "word").agg(F.count("*").alias("f"))
    wp = W.partitionBy("language").orderBy(F.desc("f"), F.asc("word"))
    return (
        freq.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= profile_size)
        .select("language", "word")
    )


def langid_heuristic_df(docs: DataFrame, labeled: DataFrame,
                        profile_size: int = 8) -> DataFrame:
    """docs: (doc_id, text); labeled: (language, text).  Returns
    (doc_id, pred_lang, score) -- stopword-overlap argmax."""
    profile = lang_profile_df(labeled, profile_size)
    dtoks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter("word <> ''")
    counts = dtoks.groupBy("doc_id").agg(F.count("*").alias("n_tokens"))
    hits = (
        dtoks.join(F.broadcast(profile), "word")
        .groupBy("doc_id", "language")
        .agg(F.count("*").alias("n_hits"))
    )
    scored = hits.join(counts, "doc_id").withColumn(
        "score", F.round(F.col("n_hits") / F.col("n_tokens"), 4)
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("language"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("doc_id", F.col("language").alias("pred_lang"), "score")
    )


def code_switch_df(docs: DataFrame, labeled: DataFrame,
                   seg_tokens: int = 12,
                   profile_size: int = 8) -> DataFrame:
    """Code-switching detection: language-ID the doc's fixed-size token
    SEGMENTS independently and report per-doc mixture stats.  A doc-level
    argmax hides a document that flips language mid-way (interleaved
    translations, quoted foreign passages, contaminated concatenations);
    segment-level variance is the standard router for 'send to the
    multilingual pipeline / drop' decisions.

    Returns (doc_id, n_segments, n_langs, dom_lang, dom_share,
    code_switched) over docs with >= 1 profile-hitting segment; segments
    with no profile hits carry no prediction and are excluded from the
    mixture (consistent in the oracle).  Ties: segment argmax by rounded
    score desc then language asc; dominant language by segment count desc
    then language asc.

    Scale shape: the profile is vocab-top-k and broadcasts; segment
    scoring is the same hit-join + count algebra as the doc-level op,
    keyed by (doc_id, seg); the token stream is persisted (segment sizes
    + hits both consume it)."""
    profile = lang_profile_df(labeled, profile_size)
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    seg_words = (
        docs.select("doc_id", F.posexplode(toks).alias("pos", "word"))
        .select(
            "doc_id",
            F.floor(F.col("pos") / seg_tokens).cast("int").alias("seg"),
            "word",
        )
        .transform(_cached)
    )
    seg_counts = seg_words.groupBy("doc_id", "seg").agg(
        F.count("*").alias("n")
    )
    hits = (
        seg_words.join(F.broadcast(profile), "word")
        .groupBy("doc_id", "seg", "language")
        .agg(F.count("*").alias("h"))
    )
    scored = hits.join(seg_counts, ["doc_id", "seg"]).withColumn(
        "score", F.round(F.col("h") / F.col("n"), 4)
    )
    w = W.partitionBy("doc_id", "seg").orderBy(
        F.desc("score"), F.asc("language")
    )
    seg_pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("doc_id", "seg", F.col("language").alias("seg_lang"))
        .transform(_cached)
    )
    lang_counts = seg_pred.groupBy("doc_id", "seg_lang").agg(
        F.count("*").alias("c")
    )
    wd = W.partitionBy("doc_id").orderBy(F.desc("c"), F.asc("seg_lang"))
    dom = (
        lang_counts.withColumn("rn", F.row_number().over(wd))
        .filter("rn = 1")
        .select(
            "doc_id",
            F.col("seg_lang").alias("dom_lang"),
            F.col("c").alias("dom_cnt"),
        )
    )
    per_doc = seg_pred.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"),
        F.countDistinct("seg_lang").alias("n_langs"),
    )
    return per_doc.join(dom, "doc_id").select(
        "doc_id", "n_segments", "n_langs", "dom_lang",
        F.round(F.col("dom_cnt") / F.col("n_segments"), 4).alias("dom_share"),
        (F.col("n_langs") >= 2).alias("code_switched"),
    )


# unicode normalization: ONE whitespace / control-char inventory (codepoint
# ranges) from which both the Python kernel's regex class and the RE2
# oracle pattern are derived -- Python's str.isspace() and RE2's \s
# disagree off-ASCII (NBSP, ideographic space), so the shared inventory IS
# the contract.
WS_RANGES = [
    (0x09, 0x0D), (0x1C, 0x1F), (0x20, 0x20), (0x85, 0x85), (0xA0, 0xA0),
    (0x1680, 0x1680), (0x2000, 0x200A), (0x2028, 0x2029), (0x202F, 0x202F),
    (0x205F, 0x205F), (0x3000, 0x3000),
]
CTRL_RANGES = [(0x00, 0x08), (0x0E, 0x1B), (0x7F, 0x7F)]


def py_class(ranges) -> str:
    return "".join(
        chr(a) + "-" + chr(b) if b > a else chr(a) for a, b in ranges
    )


def re2_class(ranges) -> str:
    return "".join(
        f"\\x{{{a:x}}}-\\x{{{b:x}}}" if b > a else f"\\x{{{a:x}}}"
        for a, b in ranges
    )


def normalize_text_py(text):
    """Reference kernel: strip control chars -> NFC -> collapse the
    explicit whitespace inventory to single spaces -> trim.

    Controls are stripped BEFORE NFC for two reasons: DuckDB's
    nfc_normalize (utf8proc) truncates at an embedded NUL (found by the
    hypothesis fuzz: nfc_normalize('\x00X') = ''), and a control char
    between a base char and its combining mark would otherwise block
    composition -- strip-first yields the canonical composed form."""
    import re
    import unicodedata

    if text is None:
        return None
    t = re.sub(f"[{py_class(CTRL_RANGES)}]", "", text)
    t = unicodedata.normalize("NFC", t)
    t = re.sub(f"[{py_class(WS_RANGES)}]+", " ", t)
    return t.strip(" ")


def normalize_text_df(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Unicode text normalization (NFC + control strip + whitespace
    collapse) -- the first stage of any real training-data pipeline,
    map-only over Arrow batches.  `changed` marks rows the normalization
    actually altered (NULL-safe: NULL text -> NULL norm, changed=false)."""

    def run(batches):
        import pandas as pd

        for pdf in batches:
            norms, changed = [], []
            for text in pdf[text_col]:
                t = text if isinstance(text, str) else None
                n = normalize_text_py(t)
                norms.append(n)
                changed.append(n != t if t is not None else False)
            yield pd.DataFrame({
                "doc_id": pdf[id_col], "norm_text": norms,
                "changed": changed,
            })

    return docs.mapInPandas(
        run, schema="doc_id long, norm_text string, changed boolean"
    )


def _bpe_apply_merge(toks: DataFrame, winner: DataFrame) -> DataFrame:
    """Apply ONE BPE merge relationally: greedy leftmost non-overlapping
    replacement of the winning adjacent pair within every word.

    Only identical-symbol pairs (l == r) can produce overlapping
    candidates (runs like 'aaaa'); greedy-leftmost there means keeping
    every SECOND candidate of each consecutive-candidate run.  That rule
    is pure window algebra: runs share a group id (non-candidates bump a
    cumulative counter), and a candidate merges iff its rank within the
    run is odd.  toks = (w, freq, i, tok); winner = one row (l, r)."""
    wn = W.partitionBy("w").orderBy("i")
    t = (
        toks.crossJoin(F.broadcast(winner))
        .withColumn("nxt", F.lead("tok").over(wn))
        .withColumn(
            "cand",
            F.coalesce(
                (F.col("tok") == F.col("l")) & (F.col("nxt") == F.col("r")),
                F.lit(False),
            ),
        )
    )
    t = t.withColumn(
        "grpid",
        F.sum(F.when(F.col("cand"), 0).otherwise(1)).over(
            wn.rowsBetween(W.unboundedPreceding, 0)),
    ).withColumn(
        "rn",
        F.sum(F.col("cand").cast("int")).over(
            W.partitionBy("w", "grpid").orderBy("i")
            .rowsBetween(W.unboundedPreceding, 0)),
    )
    t = t.withColumn(
        "keep", F.col("cand") & ((F.col("rn") - 1) % 2 == 0)
    ).withColumn(
        "consumed", F.coalesce(F.lag("keep").over(wn), F.lit(False))
    )
    return (
        t.filter(F.col("keep") | ~F.col("consumed"))
        .select(
            "w", "freq",
            (F.row_number().over(wn) - 1).alias("i"),
            F.when(F.col("keep"), F.concat("tok", "nxt"))
            .otherwise(F.col("tok")).alias("tok"),
        )
    )


def bpe_merge_rounds_df(docs: DataFrame, rounds: int = 2, top: int = 5,
                        text_col: str = "text") -> DataFrame:
    """BPE merge induction (Sennrich, Haddow & Birch 2016): learn the
    first *rounds* byte-pair merges from the corpus and report each
    round's top-*top* adjacent-pair frequencies -- tokenizer TRAINING as
    a relational contract operator.  Each round counts frequency-weighted
    adjacent symbol pairs over the word vocabulary, merges the most
    frequent pair (ties: count desc, left asc, right asc), and re-segments
    greedily leftmost.  All counts are exact integers and the winner is
    selected in-query, so a SQL unroll reproduces every round.

    Scale shape: the ONLY corpus-wide work is the initial word count
    (map-side-combined groupBy); every round after that operates on the
    DISTINCT-WORD table (vocab-sized, Zipf-bounded) with vocab-keyed
    windows -- the classical reason BPE learns from a word-frequency
    dict, not raw text.  At production vocab sizes the per-round winner
    is a 1-row broadcast; *rounds* chains plan stages linearly."""
    words = (
        docs.select(F.explode(F.split(text_col, " ")).alias("w"))
        .filter("w <> ''")
        .groupBy("w").agg(F.count("*").alias("freq"))
    )
    toks = words.select(
        "w", "freq",
        F.posexplode(F.filter(F.split("w", ""), lambda c: c != ""))
        .alias("i", "tok"),
    )
    wn = W.partitionBy("w").orderBy("i")
    outs = []
    for rnd in range(1, rounds + 1):
        pairs = (
            toks.withColumn("nxt", F.lead("tok").over(wn))
            .filter(F.col("nxt").isNotNull())
            .groupBy(F.col("tok").alias("l"), F.col("nxt").alias("r"))
            .agg(F.sum("freq").alias("pair_count"))
        )
        wr = W.orderBy(F.desc("pair_count"), F.asc("l"), F.asc("r"))
        ranked = pairs.withColumn(
            "rnk", F.row_number().over(wr).cast("long"))
        outs.append(
            ranked.filter(F.col("rnk") <= top).select(
                F.lit(rnd).alias("round"), "l", "r", "pair_count", "rnk")
        )
        if rnd < rounds:
            winner = ranked.filter("rnk = 1").select("l", "r")
            toks = _bpe_apply_merge(toks, winner)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
