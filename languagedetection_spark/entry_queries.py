"""Driver-contract query registry: Spark implementation + DuckDB oracle SQL
per operator (SURVEY.md §2 coverage).

Conventions (driver compare is row-count + schema + order-insensitive
value-hash):
* every computed column is aliased identically on both sides;
* double aggregates are rounded (2-6 dp) on both sides to absorb summation-
  order ulps;
* timestamps are emitted as formatted strings (Spark session TZ is UTC,
  DuckDB is UTC-naive);
* ranks/row_numbers are BIGINT on both sides.

Reference-parity queries cite the reference operator (file:line) they
re-express.  The relational classify path (ops 2,6,7,8,10,11 of SURVEY §2)
is exact on the sf documents domain (ASCII [a-z ] text); full multilingual
fidelity incl. per-char CJK is exercised by tests/test_spark_pipeline.py on
the 24-language fixtures instead, because DuckDB cannot host the per-char
tokenizer.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .plans.cache_registry import cache as _cached
from .refmodel.alphabets import ALPHABET, DEAD_LANGUAGES, ISO_TO_LANGUAGE

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _char_class(language: str) -> str:
    """Regex char class for the language's alphabet (compressed to ranges)."""
    cps = sorted(ord(c) for c in ALPHABET[language])
    if not cps:
        return ""
    parts: list[str] = []
    lo = prev = cps[0]
    for c in cps[1:] + [None]:
        if c is not None and c == prev + 1:
            prev = c
            continue
        def esc(cp: int) -> str:
            ch = chr(cp)
            return "\\" + ch if ch in "\\]^-" else ch
        if prev == lo:
            parts.append(esc(lo))
        elif prev == lo + 1:
            parts.append(esc(lo) + esc(prev))
        else:
            parts.append(esc(lo) + "-" + esc(prev))
        if c is not None:
            lo = prev = c
    return "[" + "".join(parts) + "]"


def language_dim_rows() -> list[tuple[str, str, str]]:
    """(iso, language, token_pattern) for live languages -- the op-2 dim.
    Dead languages (Blocked bug, Language.scala:395-399) accept nothing and
    are excluded, exactly as the reference never matches them."""
    rows = []
    for iso, lang in sorted(ISO_TO_LANGUAGE.items()):
        if lang in DEAD_LANGUAGES:
            continue
        rows.append((iso, lang, f"^{_char_class(lang)}+$"))
    return rows


def _dim_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        language_dim_rows(), "iso string, language string, token_pattern string"
    )


def _dim_values_sql(alias: str = "dim") -> str:
    rows = ", ".join(
        "('{}', '{}', '{}')".format(iso, lang, pat)
        for iso, lang, pat in language_dim_rows()
    )
    return f"(VALUES {rows}) AS {alias}(iso, language, token_pattern)"


# shared CTE text for the DuckDB classify pipeline ---------------------------

def _classify_cte() -> str:
    return f"""
WITH dim AS (SELECT * FROM {_dim_values_sql()}),
labeled AS (
    SELECT m.language, m.token_pattern, d.text
    FROM documents d JOIN dim m ON d.lang = m.iso
    WHERE d.source = 'src0'
),
vocab AS (
    -- CAST: a bare 1.0 literal is DECIMAL(2,1) in DuckDB and sum() widens it
    -- to DECIMAL(38,1); Spark emits DOUBLE.  Values are integer-valued sums
    -- (exact in both), so DOUBLE is value-identical but type-exact.
    SELECT DISTINCT l.language, t.word, CAST(1.0 AS DOUBLE) AS score
    FROM labeled l,
         LATERAL (SELECT unnest(string_split_regex(lower(l.text), '\\s+'))
                  AS word) t
    WHERE t.word <> '' AND regexp_matches(t.word, l.token_pattern)
),
toks AS (
    SELECT d.doc_id, t.word
    FROM documents d,
         LATERAL (SELECT unnest(string_split_regex(lower(d.text), '\\s+'))
                  AS word) t
    WHERE t.word <> ''
),
scored AS (
    SELECT toks.doc_id, v.language, sum(v.score) AS score
    FROM toks JOIN vocab v ON toks.word = v.word
    GROUP BY toks.doc_id, v.language
),
ranked AS (
    SELECT doc_id, language, score,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, language) AS rn
    FROM scored
)
"""


# ---------------------------------------------------------------------------
# Reference-operator parity on `documents`
# ---------------------------------------------------------------------------


def lang_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-2 Language.forName (Language.scala:448-474): name-resolution as a
    broadcast dim join; unknown names drop (inner join), dead languages have
    no dim row."""
    d = _t(spark, sf_dir, "documents")
    dim = _dim_df(spark).select("iso", "language")
    return d.join(F.broadcast(dim), d.lang == dim.iso).select(
        "doc_id", "language"
    )


LANG_RESOLUTION_SQL = f"""
SELECT d.doc_id, m.language
FROM documents d JOIN {_dim_values_sql("m")} ON d.lang = m.iso
"""


def tokenize_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-3 tokenizer + explode (Language.scala:85-90) + frequency count.
    On the documents domain ([a-z ] text) the generic filter is the identity,
    so the split is the whole tokenizer."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            F.explode(F.split(F.lower(F.col("text")), "\\s+")).alias("word")
        )
        .filter("word <> ''")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


TOKENIZE_EXPLODE_SQL = r"""
SELECT t.word, count(*) AS cnt
FROM documents d,
     LATERAL (SELECT unnest(string_split_regex(lower(d.text), '\s+')) AS word) t
WHERE t.word <> ''
GROUP BY t.word
"""


def vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ops 6/14 supervised axiom load (Language.scala:45-48,322-323):
    distinct (language, word) with score 1.0 from the labeled subset
    (source='src0'), gated by each language's alphabet char-class."""
    d = _t(spark, sf_dir, "documents").filter("source = 'src0'")
    dim = _dim_df(spark)
    # dictionary-encode first: distinct (language, word) pairs are tiny
    # relative to token occurrences, and the non-foldable rlike compiles its
    # pattern per evaluated row -- gate AFTER the distinct, not before.
    pairs = (
        d.join(F.broadcast(dim), d.lang == dim.iso)
        .select("language", "token_pattern",
                F.explode(
                    F.split(F.lower(F.col("text")), "\\s+")
                ).alias("word"))
        .filter("word <> ''")
        .distinct()
    )
    return (
        pairs.filter(F.expr("word rlike token_pattern"))
        .select(
            "language", "word", F.lit(1.0).alias("score"),
            F.lit(True).alias("is_axiom"),
        )
    )


VOCAB_BUILD_SQL = f"""
WITH labeled AS (
    SELECT m.language, m.token_pattern, d.text
    FROM documents d JOIN {_dim_values_sql("m")} ON d.lang = m.iso
    WHERE d.source = 'src0'
)
SELECT DISTINCT l.language, t.word, CAST(1.0 AS DOUBLE) AS score,
       TRUE AS is_axiom
FROM labeled l,
     LATERAL (SELECT unnest(string_split_regex(lower(l.text), '\\s+'))
              AS word) t
WHERE t.word <> '' AND regexp_matches(t.word, l.token_pattern)
"""


def classify_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ops 7/8/10/11 as a relational composition: explode tokens (with
    duplicates -- Language.scala:353 counts each occurrence), join the axiom
    vocab (existence gate is implied: no match, no row), sum scores, argmax
    with the pinned (score desc, language asc) tie-break, winner threshold
    > 0.0001 (trivially true for axiom sums)."""
    vocab = vocab_build(spark, sf_dir).select("language", "word", "score")
    d = _t(spark, sf_dir, "documents")
    # the sf parquet is a single row group -> one input split; spread the
    # map work (at real scale the scan itself yields thousands of splits)
    d = d.repartition(spark.sparkContext.defaultParallelism)
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "\\s+")).alias("word"),
    ).filter("word <> ''")
    scored = (
        toks.join(F.broadcast(vocab), "word")
        .groupBy("doc_id", "language")
        .agg(F.sum("score").alias("score"))
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("language"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1 AND score > 0.0001")
        .select(
            "doc_id",
            F.col("language").alias("pred_lang"),
            F.round("score", 4).alias("score"),
        )
    )


CLASSIFY_SQL = (
    _classify_cte()
    + """
SELECT doc_id, language AS pred_lang, round(score, 4) AS score
FROM ranked WHERE rn = 1 AND score > 0.0001
"""
)


def classify_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME classification through the production Arrow-batch kernel
    (FilterModel over mapInPandas) -- shares the relational oracle SQL, so
    the driver gate proves kernel == relational == DuckDB."""
    from .functions.kernels import FilterModel
    from .operators.training import axiom_rows_df
    from .refmodel.classifier import Vocabulary
    from .refmodel.quality import TrigramModel

    d = _t(spark, sf_dir, "documents")
    dim = _dim_df(spark)
    labeled = (
        d.filter("source = 'src0'")
        .join(F.broadcast(dim), d.lang == dim.iso)
        .select("language", "text")
    )
    # distributed axiom build: only the model-sized distinct (language,
    # word) aggregate reaches the driver (== load_labeled on every row)
    v = Vocabulary()
    for r in axiom_rows_df(labeled).collect():
        v.entries[r["language"]][r["word"]] = (1.0, True)
    model = FilterModel.from_vocabulary(v, TrigramModel.train([]))
    bc = spark.sparkContext.broadcast(model)
    d = d.repartition(spark.sparkContext.defaultParallelism)

    def run(batches):
        import pandas as pd

        m = bc.value
        for pdf in batches:
            langs, scores = [], []
            for text in pdf["text"]:
                lang, conf = m.classify_text(text if isinstance(text, str) else "")
                langs.append(lang)
                scores.append(round(conf, 4) if lang is not None else None)
            out = pd.DataFrame(
                {"doc_id": pdf["doc_id"], "pred_lang": langs, "score": scores}
            )
            yield out[out["pred_lang"].notna()]

    return d.mapInPandas(run, schema="doc_id long, pred_lang string, score double")


def accuracy_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-18 (TrainingResult.scala:45-56): correct/incorrect counts and
    fail-rate; rows without a known truth label (unknown lang name) are
    dropped upstream (op-1 semantics), no-winner rows count in neither."""
    preds = classify_relational(spark, sf_dir)
    d = _t(spark, sf_dir, "documents")
    dim = _dim_df(spark).select("iso", F.col("language").alias("true_lang"))
    truth = d.join(F.broadcast(dim), d.lang == dim.iso).select(
        "doc_id", "true_lang"
    )
    joined = truth.join(preds, "doc_id", "left")
    return joined.agg(
        F.sum((F.col("pred_lang") == F.col("true_lang")).cast("int")).cast("long").alias("n_correct"),
        F.sum(
            (F.col("pred_lang").isNotNull() & (F.col("pred_lang") != F.col("true_lang"))).cast("int")
        ).cast("long").alias("n_wrong"),
        F.round(
            F.sum(((F.col("pred_lang").isNotNull()) & (F.col("pred_lang") != F.col("true_lang"))).cast("int"))
            / F.sum((F.col("pred_lang").isNotNull()).cast("int")),
            6,
        ).alias("fail_rate"),
    )


ACCURACY_SQL = (
    _classify_cte()
    + """
, preds AS (
    SELECT doc_id, language AS pred_lang
    FROM ranked WHERE rn = 1 AND score > 0.0001
),
truth AS (
    SELECT d.doc_id, m.language AS true_lang
    FROM documents d JOIN dim m ON d.lang = m.iso
)
SELECT CAST(sum(CASE WHEN p.pred_lang = t.true_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(sum(CASE WHEN p.pred_lang IS NOT NULL AND p.pred_lang <> t.true_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_wrong,
       round(sum(CASE WHEN p.pred_lang IS NOT NULL AND p.pred_lang <> t.true_lang THEN 1 ELSE 0 END)
             / CAST(sum(CASE WHEN p.pred_lang IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE), 6) AS fail_rate
FROM truth t LEFT JOIN preds p ON t.doc_id = p.doc_id
"""
)


# ---------------------------------------------------------------------------
# Training-data pipeline ops: dedup / text stats / scrub
# ---------------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on text, keep the min doc_id per group."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count("*").alias("n_copies"),
    ).select("keep_doc_id", "n_copies")


DEDUP_EXACT_SQL = """
SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents GROUP BY text
"""


def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + distinct + mean token length."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter("word <> ''")
    return toks.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("word").alias("n_distinct"),
        F.round(F.avg(F.length("word")), 4).alias("avg_len"),
    )


DOC_TOKEN_STATS_SQL = """
SELECT d.doc_id, count(*) AS n_tokens,
       count(DISTINCT t.word) AS n_distinct,
       round(avg(length(t.word)), 4) AS avg_len
FROM documents d,
     LATERAL (SELECT unnest(string_split(d.text, ' ')) AS word) t
WHERE t.word <> ''
GROUP BY d.doc_id
"""


def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: length + lexical-diversity keep rule."""
    stats = doc_token_stats(spark, sf_dir)
    return stats.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("n_distinct") / F.col("n_tokens"), 4).alias("distinct_ratio"),
        (
            (F.col("n_tokens") >= 5)
            & ((F.col("n_distinct") / F.col("n_tokens")) > 0.2)
        ).alias("keep"),
    )


DOC_QUALITY_SQL = """
WITH stats AS (
    SELECT d.doc_id, count(*) AS n_tokens, count(DISTINCT t.word) AS n_distinct
    FROM documents d,
         LATERAL (SELECT unnest(string_split(d.text, ' ')) AS word) t
    WHERE t.word <> ''
    GROUP BY d.doc_id
)
SELECT doc_id, n_tokens,
       round(n_distinct / CAST(n_tokens AS DOUBLE), 4) AS distinct_ratio,
       (n_tokens >= 5 AND n_distinct / CAST(n_tokens AS DOUBLE) > 0.2) AS keep
FROM stats
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 salient terms by an EXACT tf-idf surrogate: score =
    tf / df (both integers; the division is one correctly-rounded IEEE op,
    so Spark and DuckDB agree bit-for-bit -- unlike ln-based idf, where
    libm ulp drift could flip the ranking).  Deterministic tie-break
    (score desc, term asc); keyword extraction is the provenance/topic
    signal of a training-data pipeline.

    Scale shape: tokens aggregate with map-side combine; the doc-frequency
    side is vocab-sized and joins back on the SAME term hash partitioning
    Catalyst already produced for the tf aggregate; the per-doc window
    re-shuffles only (doc_id, term, tf, df) rows."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter("term <> ''")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(df_, "term").withColumn(
        "score", F.col("tf") / F.col("df")
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter("rk <= 3")
        .select("doc_id", "term", "tf", "df",
                F.round("score", 6).alias("tfidf"))
    )


TFIDF_TOP_TERMS_SQL = """
WITH toks AS (
    SELECT d.doc_id, t.term
    FROM documents d,
         LATERAL (SELECT unnest(string_split(d.text, ' ')) AS term) t
    WHERE t.term <> ''
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
    SELECT tf.doc_id, tf.term, tf.tf, df.df,
           CAST(tf.tf AS DOUBLE) / df.df AS score
    FROM tf JOIN df USING (term)
)
SELECT doc_id, term, tf, df, round(score, 6) AS tfidf
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rk
    FROM scored
)
WHERE rk <= 3
"""


def doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per doc -- the classic degenerate-
    text detector (low entropy = repetitive/keyboard-mash/padding).  H =
    log2(n) - sum(c*log2(c))/n over per-char counts; rounded to 4 dp on
    both sides to absorb libm ulp differences between Spark's Math.log
    and DuckDB's log2.  Docs with no chars (empty/NULL text) emit no row
    on either side."""
    d = _t(spark, sf_dir, "documents")
    chars = d.select(
        "doc_id", F.explode(F.split("text", "")).alias("ch")
    ).filter("ch <> ''")
    counts = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    return counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_chars"),
        F.round(
            F.log2(F.sum("c")) - F.sum(F.col("c") * F.log2("c")) / F.sum("c"),
            4,
        ).alias("entropy"),
    )


DOC_CHAR_ENTROPY_SQL = """
WITH chars AS (
    SELECT doc_id, substr(text, i.i, 1) AS ch
    FROM documents, LATERAL (
        SELECT unnest(generate_series(1, length(text))) AS i
    ) i
),
counts AS (SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch)
-- CAST: DuckDB widens integer sum() to HUGEINT (int128); Spark emits int64.
-- The driver hashes TYPED values, so an uncast sum hash-mismatches even when
-- every numeric value is equal (CORRECTNESS_r03 adjudication).
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
       round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 4) AS entropy
FROM counts GROUP BY doc_id
"""


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus inverted-index posting stats: per term with document
    frequency >= 5, (df, total tf, min/max posting doc_id).  The posting-
    list build is the backbone of substring search / contamination lookup
    over a corpus; stats are pure integer aggregates (exact parity).

    Scale shape: one map-side-combined groupBy(term); output is
    vocab-sized, independent of corpus size, and the hot-term skew
    ('the') is absorbed by partial aggregation -- each input partition
    emits at most one row per term."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter("term <> ''")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    return (
        tf.groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.sum("tf").alias("total_tf"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .filter("df >= 5")
    )


INVERTED_INDEX_SQL = """
WITH toks AS (
    SELECT d.doc_id, t.term
    FROM documents d,
         LATERAL (SELECT unnest(string_split(d.text, ' ')) AS term) t
    WHERE t.term <> ''
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term)
-- CAST to BIGINT: see DOC_CHAR_ENTROPY_SQL (HUGEINT vs int64 driver-hash artifact)
SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM tf GROUP BY term HAVING count(*) >= 5
"""


def nb_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distilled quality classifier (the GPT-3/CCNet pattern: train a
    cheap model on labels from an expensive or rule-based filter, then
    deploy the model): multinomial Naive Bayes over unigrams, labels =
    the doc_quality_score keep rule, add-one smoothing, per-doc log-odds
    = sum_w c_dw * [ln p(w|keep) - ln p(w|drop)] + ln(P(keep)/P(drop)).

    Scale shape: class-conditional counts are two vocab-sized map-side-
    combined aggregates; the per-doc scoring join is vocab-keyed (the
    contract form — at 100 TB you'd hash the features into fixed buckets
    exactly as vocab_drift_psi does, same plan, bounded model).  The
    ln ulp drift between engines is absorbed by the 4 dp round, and the
    nb_keep boolean is derived from the ROUNDED score so both engines
    threshold the identical value."""
    d = _t(spark, sf_dir, "documents")
    # persists (exchange-reuse lesson): labels is a full sub-query consumed
    # by the class counts AND the prior; toks feeds training and scoring;
    # cls (vocab-sized) feeds the totals and the log-ratio join
    labels = doc_quality_score(spark, sf_dir).select(
        "doc_id", "keep"
    ).transform(_cached)
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter("w <> ''").transform(_cached)
    lt = toks.join(labels, "doc_id")
    cls = lt.groupBy("w").agg(
        F.sum(F.col("keep").cast("long")).alias("ck"),
        F.sum((~F.col("keep")).cast("long")).alias("cd"),
    ).transform(_cached)
    tot = cls.agg(
        F.sum("ck").alias("nk"), F.sum("cd").alias("nd"),
        F.count("*").alias("v"),
    )
    lr = cls.crossJoin(F.broadcast(tot)).select(
        "w",
        (
            F.log((F.col("ck") + 1.0) / (F.col("nk") + F.col("v")))
            - F.log((F.col("cd") + 1.0) / (F.col("nd") + F.col("v")))
        ).alias("lr"),
    )
    prior = labels.agg(
        F.log(
            (F.sum(F.col("keep").cast("long")) + 1.0)
            / (F.sum((~F.col("keep")).cast("long")) + 1.0)
        ).alias("lp")
    )
    per = toks.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    return (
        per.join(lr, "w")
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_tokens"),
             F.sum(F.col("c") * F.col("lr")).alias("s"))
        .crossJoin(F.broadcast(prior))
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("s") + F.col("lp"), 4).alias("log_odds"),
            (F.round(F.col("s") + F.col("lp"), 4) > 0).alias("nb_keep"),
        )
    )


NB_QUALITY_SQL = """
WITH toks AS (
    SELECT d.doc_id, t.w
    FROM documents d,
         LATERAL (SELECT unnest(string_split(d.text, ' ')) AS w) t
    WHERE t.w <> ''
),
stats AS (
    SELECT doc_id, count(*) AS n_tokens, count(DISTINCT w) AS n_distinct
    FROM toks GROUP BY doc_id
),
labels AS (
    SELECT doc_id,
           (n_tokens >= 5 AND n_distinct / CAST(n_tokens AS DOUBLE) > 0.2)
               AS keep
    FROM stats
),
cls AS (
    SELECT t.w,
           sum(CASE WHEN l.keep THEN 1 ELSE 0 END) AS ck,
           sum(CASE WHEN l.keep THEN 0 ELSE 1 END) AS cd
    FROM toks t JOIN labels l USING (doc_id)
    GROUP BY t.w
),
tot AS (SELECT sum(ck) AS nk, sum(cd) AS nd, count(*) AS v FROM cls),
lr AS (
    SELECT w,
           ln((ck + 1.0) / CAST(nk + v AS DOUBLE))
         - ln((cd + 1.0) / CAST(nd + v AS DOUBLE)) AS lr
    FROM cls, tot
),
prior AS (
    SELECT ln((sum(CASE WHEN keep THEN 1 ELSE 0 END) + 1.0)
            / (sum(CASE WHEN keep THEN 0 ELSE 1 END) + 1.0)) AS lp
    FROM labels
),
per AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY doc_id, w)
SELECT per.doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       round(sum(c * lr.lr) + any_value(prior.lp), 4) AS log_odds,
       round(sum(c * lr.lr) + any_value(prior.lp), 4) > 0 AS nb_keep
FROM per JOIN lr USING (w) CROSS JOIN prior
GROUP BY per.doc_id
"""


def pipeline_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compiled-regex PII/toxicity scrub through the production kernel
    (FilterModel.scrub inside mapInPandas).  PII is synthesized
    deterministically in-query (the sf documents contain none), so this
    checks Python-re vs RE2 pattern parity end to end."""
    from .functions.kernels import FilterModel

    model = FilterModel({}, {}, {})
    bc = spark.sparkContext.broadcast(model)
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            # coalesce: concat is NULL-propagating, and a NULL raw would
            # reach the scrub kernel as None (crash) while the oracle's ||
            # would emit NULL -- both sides pin '' instead
            F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 40),
            F.lit(" contact user"), F.col("doc_id"),
            F.lit("@example.com or 192.168.0."), F.col("doc_id") % 256,
            F.lit(" ssn 123-45-6789 frak"),
        ).alias("raw"),
    )

    def run(batches):
        import pandas as pd

        m = bc.value
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "scrubbed_text": [
                        m.scrub(t) if isinstance(t, str) else None
                        for t in pdf["raw"]
                    ],
                }
            )

    return d.mapInPandas(run, schema="doc_id long, scrubbed_text string")


_SCRUB_SQL_CHAIN = (
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
    "regexp_replace(regexp_replace(regexp_replace(raw, "
    "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), "
    "'\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b', '<SSN>', 'g'), "
    "'\\b[0-9]{4}[ -][0-9]{4}[ -][0-9]{4}[ -][0-9]{4}\\b', '<CARD>', 'g'), "
    "'\\+?[0-9]{1,3}[ -.]?\\(?[0-9]{3}\\)?[ -.][0-9]{3}[ -.][0-9]{4}\\b', '<PHONE>', 'g'), "
    "'\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IPV4>', 'g'), "
    "'https?://[^\\s]+', '<URL>', 'g'), "
    "'(?i)\\b(?:frak|gorram|smeg|felgercarb)\\b', '<TOXIC>', 'g')"
)

PIPELINE_SCRUB_SQL = f"""
WITH raws AS (
    SELECT doc_id,
           substring(coalesce(text, ''), 1, 40) || ' contact user' || doc_id ||
           '@example.com or 192.168.0.' || (doc_id % 256) ||
           ' ssn 123-45-6789 frak' AS raw
    FROM documents
)
SELECT doc_id, {_SCRUB_SQL_CHAIN} AS scrubbed_text FROM raws
"""


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style training-sequence packing: documents are concatenated in
    deterministic doc_id order into a token stream chunked into 2048-token
    sequences; each doc reports the sequence its first token lands in, its
    start offset in the stream, and whether it straddles a sequence
    boundary.  Exact integer window arithmetic (the running sum is the
    same prefix-scan as word_cumsum)."""
    seq_len = 2048
    d = _t(spark, sf_dir, "documents")
    # doc_id is the pack-order key: a NULL key has no defined position in
    # the stream (and a None bucket crashes the driver-side offset sort —
    # ADVICE r4), so the domain excludes it on BOTH sides
    toks = d.filter("doc_id IS NOT NULL").select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda t: t != ""))
        .alias("n_tokens"),
    )
    # Hierarchical prefix sum (r3 VERDICT "what's wrong" #3): a corpus-wide
    # Window.orderBy("doc_id") executes as ONE task holding every row.  The
    # scale-safe form buckets by a PURE function of doc_id (monotone fixed-
    # width ranges -- deterministic, so no persist is needed to keep the two
    # passes consistent), aggregates per-bucket token totals (a B-row
    # collect), and adds the broadcast cumulative offset to a per-bucket
    # local running sum.  Bit-identical to the global scan because buckets
    # are ascending disjoint doc_id intervals.
    bounds = toks.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).collect()[0]
    if bounds["lo"] is None:           # empty corpus: empty result
        cum = toks.withColumn("end_off", F.lit(None).cast("long"))
    else:
        n_buckets = max(spark.sparkContext.defaultParallelism, 1)
        width = max(
            (int(bounds["hi"]) - int(bounds["lo"])) // n_buckets + 1, 1
        )
        bucket = F.floor(
            (F.col("doc_id") - F.lit(int(bounds["lo"]))) / width
        ).cast("long")
        btoks = toks.withColumn("bkt", bucket)
        # every bucket present in the data gets an offset row (an all-NULL
        # bucket sums to NULL -> contributes 0 but still needs its offset)
        bsums = sorted(
            (r["bkt"], int(r["s"]) if r["s"] is not None else 0)
            for r in btoks.groupBy("bkt")
            .agg(F.sum("n_tokens").alias("s")).collect()
        )
        offs: list = []
        acc = 0
        for b, s in bsums:
            offs.extend([F.lit(b), F.lit(acc).cast("long")])
            acc += s
        off_map = F.create_map(*offs) if offs else F.create_map()
        wl = (
            W.partitionBy("bkt").orderBy("doc_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        cum = btoks.withColumn(
            "end_off",
            off_map[F.col("bkt")] + F.sum("n_tokens").over(wl),
        )
    return cum.select(
        "doc_id",
        "n_tokens",
        (F.col("end_off") - F.col("n_tokens")).alias("start_off"),
        F.floor((F.col("end_off") - F.col("n_tokens")) / seq_len)
        .cast("long").alias("seq_id"),
        F.when(F.col("n_tokens") == 0, F.lit(False)).otherwise(
            F.floor((F.col("end_off") - 1) / seq_len)
            > F.floor((F.col("end_off") - F.col("n_tokens")) / seq_len)
        ).alias("straddles"),
    )


SEQUENCE_PACKING_SQL = """
WITH toks AS (
    SELECT doc_id,
           len(list_filter(string_split(text, ' '), t -> t <> ''))
               AS n_tokens
    FROM documents
    WHERE doc_id IS NOT NULL
),
cum AS (
    SELECT doc_id, n_tokens,
           sum(n_tokens) OVER (ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS end_off
    FROM toks
)
SELECT doc_id, n_tokens,
       CAST(end_off - n_tokens AS BIGINT) AS start_off,
       CAST(floor((end_off - n_tokens) / 2048.0) AS BIGINT) AS seq_id,
       CASE WHEN n_tokens = 0 THEN false
            ELSE floor((end_off - 1) / 2048.0)
                 > floor((end_off - n_tokens) / 2048.0) END AS straddles
FROM cum
"""


def word_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus frequency-of-frequencies (the Zipf / Good-Turing spectrum):
    for each corpus frequency f, how many distinct words occur exactly f
    times.  The classic corpus-health readout (a healthy crawl has a long
    hapax tail; boilerplate-heavy corpora do not).  Pure integer
    aggregates; two map-side-combined groupBys whose outputs are vocab-
    then spectrum-sized."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split("text", " ")).alias("word")
    ).filter("word <> ''")
    freq = toks.groupBy("word").agg(F.count("*").alias("f"))
    return freq.groupBy("f").agg(F.count("*").alias("n_words"))


WORD_FREQ_SPECTRUM_SQL = """
WITH toks AS (
    SELECT t.word
    FROM documents d,
         LATERAL (SELECT unnest(string_split(d.text, ' ')) AS word) t
    WHERE t.word <> ''
),
freq AS (SELECT word, count(*) AS f FROM toks GROUP BY word)
SELECT f, count(*) AS n_words FROM freq GROUP BY f
"""


def langid_hashed_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed char-n-gram language ID, relational form:
    hash(char 3-grams) -> 2^14 buckets (md5-based, engine-portable),
    per-language add-one-smoothed log-probs learned in-query from the
    labeled subset, classify every doc by mean bucket log-prob, argmax with
    the pinned tie-break.  (The Arrow-kernel twin lives in
    functions/fasttext.py; this form is DuckDB-checkable.)"""
    d = _t(spark, sf_dir, "documents")
    dim = _dim_df(spark).select("iso", "language")

    # char 3-grams via substr over a position sequence (JVM-side).  Rows
    # with < 3 chars are filtered FIRST: sequence(1, 0) descends in Spark
    # ([1, 0]), fabricating phantom grams that generate_series never emits.
    def grams(frame, *id_cols):
        idx = F.sequence(F.lit(1), F.length("text") - 2)
        g = F.explode(F.transform(idx, lambda i: F.col("text").substr(i, F.lit(3))))
        return frame.filter(F.length("text") >= 3).select(
            *id_cols, g.alias("g")
        )

    bucket = (
        F.conv(F.substring(F.md5(F.col("g")), 1, 8), 16, 10).cast("long")
        % 16384
    ).alias("b")

    labeled = d.filter("source = 'src0'").join(
        F.broadcast(dim), d.lang == dim.iso
    ).select("language", "text")
    lg = grams(labeled, "language").select("language", bucket)
    counts = lg.groupBy("language", "b").agg(F.count("*").alias("c"))
    totals = counts.groupBy("language").agg(
        F.sum("c").alias("total"), F.count("*").alias("vsize")
    )
    model = counts.join(totals, "language").select(
        "language", "b",
        F.log((F.col("c") + 1.0) / (F.col("total") + F.col("vsize") + 1.0)).alias("logp"),
    )
    backoff = totals.select(
        "language",
        F.log(1.0 / (F.col("total") + F.col("vsize") + 1.0)).alias("bo"),
    )

    dg = grams(d, "doc_id").select("doc_id", bucket)
    # a gram missing from a language's table contributes that language's
    # backoff; present grams contribute their logp
    per_lang = (
        dg.crossJoin(F.broadcast(backoff))
        .join(F.broadcast(model),
              ["b", "language"], "left")
        .groupBy("doc_id", "language")
        .agg(
            F.round(F.avg(F.coalesce("logp", "bo")), 6).alias("mean_logp")
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("mean_logp"), F.asc("language"))
    return (
        per_lang.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("doc_id", F.col("language").alias("pred_lang"), "mean_logp")
    )


LANGID_HASHED_SQL = f"""
WITH dim AS (SELECT * FROM {_dim_values_sql()}),
labeled AS (
    SELECT m.language, d.text
    FROM documents d JOIN dim m ON d.lang = m.iso
    WHERE d.source = 'src0'
),
lg AS (
    SELECT l.language,
           ('0x' || substr(md5(t.g), 1, 8))::BIGINT % 16384 AS b
    FROM labeled l,
         LATERAL (SELECT unnest(list_transform(
             generate_series(1, greatest(length(l.text) - 2, 0)),
             i -> substr(l.text, i, 3))) AS g) t
),
counts AS (SELECT language, b, count(*) AS c FROM lg GROUP BY 1, 2),
totals AS (
    SELECT language, sum(c) AS total, count(*) AS vsize
    FROM counts GROUP BY 1
),
model AS (
    SELECT c.language, c.b, ln((c.c + 1.0) / (t.total + t.vsize + 1.0)) AS logp
    FROM counts c JOIN totals t ON c.language = t.language
),
backoff AS (
    SELECT language, ln(1.0 / (total + vsize + 1.0)) AS bo FROM totals
),
dg AS (
    SELECT d.doc_id,
           ('0x' || substr(md5(t.g), 1, 8))::BIGINT % 16384 AS b
    FROM documents d,
         LATERAL (SELECT unnest(list_transform(
             generate_series(1, greatest(length(d.text) - 2, 0)),
             i -> substr(d.text, i, 3))) AS g) t
),
per_lang AS (
    SELECT dg.doc_id, bk.language,
           round(avg(coalesce(m.logp, bk.bo)), 6) AS mean_logp
    FROM dg CROSS JOIN backoff bk
    LEFT JOIN model m ON m.b = dg.b AND m.language = bk.language
    GROUP BY dg.doc_id, bk.language
)
SELECT doc_id, language AS pred_lang, mean_logp
FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY mean_logp DESC, language) AS rn
    FROM per_lang
) WHERE rn = 1
"""


_HAN26 = "一二三四五六七八九十百千万上下左右中大小人口手日月火"


def tokenize_per_char(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-4 (Language.scala:407-413) HOSTED in the contract: the [a-z]
    fixture text is deterministically transliterated to Han (translate
    a->一 ... z->火), run through the refmodel's per-char tokenizer for
    Chinese (each valid letter char = one token, spaces drop), and
    exploded with token position.  All 26 mapped chars are verified
    members of the Chinese alphabet (Han script), so the oracle reduces
    to a positional character explode -- which is exactly the per-char
    semantics being pinned."""
    from .refmodel.tokenizer import split_words

    d = _t(spark, sf_dir, "documents").filter("doc_id % 17 = 0")

    def run(batches):
        import pandas as pd

        table = str.maketrans(
            dict(zip("abcdefghijklmnopqrstuvwxyz", _HAN26))
        )
        for pdf in batches:
            out = {"doc_id": [], "pos": [], "ch": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                t2 = (text if isinstance(text, str) else "").translate(table)
                for i, tok in enumerate(split_words(t2, "chinese")):
                    out["doc_id"].append(doc_id)
                    out["pos"].append(i)
                    out["ch"].append(tok)
            yield pd.DataFrame(out)

    return d.select("doc_id", "text").mapInPandas(
        run, "doc_id long, pos int, ch string"
    )


def _chinese_keep_ranges() -> list[tuple[int, int]]:
    """Merged BMP codepoint ranges of EXACTLY the chars the per-char
    tokenizer keeps for Chinese (java-letter AND Han-script membership,
    tokenizer.py:71-77) -- derived from the refmodel itself so the SQL
    twin's keep-set is provably the kernel's keep-set, off-domain input
    included (ADVICE r2: uppercase/digits/punctuation survive translate
    and must be dropped by BOTH sides, not just Python)."""
    from .refmodel.alphabets import ALPHABET
    from .refmodel.tokenizer import _is_java_letter

    alpha = ALPHABET["chinese"]
    ranges: list[list[int]] = []
    for cp in range(0x10000):
        if _is_java_letter(chr(cp)) and chr(cp) in alpha:
            if ranges and cp == ranges[-1][1] + 1:
                ranges[-1][1] = cp
            else:
                ranges.append([cp, cp])
    return [(a, b) for a, b in ranges]


_CHINESE_KEEP_PRED = " OR ".join(
    f"unicode(ch) BETWEEN {a} AND {b}" for a, b in _chinese_keep_ranges()
)

TOKENIZE_PER_CHAR_SQL = f"""
WITH t AS (
    SELECT doc_id,
           translate(text, 'abcdefghijklmnopqrstuvwxyz', '{_HAN26}') AS tx
    FROM documents WHERE doc_id % 17 = 0
),
chars AS (
    SELECT doc_id, i.i, substr(tx, i.i, 1) AS ch
    FROM t, LATERAL (
        SELECT unnest(generate_series(1, length(tx))) AS i
    ) i
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS INT)
           AS pos,
       ch
FROM chars WHERE {_CHINESE_KEEP_PRED}
"""


# ---------------------------------------------------------------------------
# Dedup family (exact / MinHash-LSH / components / decontamination)
# ---------------------------------------------------------------------------

# near-dup test corpus: documents UNION truncated copies (first 40 words) of
# every 10th doc -- deterministic on both engines, guaranteeing real overlap
_NEARDUP_SQL_CTE = """
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id,
           array_to_string(list_slice(string_split(text, ' '), 1, 40), ' ') AS text
    FROM documents WHERE doc_id % 10 = 0
),
shingles AS (
    SELECT DISTINCT c.doc_id, s.shingle
    FROM corpus c,
         LATERAL (
             SELECT unnest(list_transform(
                 generate_series(1, greatest(len(string_split(c.text, ' ')) - 2, 0)),
                 i -> array_to_string(list_slice(string_split(c.text, ' '), i, i + 2), ' ')
             )) AS shingle
         ) s
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id)
"""


def _neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    copies = d.filter("doc_id % 10 = 0").select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(F.slice(F.split("text", " "), 1, 40), " ").alias("text"),
    )
    return d.select("doc_id", "text").unionAll(copies)


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG/embedding-style sliding-window chunking: each doc splits into
    32-token windows at stride 24 (8-token overlap keeps context across
    boundaries).  A doc with n <= 32 tokens is one chunk; otherwise
    ceil((n - 32) / 24) + 1 chunks, the last one short.  Complements
    sequence_packing (which chunks the CONCATENATED corpus stream for
    training; this chunks per-doc for retrieval).

    Scale shape: pure map-side explode — no shuffle at all; output rows
    ~n/24 per doc."""
    win, stride = 32, 24
    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    n = F.size(toks)
    n_chunks = (
        F.when(n <= win, F.lit(1))
        .otherwise(F.floor((n - win + (stride - 1)) / stride) + 1)
        .cast("int")
    )
    ex = d.filter(n >= 1).select(
        "doc_id",
        toks.alias("ts"),
        n.alias("n_tokens"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("cid"),
    )
    return ex.select(
        "doc_id",
        F.col("cid").cast("long").alias("chunk_id"),
        (F.col("cid") * stride).cast("long").alias("start_tok"),
        F.least(F.lit(win), F.col("n_tokens") - F.col("cid") * stride)
        .cast("long").alias("chunk_len"),
        F.array_join(
            F.slice("ts", F.col("cid") * stride + 1, win), " "
        ).alias("chunk_text"),
    )


DOC_CHUNKS_SQL = """
WITH toks AS (
    SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
    FROM documents
),
base AS (
    SELECT doc_id, ts, len(ts) AS n,
           CASE WHEN len(ts) <= 32 THEN 1
                ELSE CAST(floor((len(ts) - 32 + 23) / 24.0) AS INT) + 1
           END AS nch
    FROM toks WHERE len(ts) >= 1
)
SELECT doc_id,
       CAST(c.c AS BIGINT) AS chunk_id,
       CAST(c.c * 24 AS BIGINT) AS start_tok,
       CAST(least(32, n - c.c * 24) AS BIGINT) AS chunk_len,
       array_to_string(
           list_slice(ts, c.c * 24 + 1, c.c * 24 + 32), ' ') AS chunk_text
FROM base, LATERAL (SELECT unnest(generate_series(0, nch - 1)) AS c) c
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import dedup_minhash_lsh_df

    return dedup_minhash_lsh_df(_neardup_corpus(spark, sf_dir), 0.5)


# the 12-hash MinHash signatures, as a CTE over _NEARDUP_SQL_CTE's shingles:
# shared by _MINHASH_PAIRS_CTES and LSH_BAND_SWEEP_SQL, so every MinHash
# oracle uses the one hash family
_MINHASH_CTE = """
, minh AS (
    -- exact twin of minhash_signatures_df: base = lower 64 bits of md5
    -- (md5_number_lower == int.from_bytes(digest[8:], 'little')), then
    -- h_i = (A_i * (base mod P) + B_i) mod P with P = 2^31 - 1 and
    -- A_i = 1000003*(i+1) mod P, B_i = 999983*i + 12345 mod P
    SELECT s.doc_id, i.i,
           min((CAST((1000003 * (i.i + 1)) % 2147483647 AS BIGINT)
                * CAST(md5_number_lower(s.shingle) % 2147483647 AS BIGINT)
                + (999983 * i.i + 12345) % 2147483647) % 2147483647) AS hmin
    FROM shingles s, (SELECT unnest(generate_series(0, 11)) AS i) i
    GROUP BY s.doc_id, i.i
)"""

# the verified MinHash-LSH pairs: shared by DEDUP_MINHASH_SQL and
# DEDUP_COMPONENTS_SQL, so the pair oracle and the closure oracle cannot
# drift apart
_MINHASH_PAIRS_CTES = (
    _MINHASH_CTE
    + """,
banded AS (
    -- the band-frequency guard (cap 256) mirrors _band_freq_guard: band
    -- buckets fuller than the cap are dropped from candidate generation
    SELECT doc_id, b, key FROM (
        SELECT doc_id, CAST(i // 4 AS INT) AS b,
               string_agg(hmin::VARCHAR, '_' ORDER BY i) AS key
        FROM minh GROUP BY doc_id, i // 4
    ) QUALIFY count(*) OVER (PARTITION BY b, key) <= 256
),
pairs AS (
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM banded x JOIN banded y ON x.b = y.b AND x.key = y.key
    WHERE x.doc_id < y.doc_id
),
inter AS (
    SELECT p.doc_a, p.doc_b, count(*) AS n_inter
    FROM pairs p
    JOIN shingles sa ON sa.doc_id = p.doc_a
    JOIN shingles sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
    GROUP BY p.doc_a, p.doc_b
),
verified AS (
    SELECT i.doc_a, i.doc_b,
           round(n_inter / CAST(za.n_sh + zb.n_sh - n_inter AS DOUBLE), 4)
               AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.doc_a
    JOIN sizes zb ON zb.doc_id = i.doc_b
    WHERE n_inter / CAST(za.n_sh + zb.n_sh - n_inter AS DOUBLE) >= 0.5
)
"""
)

DEDUP_MINHASH_SQL = (
    _NEARDUP_SQL_CTE
    + _MINHASH_PAIRS_CTES
    + """
SELECT doc_a, doc_b, jaccard FROM verified
"""
)


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment over the pairs ``--dedup minhash``
    clusters: MinHash-LSH candidates verified at Jaccard >= 0.5 ->
    transitive closure -> one canonical keeper per cluster
    (operators/dedup.py::dedup_components_df, iterative min-label
    propagation, as dedup_minhash_keep_first composes it).  The DuckDB
    oracle recomputes the closure with a recursive CTE over the same
    verified pairs, so the distributed label-propagation rounds are
    checked against an independent sequential algorithm."""
    from .operators.dedup import dedup_components_df, dedup_minhash_lsh_df

    corpus = _neardup_corpus(spark, sf_dir)
    pairs = dedup_minhash_lsh_df(corpus, 0.5)
    return dedup_components_df(corpus.select("doc_id"), pairs)


DEDUP_COMPONENTS_SQL = (
    _NEARDUP_SQL_CTE.replace("WITH corpus", "WITH RECURSIVE corpus", 1)
    + _MINHASH_PAIRS_CTES
    + """
, edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM verified
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM verified
),
comp AS (
    SELECT doc_id, doc_id AS label FROM corpus
    UNION
    SELECT e.dst AS doc_id, c.label
    FROM comp c JOIN edges e ON e.src = c.doc_id
),
final AS (SELECT doc_id, min(label) AS canonical_id FROM comp GROUP BY doc_id)
SELECT doc_id, canonical_id,
       count(*) OVER (PARTITION BY canonical_id) AS cluster_size
FROM final
"""
)


def _shingles_sql_from(src: str) -> str:
    """DuckDB twin of operators.dedup.shingle_df for an arbitrary source
    CTE exposing (doc_id, text)."""
    return f"""
    SELECT DISTINCT c.doc_id, s.shingle
    FROM {src} c,
         LATERAL (
             SELECT unnest(list_transform(
                 generate_series(1, greatest(len(string_split(c.text, ' ')) - 2, 0)),
                 i -> array_to_string(list_slice(string_split(c.text, ' '), i, i + 2), ' ')
             )) AS shingle
         ) s
"""


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/dedup.py::
    contamination_overlap_df): flag corpus docs sharing >= 2 distinct
    3-gram shingles with a benchmark set (here: a 20-word excerpt of every
    97th doc, simulating eval data scraped from the same sources).  The
    stop-shingle guard prunes the corpus side exactly like the ngram dedup
    path."""
    from .operators.dedup import contamination_overlap_df

    d = _t(spark, sf_dir, "documents")
    bench = d.filter("doc_id % 97 = 0").select(
        "doc_id",
        F.array_join(F.slice(F.split("text", " "), 5, 20), " ").alias("text"),
    )
    return contamination_overlap_df(d, bench, min_overlap=2)


DECONTAMINATE_SQL = f"""
WITH corpus_sh AS (
{_shingles_sql_from('documents')}
),
freqok AS (
    SELECT doc_id, shingle FROM corpus_sh
    QUALIFY count(*) OVER (PARTITION BY shingle) <= 128
),
bench AS (
    SELECT doc_id,
           array_to_string(list_slice(string_split(text, ' '), 5, 24), ' ')
               AS text
    FROM documents WHERE doc_id % 97 = 0
),
bench_sh AS (
    SELECT DISTINCT shingle FROM (
{_shingles_sql_from('bench')}
    )
)
SELECT f.doc_id, count(*) AS n_overlap
FROM freqok f JOIN bench_sh b ON f.shingle = b.shingle
GROUP BY f.doc_id
HAVING count(*) >= 2
"""


def bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (operators/dedup.py::
    bloom_decontaminate_df): the benchmark's shingles fold into a 4096-bit
    filter (3 md5-derived positions each) that ships as ONE literal mask,
    and the corpus side probes it map-only -- the constant-size-broadcast
    twin of `decontaminate`, no false negatives by construction.  Same
    benchmark slice as `decontaminate` so the two flag sets are directly
    comparable."""
    from .operators.dedup import bloom_decontaminate_df

    d = _t(spark, sf_dir, "documents")
    bench = d.filter("doc_id % 97 = 0").select(
        "doc_id",
        F.array_join(F.slice(F.split("text", " "), 5, 20), " ").alias("text"),
    )
    return bloom_decontaminate_df(d, bench, min_overlap=2)


BLOOM_DECONTAMINATE_SQL = f"""
WITH corpus_sh AS (
{_shingles_sql_from('documents')}
),
bench AS (
    SELECT doc_id,
           array_to_string(list_slice(string_split(text, ' '), 5, 24), ' ')
               AS text
    FROM documents WHERE doc_id % 97 = 0
),
bench_sh AS (
    SELECT DISTINCT shingle FROM (
{_shingles_sql_from('bench')}
    )
),
hashes AS (SELECT unnest(generate_series(0, 2)) AS i),
bits AS (  -- the Bloom filter: distinct set positions, <= 4096 rows
    SELECT DISTINCT
           ('0x' || substr(md5(h.i::VARCHAR || ':' || b.shingle), 1, 8))
               ::BIGINT % 4096 AS pos
    FROM bench_sh b, hashes h
),
cpos AS (
    SELECT s.doc_id, s.shingle,
           ('0x' || substr(md5(h.i::VARCHAR || ':' || s.shingle), 1, 8))
               ::BIGINT % 4096 AS pos
    FROM corpus_sh s, hashes h
),
shit AS (  -- a shingle hits iff ALL 3 of its positions are set
    SELECT doc_id, shingle,
           count(*) FILTER (WHERE pos IN (SELECT pos FROM bits)) AS nset
    FROM cpos GROUP BY doc_id, shingle
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(count(*) FILTER (WHERE nset = 3) AS BIGINT) AS n_hit
FROM shit GROUP BY doc_id
HAVING count(*) FILTER (WHERE nset = 3) >= 2
"""


# ---------------------------------------------------------------------------
# Text analysis, fold checks, filter cascade and later additions
# ---------------------------------------------------------------------------


def holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-13 shuffle+holdout (Language.scala:335-341) re-expressed as a
    DETERMINISTIC hash split (the reference's Random.shuffle is unseeded --
    documented deviation): md5 of the key, first hex digit <= '4' ->
    unlabeled (~5/16)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.when(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) <= "4",
            F.lit("unlabeled"),
        ).otherwise(F.lit("labeled")).alias("split"),
    )


HOLDOUT_SPLIT_SQL = """
SELECT doc_id,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= '4'
            THEN 'unlabeled' ELSE 'labeled' END AS split
FROM documents
"""


def confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-20 (TrainingResult.scala:114-131) as a proper (true, pred) count
    matrix -- we do NOT reproduce the reference's positional misalignment
    (a presentation bug, SURVEY §2 op-20)."""
    preds = classify_relational(spark, sf_dir)
    d = _t(spark, sf_dir, "documents")
    dim = _dim_df(spark).select("iso", F.col("language").alias("true_lang"))
    truth = d.join(F.broadcast(dim), d.lang == dim.iso).select(
        "doc_id", "true_lang"
    )
    return (
        truth.join(preds, "doc_id", "left")
        .groupBy("true_lang", F.coalesce("pred_lang", F.lit("<none>")).alias("pred_lang"))
        .agg(F.count("*").alias("n"))
    )


CONFUSION_SQL = (
    _classify_cte()
    + """
, preds AS (
    SELECT doc_id, language AS pred_lang
    FROM ranked WHERE rn = 1 AND score > 0.0001
),
truth AS (
    SELECT d.doc_id, m.language AS true_lang
    FROM documents d JOIN dim m ON d.lang = m.iso
)
SELECT t.true_lang, coalesce(p.pred_lang, '<none>') AS pred_lang,
       count(*) AS n
FROM truth t LEFT JOIN preds p ON t.doc_id = p.doc_id
GROUP BY 1, 2
"""
)


def langid_fasttext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production fastText-style detector (functions/fasttext.py): numpy
    rolling-hash n-gram buckets + searchsorted log-prob lookup, broadcast
    model, map-only.  Emits both the plain mean-log-prob scoring and the
    prior-corrected (`*_pc`) scoring that subtracts each language's backoff
    baseline, removing the smallest-table bias on fully-OOV text.
    DuckDB-oracle-checked value-for-value: the wrapping-uint64 polynomial
    hash is reproduced exactly in SQL via HUGEINT arithmetic, because
    ``(V mod 2^64) mod 2^18 == V mod 2^18`` (see LANGID_FASTTEXT_SQL)."""
    from .functions.fasttext import (
        langid_fasttext_df,
        train_hashed_ngram_distributed,
    )

    d = _t(spark, sf_dir, "documents")
    dim = _dim_df(spark)
    labeled = (
        d.filter("source = 'src0'")
        .join(F.broadcast(dim), d.lang == dim.iso)
        .select("language", "text")
    )
    # distributed training: the labeled subset is corpus-proportional, so
    # it must never be collected -- only the (language, bucket) count table
    # reaches the driver (bit-identical to HashedNgramModel.train)
    model = train_hashed_ngram_distributed(labeled)
    bc = spark.sparkContext.broadcast(model)
    return langid_fasttext_df(
        d.repartition(spark.sparkContext.defaultParallelism), bc
    )


def _ft_grams_sql(src: str, id_col: str) -> str:
    """SQL twin of functions/fasttext.py::text_buckets for one source CTE
    (which must expose a normalized text column ``t``).

    The numpy kernel folds ``h = h * 1000003 + codepoint`` in wrapping
    uint64 and takes ``h & (2^18 - 1)``.  Because 2^18 divides 2^64,
    ``(V mod 2^64) mod 2^18 == V mod 2^18`` for the full-precision
    polynomial V — so HUGEINT arithmetic on the expanded polynomial
    reproduces every bucket exactly, no wrap emulation needed."""
    blocks = []
    for n in (2, 3, 4):
        terms = " + ".join(
            f"CAST(unicode(substr(t, s.i + {j}, 1)) AS HUGEINT)"
            + (f" * {1000003 ** (n - 1 - j)}" if n - 1 - j > 0 else "")
            for j in range(n)
        )
        blocks.append(
            f"    SELECT {id_col}, CAST(({terms}) % 262144 AS BIGINT) AS b\n"
            f"    FROM {src}, LATERAL (SELECT unnest(generate_series(\n"
            f"        1, length(t) - {n - 1})) AS i) s"
        )
    return "\nUNION ALL\n".join(blocks)


LANGID_FASTTEXT_SQL = f"""
WITH dim AS (SELECT * FROM {_dim_values_sql()}),
docs AS (
    SELECT doc_id, lang, source,
           lower(trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')))
               AS t
    FROM documents
),
labeled AS (
    SELECT m.language, d.t FROM docs d JOIN dim m ON d.lang = m.iso
    WHERE d.source = 'src0'
),
lg AS (
{_ft_grams_sql('labeled', 'language')}
),
counts AS (SELECT language, b, count(*) AS c FROM lg GROUP BY 1, 2),
totals AS (
    SELECT language, sum(c) AS total, count(*) AS vsize FROM counts GROUP BY 1
),
model AS (
    SELECT c.language, c.b,
           ln((c.c + 1.0) / (t.total + t.vsize + 1.0)) AS logp
    FROM counts c JOIN totals t ON c.language = t.language
),
backoff AS (
    SELECT language, ln(1.0 / (total + vsize + 1.0)) AS bo FROM totals
),
dg AS (
{_ft_grams_sql('docs', 'doc_id')}
),
per_lang AS (
    SELECT dg.doc_id, bk.language,
           avg(coalesce(m.logp, bk.bo)) AS mean_logp,
           avg(CASE WHEN m.logp IS NOT NULL
                    THEN m.logp - bk.bo ELSE 0.0 END) AS pc
    FROM dg CROSS JOIN backoff bk
    LEFT JOIN model m ON m.b = dg.b AND m.language = bk.language
    GROUP BY dg.doc_id, bk.language
),
plain AS (
    SELECT doc_id, language, mean_logp,
           mean_logp - lead(mean_logp) OVER w AS margin,
           row_number() OVER w AS rn
    FROM per_lang WINDOW w AS (PARTITION BY doc_id
                               ORDER BY mean_logp DESC, language)
),
pcw AS (
    SELECT doc_id, language, pc,
           pc - lead(pc) OVER w AS margin,
           row_number() OVER w AS rn
    FROM per_lang WINDOW w AS (PARTITION BY doc_id
                               ORDER BY pc DESC, language)
)
SELECT d.doc_id,
       p.language AS ft_lang,
       round(coalesce(p.mean_logp, 0.0), 6) AS ft_score,
       round(coalesce(p.margin, 0.0), 6) AS ft_margin,
       q.language AS ft_lang_pc,
       round(coalesce(q.pc, 0.0), 6) AS ft_score_pc,
       round(coalesce(q.margin, 0.0), 6) AS ft_margin_pc
FROM docs d
LEFT JOIN (SELECT * FROM plain WHERE rn = 1) p ON d.doc_id = p.doc_id
LEFT JOIN (SELECT * FROM pcw WHERE rn = 1) q ON d.doc_id = q.doc_id
"""


def mean_adjust_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-12 (Language.scala:254-255,361): the order-sensitive online
    mean-adjust fold, via ``train_fold_streamed`` -- axioms built with a
    distributed explode/distinct, unlabeled texts streamed through the
    driver one partition at a time, micro-batches classified in parallel
    against the batch-start snapshot, and updates (model-sized state only)
    applied in sample order with staleness replay.  Bit-identical to the
    pure sequential reference fold at any batch size; no full-table
    ``collect`` anywhere.

    The oracle is the GOLDEN output of the pure-Python reference fold
    (fixtures/fold_goldens.py, regenerated by tools/gen_fold_goldens.py and
    drift-pinned in tests), selected per scale factor by the lineitem row
    count -- the strongest check an inherently sequential operator admits."""
    from .operators.training import train_fold_streamed

    d = _t(spark, sf_dir, "documents")
    dim = _dim_df(spark)
    labeled = (
        d.filter("source = 'src0'")
        .join(F.broadcast(dim), d.lang == dim.iso)
        .select("language", "text")
    )
    unlabeled = d.filter("source <> 'src0'").select("doc_id", "text")
    v = train_fold_streamed(spark, labeled, unlabeled, batch_size=512)
    out = [
        (lang, word, round(score, 6), is_axiom)
        for lang, word, score, is_axiom in v.rows()
    ]
    return spark.createDataFrame(
        out, "language string, word string, score double, is_axiom boolean"
    )


def _fold_goldens_sql() -> str:
    """DuckDB oracle for the sequential fold: the golden rows of the PURE
    reference fold, selected by the lineitem row count (which uniquely
    fingerprints each driver sf).  ``current_goldens`` validates the
    frozen rows against the live documents fingerprint and recomputes the
    pure fold where the fixture changed, so a regenerated testdata dir
    can never serve a stale golden."""
    from .fixtures.fold_oracle import current_goldens

    folds, _ = current_goldens()
    rows = []
    for key, fold in sorted(folds.items()):
        for lang, word, score, ax in fold:
            w = word.replace("'", "''")
            rows.append(
                f"({key}, '{lang}', '{w}', {score!r}, "
                f"{'TRUE' if ax else 'FALSE'})"
            )
    values = ",\n    ".join(rows)
    # the sentinel branch makes a fixture with NO golden key fail loudly
    # ('NO GOLDEN ...' in the diff) instead of as a bare row-count
    # mismatch against zero oracle rows (ADVICE r2)
    return f"""
WITH sfkey AS (SELECT count(*) AS c FROM lineitem),
golden(sfc, language, word, score, is_axiom) AS (VALUES
    {values})
SELECT language, word, CAST(score AS DOUBLE) AS score, is_axiom
FROM golden WHERE sfc = (SELECT c FROM sfkey)
UNION ALL
SELECT 'NO GOLDEN FOR lineitem count ' || (SELECT c FROM sfkey),
       'regenerate via tools/gen_fold_goldens.py',
       CAST(0.0 AS DOUBLE), FALSE
WHERE NOT EXISTS (SELECT 1 FROM golden WHERE sfc = (SELECT c FROM sfkey))
"""


def _axiom_dist_goldens_sql() -> str:
    from .fixtures.fold_oracle import current_goldens

    _, dists = current_goldens()
    rows = []
    for key, dist in sorted(dists.items()):
        for lang, n_ax, n_ind in dist:
            rows.append(f"({key}, '{lang}', {n_ax}, {n_ind})")
    values = ",\n    ".join(rows)
    return f"""
WITH sfkey AS (SELECT count(*) AS c FROM lineitem),
golden(sfc, language, n_axioms, n_inductions) AS (VALUES
    {values})
SELECT language, CAST(n_axioms AS BIGINT) AS n_axioms,
       CAST(n_inductions AS BIGINT) AS n_inductions
FROM golden WHERE sfc = (SELECT c FROM sfkey)
UNION ALL
SELECT 'NO GOLDEN FOR lineitem count ' || (SELECT c FROM sfkey),
       CAST(0 AS BIGINT), CAST(0 AS BIGINT)
WHERE NOT EXISTS (SELECT 1 FROM golden WHERE sfc = (SELECT c FROM sfkey))
"""


MEAN_ADJUST_SQL = _fold_goldens_sql()
AXIOM_DIST_SQL = _axiom_dist_goldens_sql()


def pipeline_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL quality-filter decision cascade, relationally (DataFrame ops
    only) so DuckDB can check every branch: vocab langid (ops 7/8/10/11) ->
    add-one-smoothed char-trigram log-perplexity (KenLM-style, mirroring
    refmodel.quality.TrigramModel exactly) -> heuristics (length,
    repetition; symbol_ratio is identically 0 on this [a-z ] domain) ->
    drop_reason precedence -> keep.  The Arrow-kernel twin of this cascade
    is pytest-verified against the pure oracle on the multilingual
    fixtures; THIS query puts the same cascade under the DuckDB gate."""
    d = _t(spark, sf_dir, "documents")
    dim = _dim_df(spark)

    # ---- langid: winner + conf (same CTEs as classify_relational) --------
    # persisted: consumed by BOTH the perplexity join and the final cascade
    # join, and the classify subplan is itself a 6-exchange query -- without
    # the cache the whole langid pipeline runs twice (exchange-reuse lesson)
    preds = classify_relational(spark, sf_dir).select(
        "doc_id", "pred_lang", F.col("score").alias("lang_conf")
    ).transform(_cached)

    # ---- trigram model from the labeled subset ----------------------------
    # (< 3-char rows filtered first -- Spark's sequence(1, 0) descends)
    def grams(frame, *id_cols):
        idx = F.sequence(F.lit(1), F.length("text") - 2)
        g = F.explode(
            F.transform(idx, lambda i: F.col("text").substr(i, F.lit(3)))
        )
        return frame.filter(F.length("text") >= 3).select(
            *id_cols, g.alias("tri")
        )

    labeled = d.filter("source = 'src0'").join(
        F.broadcast(dim), d.lang == dim.iso
    ).select("language", "text")
    lt = grams(labeled, "language")
    # persisted: model-sized (trigram vocab), consumed by totals AND the
    # model join
    counts = lt.groupBy("language", "tri").agg(
        F.count("*").alias("c")
    ).transform(_cached)
    totals = counts.groupBy("language").agg(
        F.sum("c").alias("total"), F.count("*").alias("vsize")
    )
    # refmodel.quality.TrigramModel.train: denom = total + alpha*(vsize+1)
    model = counts.join(totals, "language").select(
        "language", "tri",
        F.log((F.col("c") + 1.0)
              / (F.col("total") + F.col("vsize") + 1.0)).alias("logp"),
    )
    backoff = totals.select(
        "language",
        F.log(1.0 / (F.col("total") + F.col("vsize") + 1.0)).alias("bo"),
    )

    dt = grams(d, "doc_id")
    ppl = (
        dt.join(preds.select("doc_id",
                             F.col("pred_lang").alias("language")), "doc_id")
        .join(F.broadcast(backoff), "language")
        .join(F.broadcast(model), ["language", "tri"], "left")
        .groupBy("doc_id")
        .agg(F.round(-F.avg(F.coalesce("logp", "bo")), 6).alias("ppl"))
    )

    # ---- heuristics --------------------------------------------------------
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter("word <> ''")
    tf = toks.groupBy("doc_id", "word").agg(F.count("*").alias("c"))
    rep = tf.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        (F.max("c") / F.sum("c")).alias("rep"),
    )

    base = d.select("doc_id", F.length(F.trim("text")).alias("n_chars"))
    joined = (
        base.join(rep, "doc_id", "left")
        .join(preds, "doc_id", "left")
        .join(ppl, "doc_id", "left")
    )
    drop = (
        F.when(F.col("n_chars") < 10, "too_short")
        .when(
            (F.coalesce("n_tokens", F.lit(0)) >= 8)
            & (F.coalesce("rep", F.lit(0.0)) > 0.5),
            "repetition",
        )
        .when(F.col("pred_lang").isNull(), "no_lang")
        .when(F.col("lang_conf") < 2.0, "low_lang_conf")
        .when(F.col("ppl") > 7.5, "high_ppl")
    )
    return joined.select(
        "doc_id",
        F.col("pred_lang").alias("lang"),
        F.coalesce("lang_conf", F.lit(0.0)).alias("lang_conf"),
        F.coalesce("ppl", F.lit(0.0)).alias("ppl"),
        drop.alias("drop_reason"),
        drop.isNull().alias("keep"),
    )


PIPELINE_KEEP_SQL = (
    _classify_cte()
    + """
, preds AS (
    SELECT doc_id, language AS pred_lang, score AS lang_conf
    FROM ranked WHERE rn = 1 AND score > 0.0001
),
lt AS (
    SELECT l.language, t.tri
    FROM labeled l,
         LATERAL (SELECT unnest(list_transform(
             generate_series(1, greatest(length(l.text) - 2, 0)),
             i -> substr(l.text, i, 3))) AS tri) t
),
tcounts AS (SELECT language, tri, count(*) AS c FROM lt GROUP BY 1, 2),
ttotals AS (
    SELECT language, sum(c) AS total, count(*) AS vsize
    FROM tcounts GROUP BY 1
),
tmodel AS (
    SELECT c.language, c.tri,
           ln((c.c + 1.0) / (t.total + t.vsize + 1.0)) AS logp
    FROM tcounts c JOIN ttotals t ON c.language = t.language
),
tbackoff AS (
    SELECT language, ln(1.0 / (total + vsize + 1.0)) AS bo FROM ttotals
),
dtris AS (
    SELECT d.doc_id, t.tri
    FROM documents d,
         LATERAL (SELECT unnest(list_transform(
             generate_series(1, greatest(length(d.text) - 2, 0)),
             i -> substr(d.text, i, 3))) AS tri) t
),
ppl AS (
    SELECT dt.doc_id, round(-avg(coalesce(m.logp, b.bo)), 6) AS ppl
    FROM dtris dt
    JOIN preds p ON p.doc_id = dt.doc_id
    JOIN tbackoff b ON b.language = p.pred_lang
    LEFT JOIN tmodel m ON m.language = p.pred_lang AND m.tri = dt.tri
    GROUP BY dt.doc_id
),
tf AS (
    SELECT d.doc_id, t.word, count(*) AS c
    FROM documents d,
         LATERAL (SELECT unnest(string_split(d.text, ' ')) AS word) t
    WHERE t.word <> ''
    GROUP BY d.doc_id, t.word
),
rep AS (
    SELECT doc_id, sum(c) AS n_tokens,
           max(c) / CAST(sum(c) AS DOUBLE) AS rep
    FROM tf GROUP BY doc_id
),
joined AS (
    SELECT d.doc_id, length(trim(d.text)) AS n_chars,
           r.n_tokens, r.rep, p.pred_lang, p.lang_conf, x.ppl
    FROM documents d
    LEFT JOIN rep r ON r.doc_id = d.doc_id
    LEFT JOIN preds p ON p.doc_id = d.doc_id
    LEFT JOIN ppl x ON x.doc_id = d.doc_id
)
SELECT doc_id, pred_lang AS lang,
       coalesce(lang_conf, 0.0) AS lang_conf,
       coalesce(ppl, 0.0) AS ppl,
       CASE WHEN n_chars < 10 THEN 'too_short'
            WHEN coalesce(n_tokens, 0) >= 8 AND coalesce(rep, 0.0) > 0.5
                 THEN 'repetition'
            WHEN pred_lang IS NULL THEN 'no_lang'
            WHEN lang_conf < 2.0 THEN 'low_lang_conf'
            WHEN ppl > 7.5 THEN 'high_ppl'
       END AS drop_reason,
       (CASE WHEN n_chars < 10 THEN 'too_short'
            WHEN coalesce(n_tokens, 0) >= 8 AND coalesce(rep, 0.0) > 0.5
                 THEN 'repetition'
            WHEN pred_lang IS NULL THEN 'no_lang'
            WHEN lang_conf < 2.0 THEN 'low_lang_conf'
            WHEN ppl > 7.5 THEN 'high_ppl'
       END) IS NULL AS keep
FROM joined
"""
)


def conv_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level rollup of the decision cascade (the pipeline's
    analytics sink): per source (the documents' conversation analog),
    keep-rate, turn count, dominant language and mean perplexity."""
    decisions = pipeline_keep(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    # persisted: the keep-rate aggregate and the dominant-language window
    # are separately-pruned consumers of the full cascade output -- without
    # the cache the whole pipeline_keep plan runs twice
    joined = decisions.join(d, "doc_id").transform(_cached)
    agg = joined.groupBy("source").agg(
        F.count("*").alias("n_turns"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.round(
            F.sum(F.col("keep").cast("long")) / F.count("*"), 4
        ).alias("keep_rate"),
        F.round(F.avg("ppl"), 6).alias("avg_ppl"),
    )
    # deterministic dominant language: highest conf, ties -> lang asc,
    # doc_id asc (max_by/arg_max tie order is engine-defined, so rank it)
    w = W.partitionBy("source").orderBy(
        F.desc("lang_conf"), F.asc("lang"), F.asc("doc_id")
    )
    top = (
        joined.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("source", F.col("lang").alias("top_lang"))
    )
    return agg.join(top, "source")


CONV_QUALITY_SQL = f"""
WITH decisions AS ({PIPELINE_KEEP_SQL})
, joined AS (
    SELECT x.*, d.source
    FROM decisions x JOIN documents d ON d.doc_id = x.doc_id
),
agg AS (
    SELECT source,
           count(*) AS n_turns,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           round(sum(CASE WHEN keep THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS keep_rate,
           round(avg(ppl), 6) AS avg_ppl
    FROM joined GROUP BY source
),
top AS (
    SELECT source, lang AS top_lang FROM (
        SELECT source, lang,
               row_number() OVER (PARTITION BY source
                                  ORDER BY lang_conf DESC, lang, doc_id) AS rn
        FROM joined
    ) WHERE rn = 1
)
SELECT a.source, a.n_turns, a.n_kept, a.keep_rate, a.avg_ppl, t.top_lang
FROM agg a JOIN top t ON a.source = t.source
"""


def conv_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data export: the pipeline's FINAL stage — kept turns
    reassembled into one ordered document per conversation (source =
    conv key, doc_id = turn order), the exact artifact a pretraining
    ingest consumes downstream of the quality filter.  Composes on the
    full pipeline_keep decision cascade (the established composition
    pattern — conv_quality_report does the same), so the export's kept
    set is the real filter's, not a stand-in rule.

    Deterministic by construction: turn order is doc_id (unique), so
    array_sort(collect_list(struct(doc_id, text))) and DuckDB's
    string_agg(... ORDER BY doc_id) agree exactly; no floats anywhere.

    Scale shape: ONE conv-keyed hash aggregate over the kept rows;
    collect_list partially aggregates (ObjectHashAggregate), so a
    conversation's turns combine map-side before the shuffle.  Output
    row size is bounded by the longest conversation — the known property
    of any reassembly; a pathological conv would be capped upstream with
    the doc_chunks windowing, and the salted-repartition lever
    (CLAUDE.md: salt conv-level aggregates) applies here, not to the
    map-only scoring path.  In production this export is what
    `filter_job --bucketed-table` feeds: the bucketed layout makes this
    very groupBy shuffle-free (tests/test_sinks.py)."""
    d = _t(spark, sf_dir, "documents")
    kept = (
        pipeline_keep(spark, sf_dir)
        .filter("keep")
        .select("doc_id")
        .join(d, "doc_id")
        # a conv whose kept texts are all NULL would export '' from
        # array_join but NULL from the twin's string_agg
        .filter(F.col("text").isNotNull())
        .select("source", "doc_id", "text")
    )
    return (
        kept.groupBy(F.col("source").alias("conv_id"))
        .agg(
            F.count("*").alias("n_turns_kept"),
            F.sum(F.length("text")).cast("long").alias("n_chars"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                    lambda s: s["text"],
                ),
                "\n",
            ).alias("document"),
        )
    )


CONV_EXPORT_SQL = f"""
WITH decisions AS ({PIPELINE_KEEP_SQL})
, kept AS (
    SELECT d.source AS conv_id, d.doc_id, d.text
    FROM documents d JOIN decisions k ON k.doc_id = d.doc_id
    WHERE k.keep AND d.text IS NOT NULL
)
SELECT conv_id,
       count(*) AS n_turns_kept,
       CAST(sum(length(text)) AS BIGINT) AS n_chars,
       string_agg(text, chr(10) ORDER BY doc_id) AS document
FROM kept GROUP BY conv_id
"""


def word_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-21 (TestResult.scala:69-103): the stacked-bar prefix scan -- per
    document, the running sum of word scores in word-position order
    (posexplode + cumulative window).  Scores come from the src0 axiom
    vocabulary; unknown words contribute 0.0 (exactly the matrix padding
    the reference uses)."""
    vocab = vocab_build(spark, sf_dir).select(
        "word", F.lit(1.0).alias("wscore")
    ).distinct()
    d = _t(spark, sf_dir, "documents").filter("doc_id < 50")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos0", "word"),
    ).filter("word <> ''").select(
        "doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "word"
    )
    scored = toks.join(F.broadcast(vocab), "word", "left").select(
        "doc_id", "pos", "word",
        F.coalesce("wscore", F.lit(0.0)).alias("score"),
    )
    w = (
        W.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return scored.select(
        "doc_id", "pos", "word",
        F.round(F.sum("score").over(w), 2).alias("cum_score"),
    )


WORD_CUMSUM_SQL = f"""
WITH labeled AS (
    SELECT m.language, m.token_pattern, d.text
    FROM documents d JOIN {_dim_values_sql("m")} ON d.lang = m.iso
    WHERE d.source = 'src0'
),
vocab AS (
    SELECT DISTINCT t.word, CAST(1.0 AS DOUBLE) AS wscore
    FROM labeled l,
         LATERAL (SELECT unnest(string_split(l.text, ' ')) AS word) t
    WHERE t.word <> '' AND regexp_matches(t.word, l.token_pattern)
),
toks AS (
    SELECT d.doc_id, i.i AS pos,
           list_extract(string_split(d.text, ' '), i.i) AS word
    FROM documents d,
         LATERAL (SELECT unnest(generate_series(1,
             len(string_split(d.text, ' ')))) AS i) i
    WHERE d.doc_id < 50
      AND list_extract(string_split(d.text, ' '), i.i) <> ''
)
SELECT t.doc_id, t.pos, t.word,
       round(sum(coalesce(v.wscore, 0.0)) OVER (
           PARTITION BY t.doc_id ORDER BY t.pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_score
FROM toks t LEFT JOIN vocab v ON t.word = v.word
"""


def axiom_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-19 (TrainingResult.scala:66-79): per language, axiom count vs
    induction count with score != 0.0, over the mean-adjust fold's final
    vocabulary.  Oracle: golden distribution of the pure reference fold
    (fixtures/fold_goldens.py), selected per sf -- see mean_adjust_fold."""
    vocab = mean_adjust_fold(spark, sf_dir)
    return (
        vocab.groupBy("language")
        .agg(
            F.sum(F.col("is_axiom").cast("long")).alias("n_axioms"),
            F.sum(
                ((~F.col("is_axiom")) & (F.col("score") != 0.0)).cast("long")
            ).alias("n_inductions"),
        )
    )


def _src_cache_key(sf_dir: str, table: str) -> str:
    """Cache key for the /tmp stream-source copies: path PLUS the source
    parquet's (size, mtime), so a regenerated testdata dir can never serve
    a stale stream source to the gate."""
    import hashlib as _hl
    import os

    p = os.path.join(sf_dir, f"{table}.parquet")
    try:
        st = os.stat(p)
        sig = f"{sf_dir}:{table}:{st.st_size}:{int(st.st_mtime)}"
    except OSError:
        sig = f"{sf_dir}:{table}"
    return _hl.md5(sig.encode()).hexdigest()[:12]


def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming STATEFUL exact dedup in the contract: the
    documents table plus planted exact copies (every 7th doc) streams
    through ``dropDuplicates`` on the text md5 (state = seen-hash store,
    the streaming twin of dedup_exact); the emitted distinct-hash set must
    equal the batch DISTINCT over the original table -- the oracle.  At
    production scale the state store is RocksDB and a watermark on the
    ingest timestamp bounds it (``dropDuplicatesWithinWatermark``); the
    finite fixture needs neither."""
    import os
    import tempfile

    d = _t(spark, sf_dir, "documents")
    corpus = d.select("text").unionAll(
        d.filter("doc_id % 7 = 0").select("text")
    )
    src = os.path.join(
        tempfile.gettempdir(),
        f"ld_stream_dedup_src_{_src_cache_key(sf_dir, 'documents')}",
    )
    # _SUCCESS sentinel, not bare exists(): a crashed prior run leaves a
    # partial dir that would otherwise be reused forever (ADVICE r3)
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        corpus.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    deduped = stream.select(
        F.md5(F.col("text").cast("binary")).alias("text_hash")
    ).dropDuplicates(["text_hash"])
    name = f"stream_dedup_{_src_cache_key(sf_dir, 'documents')}"
    q = (
        deduped.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


STREAMING_DEDUP_SQL = """
SELECT DISTINCT md5(text) AS text_hash FROM documents
"""


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval over the corpus (k1 = 1.2, b = 0.75): top-20 docs
    for a self-derived query -- the 3 highest-df terms of length >= 6
    (deterministic: df desc, term asc), so the query spec needs no
    magic constants tied to a scale factor.

    Scale shape: tf / df / doclen are the same map-side-combined
    aggregates as the inverted index; the query-term table is 3 rows
    (broadcast), so scoring touches only those terms' postings; the
    final top-20 is orderBy + limit = TakeOrderedAndProject (per-
    partition partial top-k, no global sort).  Sum-over-3-terms FP
    order differences sit below the 6-dp output rounding.  tf and dl
    are persisted -- each feeds two branches (df/qterms + scoring;
    avgdl + scoring) and per-branch pruning defeats exchange reuse
    (measured on the shingle operators: unpersisted, the corpus is
    re-scanned and re-tokenized once per branch)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter("term <> ''")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf")).transform(_cached)
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl")).transform(_cached)
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    qterms = (
        df_.filter(F.length("term") >= 6)
        .orderBy(F.desc("df"), F.asc("term")).limit(3)
    )
    stats = d.agg(F.count("*").alias("n")).crossJoin(
        dl.agg(F.avg("dl").alias("avgdl"))
    )
    idf = F.log(1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tfn = (F.col("tf") * 2.2
           / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))))
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * tfn), 6).alias("bm25"))
    )
    return scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(20)


def source_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (d = 0.85, exactly 3 iterations) over the
    cross-source shingle-overlap graph: edge src->dst weighted by the
    number of distinct word-3-gram shingles the two sources share,
    transition probability w / w_out.
    Centrality here reads as 'duplicate-flow hub-ness' — a source that
    many others' content funnels into is downweighted first in mixture
    curation.

    The iteration count is FIXED so the whole computation unrolls into
    the DuckDB oracle (it1/it2/it3 CTEs); dangling sources receive the
    (1-d)/N base each round (simplified PR, same convention both
    engines).  Intermediate ranks stay full-precision; only the output
    rounds (6 dp), so cross-engine sum-order noise (~1e-16) cannot
    compound across rounds into a visible diff.

    Scale shape: the edge build groups shingles into per-shingle source
    lists capped at |sources|; each iteration is one contribution join
    + one dst-keyed agg — on a big graph, edges pre-partitioned by src
    and ranks broadcast when the node table is small make every round a
    map-side join.  Edges/nodes are persisted (reused every round), and
    the shingle set too (both self-join sides consume it — unpersisted,
    the corpus is scanned and re-shingled twice)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    idx = F.sequence(F.lit(1), F.size(toks) - 2)
    sh = (
        d.filter(F.size(toks) >= 3)
        .select(
            "source",
            F.explode(
                F.transform(
                    idx, lambda i: F.concat_ws(" ", F.slice(toks, i, 3))
                )
            ).alias("shingle"),
        )
        .distinct()
        .transform(_cached)
    )
    a = sh.select(F.col("source").alias("src"), F.col("shingle").alias("s"))
    b = sh.select(F.col("source").alias("dst"), F.col("shingle").alias("s"))
    edges = (
        a.join(b, "s")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )
    out_w = edges.groupBy("src").agg(F.sum("w").alias("w_out"))
    norm = (
        edges.join(out_w, "src")
        .select("src", "dst", (F.col("w") / F.col("w_out")).alias("p_edge"))
        .transform(_cached)
    )
    nodes = d.select("source").distinct().transform(_cached)
    n = nodes.count()  # |sources| — model-sized, never corpus-sized
    if n == 0:
        return nodes.select(
            F.col("source"), F.lit(0.0).alias("pagerank")
        )
    ranks = nodes.select("source", F.lit(1.0 / n).alias("p"))
    for _ in range(3):
        contrib = (
            ranks.join(norm, ranks["source"] == norm["src"])
            .groupBy("dst")
            .agg(F.sum(F.col("p") * F.col("p_edge")).alias("m"))
        )
        ranks = (
            nodes.join(contrib, nodes["source"] == contrib["dst"], "left")
            .select(
                nodes["source"],
                (F.lit(0.15 / n)
                 + 0.85 * F.coalesce(F.col("m"), F.lit(0.0))).alias("p"),
            )
        )
    return ranks.select("source", F.round("p", 6).alias("pagerank"))


def _pagerank_iter_sql(prev: str, cur: str) -> str:
    """One unrolled PR round: cur = 0.15/N + 0.85 * inbound mass."""
    return f"""
{cur} AS (
    SELECT nodes.source,
           0.15 / nn.n + 0.85 * coalesce(c.m, 0.0) AS p
    FROM nodes CROSS JOIN nn
    LEFT JOIN (
        SELECT norm.dst, sum({prev}.p * norm.p_edge) AS m
        FROM {prev} JOIN norm ON {prev}.source = norm.src
        GROUP BY 1
    ) c ON c.dst = nodes.source
)"""


SOURCE_PAGERANK_SQL = f"""
WITH sh AS (
    SELECT DISTINCT d.source, s.shingle
    FROM documents d,
         LATERAL (
             SELECT unnest(list_transform(
                 generate_series(1,
                     greatest(len(string_split(d.text, ' ')) - 2, 0)),
                 i -> array_to_string(
                     list_slice(string_split(d.text, ' '), i, i + 2), ' ')
             )) AS shingle
         ) s
),
edges AS (
    SELECT a.source AS src, b.source AS dst, count(*) AS w
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source <> b.source
    GROUP BY 1, 2
),
norm AS (
    SELECT src, dst,
           w / CAST(sum(w) OVER (PARTITION BY src) AS DOUBLE) AS p_edge
    FROM edges
),
nodes AS (SELECT DISTINCT source FROM documents),
nn AS (SELECT count(*) AS n FROM nodes),
it0 AS (SELECT nodes.source, 1.0 / nn.n AS p FROM nodes CROSS JOIN nn),
{_pagerank_iter_sql("it0", "it1")},
{_pagerank_iter_sql("it1", "it2")},
{_pagerank_iter_sql("it2", "it3")}
SELECT source, round(p, 6) AS pagerank FROM it3
"""


def _cms_bucket(term_col, i: int, width: int = 1024):
    """Count-min-sketch bucket for hash row *i*: md5-family (engine-
    portable: the first 15 hex digits of the md5) -> 60-bit nonnegative
    h -> h % width."""
    h = F.conv(
        F.substring(F.md5(F.concat(term_col, F.lit(f":cms{i}"))), 1, 15),
        16, 10,
    ).cast("bigint")
    return h % F.lit(width)


def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimation for the corpus's top-20 terms,
    with the CMS no-underestimate guarantee verified in-query (cms_est >=
    exact, always true -- a wrong hash/bucket on either engine flips it).

    Why a sketch at 100 TB: the exact term-count agg shuffles a vocab-
    sized table; the CMS is d=3 x w=1024 counters REGARDLESS of corpus or
    vocab size -- map-side combine caps the shuffle at 3072 rows per input
    partition, the merged sketch broadcasts in one packet, and point
    estimates are 3 integer lookups.  The exact side here is the
    verification twin (and supplies the top-20 probe terms); production
    keeps only the sketch.  The token stream is persisted -- sketch build
    and exact twin both consume it (exchange-reuse lesson)."""
    d = _t(spark, sf_dir, "documents")
    toks = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .filter("term <> ''").transform(_cached)
    )

    def three_buckets(term_col):
        return F.explode(F.array(*[
            F.struct(F.lit(i).alias("i"),
                     _cms_bucket(term_col, i).alias("b"))
            for i in range(3)
        ])).alias("ib")

    sketch = (
        toks.select(three_buckets(F.col("term")))
        .select("ib.i", "ib.b")
        .groupBy("i", "b").agg(F.count("*").alias("c"))
    )
    exact = toks.groupBy("term").agg(F.count("*").alias("exact_cnt"))
    top = exact.orderBy(F.desc("exact_cnt"), F.asc("term")).limit(20)
    probes = (
        top.select("term", "exact_cnt", three_buckets(F.col("term")))
        .select("term", "exact_cnt", "ib.i", "ib.b")
    )
    return (
        probes.join(F.broadcast(sketch), ["i", "b"])
        .groupBy("term", "exact_cnt")
        .agg(F.min("c").alias("cms_est"))
        .select(
            "term", "exact_cnt", "cms_est",
            (F.col("cms_est") >= F.col("exact_cnt")).alias("no_underestimate"),
        )
    )


HEAVY_HITTERS_SQL = """
WITH toks AS (
    SELECT t.term
    FROM documents d,
         LATERAL (SELECT unnest(string_split(d.text, ' ')) AS term) t
    WHERE t.term <> ''
),
hashes AS (SELECT unnest([0, 1, 2]) AS i),
sketch AS (
    SELECT h.i AS i,
           ('0x' || substr(md5(term || ':cms' || h.i), 1, 15))::BIGINT
               % 1024 AS b,
           count(*) AS c
    FROM toks, hashes h
    GROUP BY 1, 2
),
exact AS (SELECT term, count(*) AS exact_cnt FROM toks GROUP BY term),
top AS (
    SELECT term, exact_cnt FROM exact
    ORDER BY exact_cnt DESC, term ASC LIMIT 20
),
est AS (
    SELECT t.term, t.exact_cnt, min(s.c) AS cms_est
    FROM top t, hashes h
    JOIN sketch s
      ON s.i = h.i
     AND s.b = ('0x' || substr(md5(t.term || ':cms' || h.i), 1, 15))::BIGINT
               % 1024
    GROUP BY 1, 2
)
SELECT term, exact_cnt, cms_est,
       cms_est >= exact_cnt AS no_underestimate
FROM est
"""


BM25_TOPK_SQL = """
WITH toks AS (
    SELECT d.doc_id, t.term
    FROM documents d,
         LATERAL (SELECT unnest(string_split(d.text, ' ')) AS term) t
    WHERE t.term <> ''
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
qterms AS (
    SELECT term, df FROM df WHERE length(term) >= 6
    ORDER BY df DESC, term ASC LIMIT 3
),
stats AS (
    SELECT (SELECT count(*) FROM documents) AS n,
           (SELECT avg(dl) FROM dl) AS avgdl
)
SELECT tf.doc_id,
       round(sum(
           ln(1.0 + (s.n - q.df + 0.5) / (q.df + 0.5))
           * tf.tf * 2.2
           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))
       ), 6) AS bm25
FROM tf
JOIN qterms q USING (term)
JOIN dl USING (doc_id)
CROSS JOIN stats s
GROUP BY tf.doc_id
ORDER BY bm25 DESC, tf.doc_id ASC
LIMIT 20
"""


def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size profile: how many exact-duplicate clusters
    exist at each size, how many documents they hold, and the surplus
    (docs an exact dedup would remove).  The monitoring readout that runs
    BEFORE committing to a dedup pass — a corpus whose surplus is 0.1 %
    doesn't need one; a crawler bug shows up here as a giant cluster.

    Scale shape: the cluster key is md5(text) so the shuffle rows are
    constant-width (never the document body); both aggregates are
    map-side combined and the second is keyed by cluster SIZE — output
    bounded by the largest crowd, not the corpus."""
    d = _t(spark, sf_dir, "documents").filter("text IS NOT NULL")
    sizes = d.groupBy(F.md5("text").alias("h")).agg(
        F.count("*").alias("sz")
    )
    return (
        sizes.groupBy("sz")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            F.col("sz").alias("cluster_size"),
            "n_clusters",
            (F.col("sz") * F.col("n_clusters")).alias("n_docs"),
            ((F.col("sz") - 1) * F.col("n_clusters")).alias("surplus_docs"),
        )
    )


DEDUP_CLUSTER_STATS_SQL = """
WITH sizes AS (
    SELECT md5(text) AS h, count(*) AS sz
    FROM documents WHERE text IS NOT NULL GROUP BY md5(text)
)
SELECT sz AS cluster_size,
       count(*) AS n_clusters,
       sz * count(*) AS n_docs,
       (sz - 1) * count(*) AS surplus_docs
FROM sizes GROUP BY sz
"""


def token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained data selection (the DCLM/Dolma 'fill the token
    budget with the best documents' step): per source, rank documents by
    a lexical-diversity score (distinct/total token ratio) and keep the
    top-ranked until a 2000-token budget fills.  Emits the kept set with
    each doc's score and the running total that admitted it.

    Scale shape: per-doc scoring is one token-keyed aggregate; the
    cumulative admission is a window PARTITIONED BY source (thousands of
    sources in a real crawl — bounded skew, never a global sort).  If one
    source dwarfs the rest, the scale-safe form is the score-grid
    histogram threshold (cumulative tokens per rounded score, map-only
    filter above the cut, window only inside the single boundary score)."""
    budget = 2000
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("w")
    ).filter("w <> ''")
    per = toks.groupBy("doc_id", "source").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("w").alias("n_distinct"),
    )
    scored = per.withColumn(
        "score",
        F.round(F.col("n_distinct") / F.col("n_tokens").cast("double"), 4),
    )
    w = (
        W.partitionBy("source")
        .orderBy(F.desc_nulls_last("score"), F.asc("doc_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        scored.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget)
        .select("source", "doc_id", "score", "n_tokens", "cum_tokens")
    )


TOKEN_BUDGET_SELECT_SQL = """
WITH toks AS (
    SELECT d.doc_id, d.source, t.w
    FROM documents d,
         LATERAL (SELECT unnest(string_split(d.text, ' ')) AS w) t
    WHERE t.w <> ''
),
scored AS (
    SELECT doc_id, source,
           count(*) AS n_tokens,
           round(count(DISTINCT w) / CAST(count(*) AS DOUBLE), 4) AS score
    FROM toks GROUP BY doc_id, source
),
ranked AS (
    SELECT source, doc_id, score, n_tokens,
           CAST(sum(n_tokens) OVER (
               PARTITION BY source
               ORDER BY score DESC NULLS LAST, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_tokens
    FROM scored
)
SELECT source, doc_id, score, n_tokens, cum_tokens
FROM ranked WHERE cum_tokens <= 2000
"""


def vocab_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor over the vocabulary: per
    language, PSI between the even-doc_id slice (reference) and the
    odd-doc_id slice (current) over 1024 md5 hashed-unigram
    buckets.  PSI > 0.25 is the classic retrain/alert
    threshold — the pipeline-monitoring readout that catches a crawler
    or upstream-source change between ingestion batches.

    Smoothing is add-one over the FULL 1024-bucket domain (empty buckets
    still contribute because slice sizes differ), so the domain is
    completed by exploding a literal 0..1023 range onto the |langs|-row
    totals table — never a corpus-sized op.

    Scale shape: one (lang x 1024)-bounded histogram aggregate with
    map-side combine; everything after is model-sized.  ln ulp drift is
    absorbed by rounding the summed PSI to 4 dp."""
    B = 1024
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        (F.col("doc_id") % 2 == 0).alias("is_ref"),
        F.explode(F.split("text", " ")).alias("w"),
    ).filter("w <> ''")
    bucket = (
        F.conv(F.substring(F.md5(F.col("w")), 1, 8), 16, 10).cast("long")
        % B
    ).alias("b")
    # hist feeds the totals AND the domain-completion join
    hist = (
        toks.select("lang", "is_ref", bucket)
        .groupBy("lang", "b")
        .agg(
            F.sum(F.col("is_ref").cast("long")).alias("cref"),
            F.sum((~F.col("is_ref")).cast("long")).alias("ccur"),
        )
        .transform(_cached)
    )
    totals = hist.groupBy("lang").agg(
        F.sum("cref").alias("nref"), F.sum("ccur").alias("ncur")
    )
    domain = totals.select(
        "lang",
        "nref",
        "ncur",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(B - 1).cast("long"))
        ).alias("b"),
    )
    # hist is (|langs| x 1024)-bounded by construction — broadcast it
    # (derived DF: Catalyst has no stats to discover that on its own)
    full = domain.join(F.broadcast(hist), ["lang", "b"], "left")
    p = (F.coalesce(F.col("cref"), F.lit(0)) + F.lit(1.0)) / (
        F.col("nref") + F.lit(B)
    )
    q = (F.coalesce(F.col("ccur"), F.lit(0)) + F.lit(1.0)) / (
        F.col("ncur") + F.lit(B)
    )
    return (
        full.groupBy("lang", "nref", "ncur")
        .agg(F.round(F.sum((p - q) * F.log(p / q)), 4).alias("psi"))
        .select(
            "lang",
            F.col("nref").alias("n_ref_tokens"),
            F.col("ncur").alias("n_cur_tokens"),
            "psi",
        )
    )


VOCAB_DRIFT_PSI_SQL = """
WITH toks AS (
    SELECT d.lang, (d.doc_id % 2 = 0) AS is_ref, t.w
    FROM documents d,
         LATERAL (SELECT unnest(string_split(d.text, ' ')) AS w) t
    WHERE t.w <> ''
),
tb AS (
    SELECT lang, is_ref,
           ('0x' || substr(md5(w), 1, 8))::BIGINT % 1024 AS b
    FROM toks
),
hist AS (
    SELECT lang, b,
           CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS cref,
           CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS ccur
    FROM tb GROUP BY lang, b
),
totals AS (
    SELECT lang, CAST(sum(cref) AS BIGINT) AS nref,
           CAST(sum(ccur) AS BIGINT) AS ncur
    FROM hist GROUP BY lang
),
dm AS (
    SELECT t.lang, t.nref, t.ncur, g.b
    FROM totals t,
         LATERAL (SELECT unnest(generate_series(0, 1023)) AS b) g
),
terms AS (
    SELECT dm.lang, dm.nref, dm.ncur,
           ((coalesce(h.cref, 0) + 1.0) / (dm.nref + 1024)
            - (coalesce(h.ccur, 0) + 1.0) / (dm.ncur + 1024))
           * ln(((coalesce(h.cref, 0) + 1.0) / (dm.nref + 1024))
                / ((coalesce(h.ccur, 0) + 1.0) / (dm.ncur + 1024))) AS term
    FROM dm LEFT JOIN hist h ON h.lang = dm.lang AND h.b = dm.b
)
SELECT lang, nref AS n_ref_tokens, ncur AS n_cur_tokens,
       round(sum(term), 4) AS psi
FROM terms GROUP BY lang, nref, ncur
"""


def lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH parameter-tuning readout: the SAME 12-hash MinHash signature
    set banded three ways — (2 bands x 6 rows), (3 x 4, the production
    config), (6 x 2) — reporting candidate pairs, verified pairs
    (exact Jaccard >= 0.5), and precision per config.  This is the
    S-curve table a data engineer reads before fixing b x r for a new
    corpus: fewer, taller bands -> high precision / low recall; many
    short bands -> the reverse.

    Scale shape: the signature kernel runs ONCE (persisted) and each
    config re-bands it map-only; every candidate join carries the same
    crowd guard (cap 256) as the production operator; outputs are three
    scalar rows."""
    from .operators.dedup import (
        _band_freq_guard,
        _verify_jaccard,
        minhash_signatures_df,
        shingle_df,
    )

    corpus = _neardup_corpus(spark, sf_dir)
    sh = shingle_df(corpus).transform(_cached)
    sig = (
        minhash_signatures_df(corpus, 12)
        .filter(F.size("sig") > 0)
        .transform(_cached)
    )
    per_config = []
    for bands, rws in [(2, 6), (3, 4), (6, 2)]:
        band_ids = spark.range(bands).select(
            F.col("id").cast("int").alias("b")
        )
        banded = sig.crossJoin(F.broadcast(band_ids)).select(
            "doc_id",
            "b",
            F.expr(
                f"concat_ws('_', slice(sig, b * {rws} + 1, {rws}))"
            ).alias("key"),
        )
        banded = _band_freq_guard(banded, ["b", "key"], 256)
        left = banded.select("b", "key", F.col("doc_id").alias("doc_a"))
        right = banded.select("b", "key", F.col("doc_id").alias("doc_b"))
        pairs = (
            left.join(right, ["b", "key"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
        ver = _verify_jaccard(pairs, sh, 0.5)
        per_config.append(
            pairs.agg(F.count("*").alias("n_candidates"))
            .crossJoin(ver.agg(F.count("*").alias("n_verified")))
            .select(
                F.lit(bands).alias("bands"),
                F.lit(rws).alias("rows_per_band"),
                "n_candidates",
                "n_verified",
                F.when(
                    F.col("n_candidates") > 0,
                    F.round(
                        F.col("n_verified")
                        / F.col("n_candidates").cast("double"),
                        4,
                    ),
                ).alias("lsh_precision"),
            )
        )
    return per_config[0].unionAll(per_config[1]).unionAll(per_config[2])


def _lsh_sweep_config_sql(bands: int, rws: int) -> str:
    """One config's CTE block + result row for LSH_BAND_SWEEP_SQL; the
    minh/shingles/sizes CTEs are shared across configs (minh is
    _MINHASH_CTE, the one DEDUP_MINHASH_SQL uses)."""
    tag = f"{bands}x{rws}"
    return f"""
banded_{tag} AS (
    SELECT doc_id, b, key FROM (
        SELECT doc_id, CAST(i // {rws} AS INT) AS b,
               string_agg(hmin::VARCHAR, '_' ORDER BY i) AS key
        FROM minh GROUP BY doc_id, i // {rws}
    ) QUALIFY count(*) OVER (PARTITION BY b, key) <= 256
),
pairs_{tag} AS (
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM banded_{tag} x JOIN banded_{tag} y
      ON x.b = y.b AND x.key = y.key
    WHERE x.doc_id < y.doc_id
),
cand_{tag} AS (SELECT count(*) AS nc FROM pairs_{tag}),
ver_{tag} AS (
    SELECT count(*) AS nv FROM (
        SELECT i.doc_a FROM (
            SELECT p.doc_a, p.doc_b, count(*) AS n_inter
            FROM pairs_{tag} p
            JOIN shingles sa ON sa.doc_id = p.doc_a
            JOIN shingles sb ON sb.doc_id = p.doc_b
                 AND sb.shingle = sa.shingle
            GROUP BY p.doc_a, p.doc_b
        ) i
        JOIN sizes za ON za.doc_id = i.doc_a
        JOIN sizes zb ON zb.doc_id = i.doc_b
        WHERE n_inter / CAST(za.n_sh + zb.n_sh - n_inter AS DOUBLE) >= 0.5
    )
)"""


_LSH_SWEEP_ROW_SQL = """
SELECT {bands} AS bands, {rws} AS rows_per_band,
       nc AS n_candidates, nv AS n_verified,
       CASE WHEN nc > 0 THEN round(nv / CAST(nc AS DOUBLE), 4) END
           AS lsh_precision
FROM cand_{bands}x{rws}, ver_{bands}x{rws}"""

LSH_BAND_SWEEP_SQL = (
    _NEARDUP_SQL_CTE
    + _MINHASH_CTE
    + ",\n"
    + ",\n".join(
        _lsh_sweep_config_sql(b, r) for b, r in [(2, 6), (3, 4), (6, 2)]
    )
    + "\n"
    + "\nUNION ALL\n".join(
        _LSH_SWEEP_ROW_SQL.format(bands=b, rws=r)
        for b, r in [(2, 6), (3, 4), (6, 2)]
    )
)


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# Registry order matters: the driver's CORRECTNESS gate checks the FIRST 50
# entries only, so the rows with the oldest external evidence lead the
# dict.  The repo's own parametrized contract test
# (tests/test_entry_contract.py) covers every name on every run regardless
# of position.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "sequence_packing": sequence_packing,
    "conv_export": conv_export,
    "mean_adjust_fold": mean_adjust_fold,
    "langid_fasttext": langid_fasttext,
    "conv_quality_report": conv_quality_report,
    "axiom_distribution": axiom_distribution,
    "confusion_matrix": confusion_matrix,
    "holdout_split": holdout_split,
    "langid_hashed_ngram": langid_hashed_ngram,
    "tfidf_top_terms": tfidf_top_terms,
    "bloom_decontaminate": bloom_decontaminate,
    "doc_chunks": doc_chunks,
    "nb_quality_score": nb_quality_score,
    "bm25_topk": bm25_topk,
    "heavy_hitters": heavy_hitters,
    "source_pagerank": source_pagerank,
    "word_freq_spectrum": word_freq_spectrum,
    "lang_resolution": lang_resolution,
    "tokenize_explode": tokenize_explode,
    "tokenize_per_char": tokenize_per_char,
    "doc_char_entropy": doc_char_entropy,
    "inverted_index": inverted_index,
    "classify_relational": classify_relational,
    "classify_vectorized": classify_vectorized,
    "pipeline_keep": pipeline_keep,
    "vocab_build": vocab_build,
    "word_cumsum": word_cumsum,
    "streaming_dedup": streaming_dedup,
    "dedup_cluster_stats": dedup_cluster_stats,
    "token_budget_select": token_budget_select,
    "vocab_drift_psi": vocab_drift_psi,
    "lsh_band_sweep": lsh_band_sweep,
    "accuracy_metrics": accuracy_metrics,
    "dedup_exact": dedup_exact,
    "doc_token_stats": doc_token_stats,
    "doc_quality_score": doc_quality_score,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "pipeline_scrub": pipeline_scrub,
    "dedup_components": dedup_components,
    "decontaminate": decontaminate,
}

ORACLE_SQL: dict[str, str] = {
    "dedup_cluster_stats": DEDUP_CLUSTER_STATS_SQL,
    "token_budget_select": TOKEN_BUDGET_SELECT_SQL,
    "vocab_drift_psi": VOCAB_DRIFT_PSI_SQL,
    "lsh_band_sweep": LSH_BAND_SWEEP_SQL,
    "lang_resolution": LANG_RESOLUTION_SQL,
    "tokenize_explode": TOKENIZE_EXPLODE_SQL,
    "tokenize_per_char": TOKENIZE_PER_CHAR_SQL,
    "vocab_build": VOCAB_BUILD_SQL,
    "classify_relational": CLASSIFY_SQL,
    "classify_vectorized": CLASSIFY_SQL,  # kernel must equal the relational path
    "accuracy_metrics": ACCURACY_SQL,
    "dedup_exact": DEDUP_EXACT_SQL,
    "doc_token_stats": DOC_TOKEN_STATS_SQL,
    "doc_quality_score": DOC_QUALITY_SQL,
    "pipeline_scrub": PIPELINE_SCRUB_SQL,
    "langid_hashed_ngram": LANGID_HASHED_SQL,
    "dedup_minhash_lsh": DEDUP_MINHASH_SQL,
    "dedup_components": DEDUP_COMPONENTS_SQL,
    "decontaminate": DECONTAMINATE_SQL,
    "holdout_split": HOLDOUT_SPLIT_SQL,
    "confusion_matrix": CONFUSION_SQL,
    "mean_adjust_fold": MEAN_ADJUST_SQL,
    "axiom_distribution": AXIOM_DIST_SQL,
    "langid_fasttext": LANGID_FASTTEXT_SQL,
    "pipeline_keep": PIPELINE_KEEP_SQL,
    "conv_quality_report": CONV_QUALITY_SQL,
    "conv_export": CONV_EXPORT_SQL,
    "word_cumsum": WORD_CUMSUM_SQL,
    "streaming_dedup": STREAMING_DEDUP_SQL,
    "tfidf_top_terms": TFIDF_TOP_TERMS_SQL,
    "doc_char_entropy": DOC_CHAR_ENTROPY_SQL,
    "inverted_index": INVERTED_INDEX_SQL,
    "word_freq_spectrum": WORD_FREQ_SPECTRUM_SQL,
    "bloom_decontaminate": BLOOM_DECONTAMINATE_SQL,
    "sequence_packing": SEQUENCE_PACKING_SQL,
    "doc_chunks": DOC_CHUNKS_SQL,
    "nb_quality_score": NB_QUALITY_SQL,
    "bm25_topk": BM25_TOPK_SQL,
    "heavy_hitters": HEAVY_HITTERS_SQL,
    "source_pagerank": SOURCE_PAGERANK_SQL,
}
