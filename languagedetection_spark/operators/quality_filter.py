"""The production quality-filter pipeline (EP-3 generalized, SURVEY §3/§7).

transcripts --> mapInPandas(decide) --> per-turn
(lang, lang_conf, ppl, keep, drop_reason, scrubbed_text).

The scoring stage is map-only: at 10^12 turns the job is embarrassingly
parallel and scaling is limited only by scan + Python worker throughput,
which is what the local[8]->local[32] efficiency benchmark evidences.
"""

from __future__ import annotations

from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame, functions as F

from ..functions.kernels import FilterModel
from ..functions.udfs import with_decisions


def quality_filter(df: DataFrame, model: FilterModel | Broadcast) -> DataFrame:
    """Apply the full per-turn decision pipeline to *df*'s ``text`` column.

    The decisions are row-local, so the plan is scan -> MapInPandas with no
    shuffle.
    """
    return with_decisions(df, model)


def kept_turns(decided: DataFrame) -> DataFrame:
    """The filter's sink view: rows to keep, with the scrubbed text."""
    return decided.filter("keep").select(
        "conv_id", "turn_idx", "role", "lang", "lang_conf", "ppl",
        "scrubbed_text",
    )


def conv_report(decided: DataFrame) -> DataFrame:
    """Conversation-level rollup over the kernel path (the production twin
    of the DuckDB-checked relational `conv_quality_report` query): per
    conv_id — turn count, keep rate, mean perplexity, dominant language.

    Skew-conscious by construction: the dominant language is a
    ``min(struct(-lang_conf, lang, turn_idx))`` AGGREGATION, not a window —
    deterministic ((lang_conf desc, lang asc, turn_idx asc) tie-break) and
    partially aggregable, so a conversation with millions of turns combines
    map-side instead of concentrating its raw rows on one reducer the way
    ``row_number() over (partition by conv_id)`` would."""
    top_key = F.when(
        F.col("lang").isNotNull(),
        F.struct(
            (-F.col("lang_conf")).alias("neg_conf"),
            F.col("lang").alias("lang"),
            F.col("turn_idx").alias("turn_idx"),
        ),
    )
    return decided.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.round(
            F.sum(F.col("keep").cast("long")) / F.count("*"), 4
        ).alias("keep_rate"),
        F.round(F.avg("ppl"), 6).alias("avg_ppl"),
        F.min(top_key).getField("lang").alias("top_lang"),
    )
