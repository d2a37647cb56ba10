"""Pandas-UDF plumbing: broadcast model -> mapInPandas over Arrow batches.

The model is shipped via ``SparkContext.broadcast`` (one pickle per executor,
not per task); ``Broadcast.value`` deserializes it once per worker, so
iterator-UDF invocations on the same worker reuse the object and its token
memos -- the pattern SURVEY §4.3 mandates (no per-row Python, no per-batch
deserialization).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame, SparkSession

from .kernels import FilterModel

DECISION_FIELDS = (
    "lang string, lang_conf double, ppl double, keep boolean, "
    "drop_reason string, scrubbed_text string"
)

def broadcast_model(spark: SparkSession, model: FilterModel) -> Broadcast:
    return spark.sparkContext.broadcast(model)


def with_decisions(df: DataFrame, model: FilterModel | Broadcast) -> DataFrame:
    """Append the six decision columns, scored from *df*'s ``text`` column,
    via one mapInPandas pass.

    Map-only: no shuffle is introduced; Catalyst keeps upstream pushdown and
    the Arrow exchange batches rows (spark.sql.execution.arrow.maxRecordsPerBatch).
    """
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", " + DECISION_FIELDS

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m = model.value if isinstance(model, Broadcast) else model
        for pdf in batches:
            res = m.decide_batch(pdf["text"])
            res.index = pdf.index
            yield pd.concat([pdf, res], axis=1)

    return df.mapInPandas(run, schema=out_schema)
