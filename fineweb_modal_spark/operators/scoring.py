"""Fused langid + perplexity scoring — ONE ArrowEvalPython node.

Chaining two separate pandas-UDF stages costs a second Python worker
set per task and a second Arrow round-trip per batch (measured ~7×
slower warm than a single fused node on local[32]); on a cluster it
doubles the Python-worker memory footprint per executor. Both models
consume the same text column, so the pipeline fuses them into one
iterator UDF that returns a struct; it is the engine's only Python
scoring stage.

Reference analog: one container holding both models across batches
(features.py:92-101 `@enter` + 135-145), not one container per model.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, FloatType, StringType, StructField, StructType

from ..spec import langid_model
from ..spec import quality_rules as qr

_RESULT_TYPE = StructType(
    [
        StructField("lang_pred", StringType()),
        StructField("lang_conf", FloatType()),
        StructField("ppl", DoubleType()),
    ]
)


@pandas_udf(_RESULT_TYPE)
def score_udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    W = langid_model.build_weights()  # once per task, reused per batch
    logp = qr.build_bigram_logprobs()
    for texts in batches:
        t = texts.fillna("")  # stays a Series end-to-end — no list copy
        preds, confs = langid_model.predict_batch(t, W)
        ppl = qr.perplexity_batch(t.to_numpy(), logp)
        yield pd.DataFrame({"lang_pred": preds, "lang_conf": confs, "ppl": ppl})


def with_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append lang_pred / lang_conf / ppl in a single Python stage."""
    out = df.withColumn("__sc", score_udf(F.col(text_col)))
    return (
        out.withColumn("lang_pred", F.col("__sc.lang_pred"))
        .withColumn("lang_conf", F.col("__sc.lang_conf"))
        .withColumn("ppl", F.col("__sc.ppl"))
        .drop("__sc")
    )
