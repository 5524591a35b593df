"""Embedding stage: iterator pandas UDF over Arrow batches.

The Spark-native form of the reference's embed DAG
(embed-tei.py:205-334, SURVEY.md §3.2): where the reference
length-sorts, greedily bin-packs, POSTs batches to a TEI server and
scatters results into an .npy memmap by original_position, here the
embedding is emitted as an `array<float>` COLUMN next to its key —
the positional join (J1) and the sidecar file disappear. Batch
homogeneity (the reason for the reference's packing) is optional
physical tuning: a caller can sortWithinPartitions(length) ahead of
the UDF.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..spec import embed_model


_FULL_TYPE = StructType(
    [
        StructField("embedding", ArrayType(FloatType())),
        StructField("norm_sq", LongType()),
        StructField("sig", StringType()),
    ]
)


@pandas_udf(_FULL_TYPE)
def embed_full_udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    """Vector + exact-integer signature (norm_sq = Σc², sig = md5 of
    the ordered nonzero bucket counts) in ONE Python stage — the
    signature is what the DuckDB gate oracle re-derives relationally
    (spec/embed_model.signature_sql), with zero float-parity risk."""
    for texts in batches:
        vecs, ns, sigs = embed_model.embed_batch_with_sig(
            texts.fillna("").tolist()
        )
        yield pd.DataFrame(
            {"embedding": list(vecs), "norm_sq": ns, "sig": sigs}
        )


def with_embedding_sig(df: DataFrame, text_col: str = "text") -> DataFrame:
    """embedding + norm_sq + sig columns (one fused Arrow stage)."""
    out = df.withColumn("__e", embed_full_udf(F.col(text_col)))
    return (
        out.withColumn("embedding", F.col("__e.embedding"))
        .withColumn("norm_sq", F.col("__e.norm_sq"))
        .withColumn("sig", F.col("__e.sig"))
        .drop("__e")
    )
