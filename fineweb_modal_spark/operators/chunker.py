"""Document chunker UDTF (U1) — the reference's flagship transform.

/root/reference/chunker.py:69-105 tokenizes each document and emits
sliding 500-token windows with 50-token overlap (stride 450), keeping
the documented tail behavior (a pure-overlap tail >= 50 tokens IS
emitted; < 50 is dropped — README.md:21, validate.ipynb cell 14).
The reference runs this per-row in thread pools inside per-file Modal
containers (chunker.py:108-149); here it is ONE `mapInPandas` over
Arrow batches — Spark task scheduling replaces the container fan-out,
Arrow batching replaces the 200-row thread batches (SURVEY.md §3.1).

Window semantics come from spec/tokenizer.py (shared with the pytest
oracle); this module only handles the Spark plumbing.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..spec import tokenizer as tok


def chunk_output_schema(
    input_schema: StructType,
    id_col: str,
    keep_cols: Iterable[str],
    emit_ids: bool = False,
) -> StructType:
    fields = [input_schema[id_col]]
    fields += [input_schema[c] for c in keep_cols]
    fields += [
        StructField("chunk_index", IntegerType(), False),
        StructField("chunk_text", StringType(), True),
        StructField("chunk_tokens", ArrayType(StringType()), True),
        StructField("chunk_token_count", IntegerType(), False),
    ]
    if emit_ids:
        # the reference's actual chunk_tokens shape: array<long> input
        # ids (chunker.py:90) — here the hermetic md5-vocab ids
        fields.append(
            StructField("chunk_token_ids", ArrayType(LongType()), True)
        )
    return StructType(fields)


def chunk_udtf():
    """The chunker as a real Python UDTF (`pyspark.sql.functions.udtf`,
    Arrow-optimized) for SQL LATERAL-join consumption:

        SELECT d.doc_id, c.* FROM docs d, LATERAL chunk_windows(d.text) c

    Same window semantics as `chunk_documents` (both call
    spec/tokenizer.chunk_text). This is the SQL-surface form — a user
    who lives in spark.sql gets the flagship transform without leaving
    SQL; `chunk_documents` (mapInPandas, one Python stage, wide rows)
    stays the scale path for DataFrame pipelines."""
    from pyspark.sql.functions import udtf

    class ChunkWindows:
        def eval(self, text: str | None):
            for ch in tok.chunk_text(text if text is not None else ""):
                yield ch["chunk_index"], ch["chunk_token_count"]

    return udtf(
        ChunkWindows,
        returnType="chunk_index: int, chunk_token_count: int",
        useArrow=True,
    )


def register_chunk_udtf(spark, name: str = "chunk_windows") -> str:
    spark.udtf.register(name, chunk_udtf())
    return name


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: Iterable[str] = (),
    emit_ids: bool = False,
) -> DataFrame:
    """1 document row → N chunk rows, Arrow-batched.

    keep_cols mirror the reference's KEEP_KEYS passthrough
    (chunker.py:17+92-93). emit_ids=True additionally emits
    chunk_token_ids: array<long> — the reference's input-id schema
    (chunker.py:90) under the hermetic md5-vocab tokenizer.
    """
    keep_cols = tuple(keep_cols)
    schema = chunk_output_schema(df.schema, id_col, keep_cols, emit_ids)
    cols = [id_col, *keep_cols, text_col]

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in (id_col, *keep_cols)}
            out.update(
                chunk_index=[], chunk_text=[], chunk_tokens=[], chunk_token_count=[]
            )
            if emit_ids:
                out["chunk_token_ids"] = []
            texts = pdf[text_col].tolist()
            for row_i, text in enumerate(texts):
                for ch in tok.chunk_text(text if text is not None else ""):
                    out[id_col].append(pdf[id_col].iat[row_i])
                    for c in keep_cols:
                        out[c].append(pdf[c].iat[row_i])
                    out["chunk_index"].append(ch["chunk_index"])
                    out["chunk_text"].append(ch["chunk_text"])
                    out["chunk_tokens"].append(ch["chunk_tokens"])
                    out["chunk_token_count"].append(ch["chunk_token_count"])
                    if emit_ids:
                        out["chunk_token_ids"].append(
                            tok.token_ids(ch["chunk_tokens"])
                        )
            yield pd.DataFrame(out)

    return df.select(*cols).mapInPandas(emit, schema=schema)
