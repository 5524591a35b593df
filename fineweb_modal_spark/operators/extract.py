"""HTML → text extraction (the input_hint's byte-identical contract).

`extract_text(html) == text` per url is the pipeline's entry
invariant (BASELINE.json input_hint): the extraction is ONE shared
regex spec (sources/pages.py EXTRACT_TAG_RE) applied by this Spark
operator, by the DuckDB oracle, and by the pure-Python mirror
(pages.extract_text_py) — three renderings, zero drift. Pure
whole-stage-codegen expressions: decode(utf-8) + regexp_replace.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources import pages as pages_mod


def extract_text_expr(html_col: str = "html") -> Column:
    return F.regexp_replace(
        F.decode(html_col, "utf-8"), pages_mod.EXTRACT_TAG_RE, ""
    )


def with_extracted_text(
    pages: DataFrame, html_col: str = "html", out_col: str = "extracted_text"
) -> DataFrame:
    return pages.withColumn(out_col, extract_text_expr(html_col))
