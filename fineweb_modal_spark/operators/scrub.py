"""PII/toxicity scrub: a fold of built-in regexp_replace calls.

Pure JVM-side column expressions (north rule: zero per-row Python);
spec/scrub_spec.RULES is the single pattern source shared with the
DuckDB oracle and the pytest pure-Python oracle, folded once
(`scrub_sql`) and run by Spark as the SPARK rendering. Reference analog:
there is no scrub in fineweb-modal — this is the north-rule extension
— but the mechanism mirrors its filter stage shape (filter.py:50).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import sqldialect as sd
from ..spec import scrub_spec


def scrub_sql(col: str, d: str) -> str:
    """The RULES chain as nested regexp_replace calls, either dialect."""
    out = col
    for _, pattern, repl in scrub_spec.RULES:
        out = sd.regexp_replace_all(out, pattern, repl, d)
    return out


def scrub_expr(text_col: str) -> Column:
    """Scrubbed `text_col`, NULL text as '' (spec scrub_py(None))."""
    return F.expr(scrub_sql(f"coalesce({text_col}, '')", sd.SPARK))


def with_scrubbed(df: DataFrame, text_col: str = "text", out_col: str = "scrubbed_text") -> DataFrame:
    return df.withColumn(out_col, scrub_expr(text_col))


# ---------------------------------------------------------------------------
# Scrub metrics: per-source PII/toxicity hit counts
# ---------------------------------------------------------------------------
#
# The north star asks the scrub stage to emit metrics rows, not just
# rewritten text. Hits are counted as placeholder occurrences in the
# FINAL scrubbed text — faithful to the chain semantics (an email
# swallowed before the phone rule can't double-count) — using pure
# integer string algebra that renders identically in both dialects:
# (len(s) - len(replace(s, tag, ''))) / len(tag).

_TAGS = [("email", "<EMAIL>"), ("ipv4", "<IP>"),
         ("phone", "<PHONE>"), ("toxicity", "<TOX>")]


def _tag_count_sql(col: str, tag: str) -> str:
    return (
        f"CAST((length({col}) - length(replace({col}, '{tag}', '')))"
        f" / {len(tag)} AS BIGINT)"
    )


def scrub_stats(
    df: DataFrame, text_col: str = "text", by: str = "source"
) -> DataFrame:
    """Per-group scrub dashboard: docs scanned, docs modified, and
    hit counts per PII category. One codegen scrub projection + one
    partial-agg shuffle on the group key — integer-exact everywhere."""
    s = with_scrubbed(df, text_col=text_col)
    aggs = [
        F.count("*").alias("n_docs"),
        F.sum(
            (F.col("scrubbed_text")
             != F.coalesce(F.col(text_col), F.lit(""))).cast("long")
        ).alias("n_modified"),
    ]
    for name, tag in _TAGS:
        aggs.append(
            F.sum(F.expr(_tag_count_sql("scrubbed_text", tag))).alias(
                f"n_{name}"
            )
        )
    return s.groupBy(by).agg(*aggs)


def scrub_stats_sql(d: str, table: str = "documents",
                    text_col: str = "text", by: str = "source") -> str:
    scr = scrub_sql(f"coalesce({text_col}, '')", d)
    by_name = by.rsplit(" AS ", 1)[-1].strip()
    tag_sums = ",\n       ".join(
        f"CAST(sum({_tag_count_sql('scrubbed_text', tag)}) AS BIGINT)"
        f" AS n_{name}"
        for name, tag in _TAGS
    )
    return f"""
WITH s AS (
  SELECT {by}, coalesce({text_col}, '') AS original,
         {scr} AS scrubbed_text
  FROM {table}
)
SELECT {by_name}, count(*) AS n_docs,
       CAST(sum(CASE WHEN scrubbed_text <> original THEN 1 ELSE 0 END) AS BIGINT) AS n_modified,
       {tag_sums}
FROM s GROUP BY {by_name}
""".strip()


def collapse_lines_sql(txt: str, d: str) -> str:
    """Consecutive duplicate LINE collapse inside one document — the
    boilerplate scrub for pages whose template repeats the same nav/
    footer line back-to-back. Pure array expression (split → indexed
    lambda filter → join), zero shuffle, zero Python; rendered for
    both dialects from one rule: keep line i iff i is first or line i
    differs from line i-1. (Spark lambda indexes are 0-based, DuckDB's
    1-based — both renderings express the identical rule.)"""
    if d == sd.SPARK:
        lines = f"split({txt}, '\\n')"
        kept = (
            f"filter({lines}, (x, i) -> i = 0 OR x != ({lines})[i - 1])"
        )
        return f"array_join({kept}, '\\n')"
    lines = f"string_split({txt}, chr(10))"
    kept = f"list_filter({lines}, (x, i) -> i = 1 OR x <> ({lines})[i - 1])"
    return f"array_to_string({kept}, chr(10))"


def with_collapsed_lines(
    df: DataFrame, text_col: str = "text", out_col: str = "collapsed_text"
) -> DataFrame:
    return df.withColumn(
        out_col,
        F.expr(collapse_lines_sql(text_col, sd.SPARK)),
    )


# ---------------------------------------------------------------------------
# Unicode NFC normalization (canonical composition)
# ---------------------------------------------------------------------------
#
# CCNet/C4-style corpora normalize unicode before hashing or dedup so
# that canonically-equivalent byte sequences ("e" + COMBINING ACUTE vs
# precomposed U+00E9) can't defeat exact-hash stages. Spark has no
# built-in NFC function, so this is one of the few legitimate
# Python-side stages — a VECTORIZED Arrow-batched pandas UDF
# (north-rule compliant: no per-row Python UDF), stdlib unicodedata
# only. The DuckDB oracle uses its independent utf8proc-backed
# nfc_normalize(), so the gate cross-checks two unrelated NFC
# implementations byte-for-byte.

# Deterministic non-ASCII probe appended by the gate so normalization
# provably DOES something on the all-ASCII fixture text: a decomposed
# e+COMBINING ACUTE (composes under NFC, char count −1) plus U+2460
# and U+FB01 (compatibility-only forms — NFC must LEAVE them alone,
# distinguishing NFC from NFKC).
NFC_PROBE = " nfc:cafe\u0301 \u2460\ufb01"


def with_nfc(
    df: DataFrame, text_col: str = "text", out_col: str = "nfc_text"
) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: None if x is None else unicodedata.normalize("NFC", x)
        )

    return df.withColumn(out_col, _nfc(F.col(text_col)))
