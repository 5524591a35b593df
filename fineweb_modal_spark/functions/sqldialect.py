"""Render spec expressions as Spark SQL or DuckDB SQL.

The driver's correctness gate runs every `queries()` entry on Spark
and the matching `oracle_sql()` string on DuckDB, hash-comparing the
results. These helpers isolate the handful of dialect differences
(regex escaping, list-function names, global-replace flags) so the
two renderings of one spec expression cannot drift apart.
"""

from __future__ import annotations

SPARK = "spark"
DUCKDB = "duckdb"


def esc(pattern: str, d: str) -> str:
    """Regex pattern → SQL string literal body. Spark SQL literals
    treat backslash as an escape character; DuckDB's do not."""
    return pattern.replace("\\", "\\\\") if d == SPARK else pattern


# Case-mapping parity envelope (applies to every lower() in the
# renderings): Python/Java implement FULL Unicode lowercasing
# (U+0130 'İ' → 2 chars, contextual final sigma for 'Σ'); DuckDB's
# utf8proc uses the simple 1:1 mapping AND may lag Unicode versions
# (e.g. no Vithkuqi U+10570.. mappings in this build). Engine
# (pandas) and Spark agree; only the DuckDB oracle diverges, on a
# set MEASURED against the installed DuckDB by
# tests/test_properties.py::_duck_lower_divergent — the same
# documented-envelope approach as the ASCII whitespace pin below
# (found by the differential hypothesis tests).

# Edge-whitespace set pinned to EXPLICIT ASCII chars: SQL trim()
# strips spaces ONLY, so tab/CR/LF-edged text (CRLF crawls!) would keep
# edge whitespace and grow a phantom empty first/last token vs the
# Python spec's str.strip(). (Unicode spaces are out of scope by spec —
# the same ASCII pin as gopher_rules.LINE_STRIP_CHARS.)
#
# Rendered as a chr() concat so neither dialect's string-literal escape
# rules matter, and implemented with the CHAR-SET trim (btrim), NOT a
# regex: a regexp_replace here measurably degraded work conservation at
# high core counts (java-regex char classes thrash shared caches — the
# same effect the round-1 translate/token-length fix removed).
WS_EDGE_CHARS = " \t\n\x0b\f\r"
_WS_SET_SQL = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"


def ws_trim(col: str, d: str) -> str:
    """strip() analog: remove leading/trailing ASCII whitespace."""
    if d == SPARK:
        return f"btrim({col}, {_WS_SET_SQL})"
    return f"trim({col}, {_WS_SET_SQL})"


def ws_tokens(col: str, d: str) -> str:
    """Whitespace token array of stripped text ('' → ['']) — callers
    guard the empty case explicitly (see n_words_sql)."""
    if d == SPARK:
        return f"split({ws_trim(col, d)}, '\\\\s+')"
    return f"regexp_split_to_array({ws_trim(col, d)}, '\\s+')"


def arr_len(e: str, d: str) -> str:
    return f"size({e})" if d == SPARK else f"len({e})"


def arr_distinct(e: str, d: str) -> str:
    return f"array_distinct({e})" if d == SPARK else f"list_distinct({e})"


def arr_filter(e: str, lam: str, d: str) -> str:
    fn = "filter" if d == SPARK else "list_filter"
    return f"{fn}({e}, {lam})"


def regexp_replace_all(col: str, pattern: str, repl: str, d: str) -> str:
    if d == SPARK:
        return f"regexp_replace({col}, '{esc(pattern, d)}', '{repl}')"
    return f"regexp_replace({col}, '{esc(pattern, d)}', '{repl}', 'g')"


def token_len_sum(toks: str, d: str) -> str:
    """Sum of token lengths (== non-ws chars) from an existing token
    array — avoids a second regex pass over the text."""
    if d == SPARK:
        return f"aggregate(transform({toks}, t -> length(t)), 0, (acc, x) -> acc + x)"
    return f"list_sum(list_transform({toks}, t -> length(t)))"


def n_words_sql(col: str, d: str, toks: str | None = None) -> str:
    """Whitespace word count; `toks` names an already-split token
    array of `col` so the text is not split twice."""
    return (
        f"CASE WHEN length({ws_trim(col, d)}) = 0 THEN 0 "
        f"ELSE {arr_len(toks or ws_tokens(col, d), d)} END"
    )


def nested_selects(key_cols: str, stages: list[list[str]], table: str) -> str:
    """Staged select lists as nested SELECTs over `table`, each stage
    carrying `key_cols` and reading only the previous stage's columns
    (the DataFrame form is one selectExpr per stage)."""
    src = table
    for items in stages:
        sql = f"SELECT {key_cols}, {', '.join(items)} FROM {src}"
        src = f"({sql})"
    return sql


def keep_exprs(rules: list[tuple[str, str]]) -> tuple[str, str]:
    """(keep, drop_reason) of an ordered rule battery given as
    (drop_reason, fail predicate) pairs: drop_reason names the first
    rule that fails, keep holds when none does."""
    whens = " ".join(f"WHEN {fail} THEN '{name}'" for name, fail in rules)
    reason = f"CASE {whens} ELSE NULL END"
    return f"({reason}) IS NULL", reason


def occ_count(col: str, needle_sql: str, needle_len: int, d: str) -> str:
    """Non-overlapping occurrence count of a constant needle via
    replace/length arithmetic, integer-typed in BOTH dialects
    (DuckDB `/` promotes to DOUBLE, so it gets `//`; Spark gets an
    explicit BIGINT cast). `needle_sql` is an already-rendered SQL
    expression for the needle (e.g. a chr() concat). One caller, the
    encodingfix DuckDB oracle; scrub/gopher/langid count inline."""
    delta = f"(length({col}) - length(replace({col}, {needle_sql}, '')))"
    if d == SPARK:
        return f"CAST({delta} / {needle_len} AS BIGINT)"
    return f"{delta} // {needle_len}"


def round6(e: str) -> str:
    """Round doubles before hash comparison (float-order tolerance)."""
    return f"round({e}, 6)"
