"""Gopher/FineWeb repetition & structure quality filters — operator.

Spec: spec/gopher_rules.py (thresholds + pure-Python oracle). This
module renders the SAME signal definitions for both dialects (Spark
SQL fragments consumed via selectExpr — still whole-stage codegen,
zero Python in the hot path — and DuckDB SQL for the driver gate).

Every signal is row-local (array folds over the row's own tokens /
lines; the top-bigram fraction is a run-length scan over the row's
sorted bigram array) — ZERO shuffle, embarrassingly parallel at
100 TB, the same scale shape as quality.with_signals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import sqldialect as sd
from ..spec import gopher_rules as gr

S = sd.SPARK


def _tf(e: str, lam: str, d: str) -> str:
    return f"{'transform' if d == S else 'list_transform'}({e}, {lam})"


def _flt(e: str, lam: str, d: str) -> str:
    return f"{'filter' if d == S else 'list_filter'}({e}, {lam})"


def _ln(e: str, d: str) -> str:
    return f"{'size' if d == S else 'len'}({e})"


def _get(arr: str, i: str, d: str) -> str:
    return f"element_at({arr}, {i})" if d == S else f"{arr}[{i}]"


def _seq(lo: str, hi: str, d: str) -> str:
    return f"sequence({lo}, {hi})" if d == S else f"generate_series({lo}, {hi})"


def _sort(e: str, d: str) -> str:
    return f"array_sort({e})" if d == S else f"list_sort({e})"


def _amax(e: str, d: str) -> str:
    return f"array_max({e})" if d == S else f"list_max({e})"


def _adistinct(e: str, d: str) -> str:
    return f"array_distinct({e})" if d == S else f"list_distinct({e})"


def _concat_arr(a: str, b: str, d: str) -> str:
    return f"concat({a}, {b})" if d == S else f"list_concat({a}, {b})"


def _empty_str_arr(d: str) -> str:
    return "CAST(array() AS ARRAY<STRING>)" if d == S else "CAST([] AS VARCHAR[])"


def _alpha_pred(d: str) -> str:
    return (
        "t -> t RLIKE '[A-Za-z]'"
        if d == S
        else "t -> regexp_matches(t, '[A-Za-z]')"
    )


def toks_expr(col: str, d: str) -> str:
    """Non-empty whitespace tokens ('' and NULL → [])."""
    return _flt(sd.ws_tokens(col, d), "t -> t <> ''", d)


def lines_expr(col: str, d: str) -> str:
    """Non-blank trimmed lines. Trimming uses the spec's EXPLICIT
    ASCII class (gopher_rules.LINE_STRIP_CHARS), not SQL trim() —
    trim() strips spaces only, so CRLF corpora would keep a trailing
    '\\r' on every line and break the suffix/prefix signals."""
    nl = sd.esc(r"\n", d)
    split = (
        f"split({col}, '{nl}')" if d == S else f"regexp_split_to_array({col}, '{nl}')"
    )
    # char-set trim (non-regex — see sd.ws_trim's perf note); lines
    # carry no interior \n so the shared whitespace set is equivalent
    # to the spec's LINE_STRIP_CHARS
    trim_l = (
        f"l -> btrim(l, {sd._WS_SET_SQL})"
        if d == S
        else f"l -> trim(l, {sd._WS_SET_SQL})"
    )
    return _flt(_tf(split, trim_l, d), "l -> l <> ''", d)


def bigrams_expr(toks: str, d: str) -> str:
    """Sorted word-bigram array; < 2 tokens → []."""
    n = _ln(toks, d)
    pair = (
        f"i -> concat({_get(toks, 'i', d)}, ' ', {_get(toks, 'i + 1', d)})"
        if d == S
        else f"i -> {_get(toks, 'i', d)} || ' ' || {_get(toks, 'i + 1', d)}"
    )
    body = _sort(_tf(_seq("1", f"{n} - 1", d), pair, d), d)
    return f"CASE WHEN {n} < 2 THEN {_empty_str_arr(d)} ELSE {body} END"


def run_starts_expr(bg: str, d: str) -> str:
    """Indices where the (sorted) bigram array changes value — the run
    starts. element_at is 1-based in both dialects; greatest(i-1, 1)
    keeps the i=1 probe in bounds (Spark element_at throws on 0).

    IMPORTANT staging contract: this and `max_run_expr` MUST be
    evaluated as separate projected COLUMNS (see _stages). Inlining them into one expression makes
    Catalyst re-evaluate the captured array subexpression for every
    lambda element — O(m²) per row (measured 18.6 s → 1.6 s on the
    sf0.1 filter pipeline when staged)."""
    m = _ln(bg, d)
    body = _flt(
        _seq("1", m, d),
        f"i -> i = 1 OR {_get(bg, 'i', d)} <> {_get(bg, 'greatest(i - 1, 1)', d)}",
        d,
    )
    # m = 0 guard: Spark's sequence(1, 0) DESCENDS to [1, 0] and the
    # element_at(…, 0) probe throws INVALID_INDEX_OF_ZERO
    empty = "CAST(array() AS ARRAY<INT>)" if d == S else "CAST([] AS BIGINT[])"
    return f"CASE WHEN {m} < 1 THEN {empty} ELSE {body} END"


def sentinel_ends_expr(starts: str, m: str, d: str) -> str:
    """starts ++ [m+1]: run boundaries with a sentinel end."""
    one_arr = "array(1)" if d == S else "[1]"
    return _concat_arr(starts, _tf(one_arr, f"x -> {m} + 1", d), d)


def max_run_expr(starts: str, se: str, m: str, d: str) -> str:
    """Longest run = max diff between consecutive boundary indices.
    `starts`/`se`/`m` must be column references (see staging note on
    run_starts_expr) so each element_at probe is O(1)."""
    diffs = _tf(
        _seq("1", _ln(starts, d), d),
        f"j -> {_get(se, 'j + 1', d)} - {_get(se, 'j', d)}",
        d,
    )
    return f"CASE WHEN {m} = 0 THEN 0 ELSE {_amax(diffs, d)} END"


def _symbols_expr(t: str, d: str) -> str:
    cast_t = "INT" if d == S else "BIGINT"
    return (
        f"(length({t}) - length(replace({t}, '#', ''))) "
        f"+ (length({t}) - length(replace({t}, '…', ''))) "
        f"+ CAST((length({t}) - length(replace({t}, '...', ''))) / 3 AS {cast_t})"
    )


def _count_stage_exprs(d: str) -> list[str]:
    """Count columns over (__t, __toks, __lines, __m, __starts, __se)."""
    return [
        f"{_ln('__toks', d)} AS n_words",
        f"{_ln('__lines', d)} AS n_lines",
        f"{_ln(_flt('__toks', _alpha_pred(d), d), d)} AS __alpha",
        f"{_ln(_flt('__lines', _bullet_pred(d), d), d)} AS __bul",
        f"{_ln(_flt('__lines', _ellipsis_pred(d), d), d)} AS __ell",
        f"{_ln(_adistinct('__lines', d), d)} AS __dlines",
        "__m",
        f"{max_run_expr('__starts', '__se', '__m', d)} AS __run",
        f"{_symbols_expr('__t', d)} AS __sym",
        f"{_ln(_flt('__lines', _punct_pred(d), d), d)} AS __punct",
        f"{_ln(_flt('__lines', _boiler_pred(d), d), d)} AS __boiler",
    ]


def _bullet_pred(d: str) -> str:
    return "l -> substr(l, 1, 1) IN ('-', '*', '•')"


def _ellipsis_pred(d: str) -> str:
    return "l -> l LIKE '%...' OR l LIKE '%…'"


def _punct_pred(d: str) -> str:
    opts = ", ".join(
        "'" + p.replace("'", "''") + "'" if p != '"' else "'\"'"
        for p in gr.PUNCT_SUFFIXES
    )
    return f"l -> substr(l, length(l)) IN ({opts})"


def _boiler_pred(d: str) -> str:
    ws = sd.esc(r"\s+", d)
    split = (
        f"split(l, '{ws}')" if d == S else f"regexp_split_to_array(l, '{ws}')"
    )
    wc = _ln(_flt(split, "w -> w <> ''", d), d)
    markers = " OR ".join(
        f"position('{m}' IN lower(l)) > 0" for m in gr.BOILERPLATE_MARKERS
    )
    return f"l -> {wc} <= {gr.BOILERPLATE_MAX_WORDS} OR {markers}"


def _ratio(num: str, den: str, alt: str = "0.0") -> str:
    return (
        f"CASE WHEN {den} > 0 THEN CAST({num} AS DOUBLE) / {den} ELSE {alt} END"
    )


def _signal_exprs(round_out: bool) -> list[tuple[str, str]]:
    def rnd(e: str) -> str:
        return f"round({e}, 6)" if round_out else e

    return [
        ("n_lines", "CAST(n_lines AS BIGINT)"),
        ("alpha_word_ratio", rnd(_ratio("__alpha", "n_words"))),
        ("bullet_line_ratio", rnd(_ratio("__bul", "n_lines"))),
        ("ellipsis_line_ratio", rnd(_ratio("__ell", "n_lines"))),
        (
            "dup_line_ratio",
            rnd(
                f"CASE WHEN n_lines > 0 THEN 1.0 - CAST(__dlines AS DOUBLE) / n_lines ELSE 0.0 END"
            ),
        ),
        ("top_bigram_frac", rnd(_ratio("__run", "__m"))),
        ("symbol_word_ratio", rnd(_ratio("__sym", "n_words"))),
        ("punct_line_ratio", rnd(_ratio("__punct", "n_lines"))),
        ("boilerplate_line_ratio", rnd(_ratio("__boiler", "n_lines"))),
    ]


# (drop_reason, fail predicate over the signal columns), in spec order
RULES: list[tuple[str, str]] = [
    ("low_alpha_word_ratio", f"alpha_word_ratio < {gr.MIN_ALPHA_WORD_RATIO}"),
    ("high_bullet_line_ratio", f"bullet_line_ratio > {gr.MAX_BULLET_LINE_RATIO}"),
    ("high_ellipsis_line_ratio", f"ellipsis_line_ratio > {gr.MAX_ELLIPSIS_LINE_RATIO}"),
    ("high_dup_line_ratio", f"dup_line_ratio > {gr.MAX_DUP_LINE_RATIO}"),
    ("high_top_bigram_frac", f"top_bigram_frac > {gr.MAX_TOP_BIGRAM_FRAC}"),
    ("high_symbol_word_ratio", f"symbol_word_ratio > {gr.MAX_SYMBOL_WORD_RATIO}"),
    (
        "high_boilerplate_line_ratio",
        f"boilerplate_line_ratio > {gr.MAX_BOILERPLATE_LINE_RATIO}",
    ),
]


def _stages(text_col: str, d: str, round_out: bool) -> list[list[str]]:
    """The signal plan as staged select lists (after the key columns),
    each stage reading only the previous stage's columns. The
    run-length columns get stages of their own — see run_starts_expr's
    O(m²) warning."""
    t = f"coalesce({text_col}, '')"
    carry = ["__t", "__toks", "__lines"]
    return [
        [f"{t} AS __t", f"{toks_expr(t, d)} AS __toks", f"{lines_expr(t, d)} AS __lines"],
        [*carry, f"{bigrams_expr('__toks', d)} AS __bg"],
        [*carry, f"{_ln('__bg', d)} AS __m", f"{run_starts_expr('__bg', d)} AS __starts"],
        [*carry, "__m", "__starts", f"{sentinel_ends_expr('__starts', '__m', d)} AS __se"],
        _count_stage_exprs(d),
        [f"{e} AS {name}" for name, e in _signal_exprs(round_out)],
    ]


def signals_sql(
    d: str,
    table: str = "documents",
    text_col: str = "text",
    key_cols: str = "doc_id",
    round_out: bool = True,
) -> str:
    """Full SELECT of key + gopher signals, either dialect."""
    return sd.nested_selects(key_cols, _stages(text_col, d, round_out), table)


def keep_sql(
    d: str,
    table: str = "documents",
    text_col: str = "text",
    key_cols: str = "doc_id",
) -> str:
    sig = signals_sql(d, table=table, text_col=text_col, key_cols=key_cols, round_out=False)
    keep, reason = sd.keep_exprs(RULES)
    return f"SELECT {key_cols}, {keep} AS keep, {reason} AS drop_reason FROM ({sig})"


def with_gopher_signals(
    df: DataFrame, text_col: str = "text", key_cols: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """DataFrame form: the same SPARK-dialect stages, one selectExpr
    each — Catalyst collapses them into one codegen span."""
    for items in _stages(text_col, S, round_out=False):
        df = df.selectExpr(*key_cols, *items)
    return df


def with_gopher_keep(sig: DataFrame) -> DataFrame:
    keep, reason = sd.keep_exprs(RULES)
    return sig.selectExpr("*", f"{keep} AS keep", f"{reason} AS drop_reason")


def compose_keep(
    df: DataFrame, carry: tuple[str, ...], text_col: str = "text"
) -> DataFrame:
    """Compose the quality battery's keep/drop (already on `df` as
    keep/drop_reason) with the gopher battery: combined keep is the
    conjunction, the FIRST battery's reason wins. Single source for
    the composition used by the webtext gate, the streaming gate, and
    the spark-submit job — returns `carry` + keep + drop_reason."""
    renamed = df.withColumnRenamed("keep", "q_keep").withColumnRenamed(
        "drop_reason", "q_reason"
    )
    keys = tuple(dict.fromkeys((*carry, text_col, "q_keep", "q_reason")))
    g = with_gopher_keep(
        with_gopher_signals(renamed, text_col=text_col, key_cols=keys)
    )
    keep = F.col("q_keep") & F.col("keep")
    reason = (
        F.when(~F.col("q_keep"), F.col("q_reason"))
        .when(~F.col("keep"), F.col("drop_reason"))
        .otherwise(F.lit(None))
    )
    return g.select(*carry, keep.alias("keep"), reason.alias("drop_reason"))
