"""Heuristic quality signals + keep/drop — pure built-in columns.

One rendering of spec/quality_rules.py (gopher/FineWeb-style rules
generalizing the reference's threshold filters, filter.py:50 and
summary.py:53-55): the signal expressions and the ordered rule list
below are SQL rendered through functions/sqldialect, so the Spark
operators run the SPARK rendering (`F.expr`) of the same plan the
DuckDB oracles run in the DUCKDB dialect. Everything is JVM-side
whole-stage-codegen — zero Python in the hot path (north rule); the
perplexity stage (Python numpy) lives in operators/scoring.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import sqldialect as sd
from ..spec import hashing as H
from ..spec import quality_rules as qr

_TOKS = "__toks"

# (drop_reason, fail predicate over the signal columns), in spec
# DROP_REASONS order; thresholds compare unrounded signals.
RULES: list[tuple[str, str]] = [
    ("too_few_words", f"n_words < {qr.MIN_WORDS}"),
    ("too_many_words", f"n_words > {qr.MAX_WORDS}"),
    (
        "mean_word_len_out_of_range",
        f"(mean_word_len < {qr.MIN_MEAN_WORD_LEN}"
        f" OR mean_word_len > {qr.MAX_MEAN_WORD_LEN})",
    ),
    ("low_stopword_ratio", f"stopword_ratio < {qr.MIN_STOPWORD_RATIO}"),
    ("high_digit_ratio", f"digit_ratio > {qr.MAX_DIGIT_RATIO}"),
    ("low_distinct_ratio", f"distinct_ratio < {qr.MIN_DISTINCT_RATIO}"),
]


def _rules(stop_gate: str | None) -> list[tuple[str, str]]:
    """RULES with the stopword rule restricted to rows where the SQL
    boolean `stop_gate` holds (spec keep_py's lang_pred semantics)."""
    if stop_gate is None:
        return RULES
    return [
        (name, f"({stop_gate}) AND {fail}" if name == "low_stopword_ratio" else fail)
        for name, fail in RULES
    ]


def _signal_stages(text: str, d: str) -> list[list[tuple[str, str]]]:
    """The signal columns as (name, SQL) over the NULL-as-empty `text`
    expression, in stages: each reads only earlier stages' columns.

    One split() materialized once per row (__toks; n_words counts it);
    all ratios float64. NULL text is treated as empty (spec signals_py
    semantics) so null rows drop with 'too_few_words'."""
    stop = ", ".join(f"'{w}'" for w in qr.STOPWORDS)

    def per_word(n: str) -> str:
        return f"CASE WHEN n_words > 0 THEN CAST({n} AS DOUBLE) / n_words ELSE 0.0 END"

    # translate is a char-map delete — far cheaper than regex
    digits = f"length({text}) - length(translate({text}, '0123456789', ''))"
    return [
        [(_TOKS, sd.ws_tokens(text, d))],
        [("n_words", sd.n_words_sql(text, d, toks=_TOKS))],
        [
            # token-length sum == non-ws char count, without a second
            # regex pass (java regex dominates this stage's CPU and
            # thrashes shared caches at high core counts — PLANS.md)
            ("mean_word_len", per_word(sd.token_len_sum(_TOKS, d))),
            (
                "stopword_ratio",
                per_word(sd.arr_len(sd.arr_filter(_TOKS, f"t -> lower(t) IN ({stop})", d), d)),
            ),
            (
                "digit_ratio",
                f"CASE WHEN length({text}) > 0 THEN CAST({digits} AS DOUBLE)"
                f" / length({text}) ELSE 0.0 END",
            ),
            ("distinct_ratio", per_word(sd.arr_len(sd.arr_distinct(_TOKS, d), d))),
        ],
    ]


def with_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the per-document quality-signal columns (a colliding
    name is replaced; input columns are unchanged)."""
    for stage in _signal_stages(f"coalesce({text_col}, '')", sd.SPARK):
        df = df.withColumns({name: F.expr(e) for name, e in stage})
    return df.drop(_TOKS)


def with_keep(df: DataFrame, lang_col: str | None = None) -> DataFrame:
    """(keep:boolean, drop_reason:string) from the signal columns.

    lang_col: when given, the stopword rule applies only to rows whose
    predicted language is 'en' (spec keep_py semantics)."""
    keep, reason = sd.keep_exprs(
        _rules(None if lang_col is None else f"{lang_col} = 'en'")
    )
    return df.withColumns({"keep": F.expr(keep), "drop_reason": F.expr(reason)})


def signals_sql(
    d: str,
    table: str = "documents",
    text_col: str = "text",
    key_cols: str = "doc_id",
    round_out: bool = True,
) -> str:
    """SELECT of key + signal columns, either dialect.

    round_out=True rounds the double outputs to 6 dp for the driver's
    value-hash compare; keep_sql uses the raw values so threshold
    comparisons are never flipped by rounding."""
    carry, stages = [text_col], []
    for stage in _signal_stages(f"coalesce({text_col}, '')", d):
        stages.append(carry + [f"{e} AS {name}" for name, e in stage])
        carry = carry + [name for name, _ in stage]
    outs = [
        f"round({c}, 6) AS {c}" if round_out and c != "n_words" else c
        for c in carry
        if c not in (text_col, _TOKS)
    ]
    return sd.nested_selects(key_cols, [*stages, outs], table)


def keep_sql(
    d: str,
    table: str = "documents",
    text_col: str = "text",
    key_cols: str = "doc_id",
    stop_gate: str | None = None,
) -> str:
    """keep/drop decision rendered over the signal subquery.

    stop_gate: optional SQL boolean restricting the stopword rule
    (with_keep's lang_col analog — e.g. "lang_pred = 'en'"; the
    referenced column must be carried through key_cols)."""
    sig = signals_sql(d, table=table, text_col=text_col, key_cols=key_cols, round_out=False)
    keep, reason = sd.keep_exprs(_rules(stop_gate))
    return f"SELECT {key_cols}, {keep} AS keep, {reason} AS drop_reason FROM ({sig})"


# ---------------------------------------------------------------------------
# Per-rule ablation waterfall (FineWeb-paper-style filter attribution)
# ---------------------------------------------------------------------------


def _ablation_aggs() -> tuple[list[str], list[str]]:
    """(fail bits f_i, the 19 integer sums over them) for the
    unconditional-stopword battery, keep_sql's default: n_total, then
    per rule solo_i (fails rule i), marg_i (rule i is the first
    failure) and cum_i (passes rules 0..i)."""
    bits = [f"({fail}) AS f{i}" for i, (_n, fail) in enumerate(RULES)]
    sums = ["CAST(count(*) AS BIGINT) AS n_total"]
    for i in range(len(RULES)):
        earlier = " OR ".join(f"f{j}" for j in range(i))
        conds = {
            "solo": f"f{i}",
            "marg": f"f{i} AND NOT ({earlier})" if i else f"f{i}",
            "cum": " AND ".join(f"NOT f{j}" for j in range(i + 1)),
        }
        sums += [
            f"CAST(sum(CASE WHEN {c} THEN 1 ELSE 0 END) AS BIGINT) AS {k}_{i}"
            for k, c in conds.items()
        ]
    return bits, sums


def rule_ablation(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-rule filter-ablation waterfall, the FineWeb-paper-style
    attribution table: for each battery rule in spec order,

      * solo_drops            — docs the rule drops in isolation
      * marginal_drops        — docs whose FIRST failing rule it is
                                (battery-order attribution)
      * cumulative_survivors  — docs passing every rule up to and
                                including this one
      * survivor_rate         — cumulative_survivors / n_total

    Execution shape: one battery pass computes all fail bits per row,
    a single aggregate reduces 19 integer sums map-side (1 row total
    crosses the shuffle), then stack() unpivots the one row into six —
    at 10^12 docs this costs exactly one scan and a 19-column
    single-row reduce, the same as any global rollup."""
    bits, sums = _ablation_aggs()
    one = with_signals(df, text_col=text_col).selectExpr(*bits).selectExpr(*sums)
    stack_args = ", ".join(
        f"CAST({i} AS BIGINT), '{name}', solo_{i}, marg_{i}, cum_{i}"
        for i, (name, _f) in enumerate(RULES)
    )
    return (
        one.selectExpr(
            "n_total",
            f"stack({len(RULES)}, {stack_args}) AS "
            "(stage, rule, solo_drops, marginal_drops, cumulative_survivors)",
        )
        .select(
            "stage",
            "rule",
            "solo_drops",
            "marginal_drops",
            "cumulative_survivors",
            "n_total",
            F.round(
                F.col("cumulative_survivors").cast("double")
                / F.col("n_total").cast("double"),
                6,
            ).alias("survivor_rate"),
        )
        .orderBy("stage")
    )


def rule_ablation_sql(
    d: str, table: str = "documents", text_col: str = "text"
) -> str:
    """DuckDB oracle of rule_ablation: same bits, same 19 sums, the
    unpivot written as a 6-row UNION ALL over the one aggregate row."""
    bits, sums = _ablation_aggs()
    sig = signals_sql(d, table=table, text_col=text_col, round_out=False)
    row_selects = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS BIGINT) AS stage, '{name}' AS rule, "
        f"solo_{i} AS solo_drops, marg_{i} AS marginal_drops, "
        f"cum_{i} AS cumulative_survivors, n_total, "
        f"round(CAST(cum_{i} AS DOUBLE) / CAST(n_total AS DOUBLE), 6) "
        f"AS survivor_rate FROM agg"
        for i, (name, _c) in enumerate(RULES)
    )
    return f"""
WITH sig AS ({sig}),
bits AS (SELECT {', '.join(bits)} FROM sig),
agg AS (SELECT {', '.join(sums)} FROM bits)
SELECT * FROM (
{row_selects}
) ORDER BY stage
""".strip()


# ---------------------------------------------------------------------------
# Model-based classifier stage (spec/quality_rules.py CLF_*)
# ---------------------------------------------------------------------------


def with_classifier(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append (clf_score, clf_keep): the deterministic logistic
    quality classifier over the heuristic signals. Pure codegen —
    the logit string is the SAME one the DuckDB oracle parses."""
    sig = with_signals(df, text_col=text_col)
    logit = F.expr(qr.clf_logit_sql())
    return sig.withColumn("clf_logit", logit).withColumn(
        "clf_score", F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("clf_logit")))
    ).withColumn("clf_keep", F.col("clf_logit") >= 0.0)


def classifier_sql(d: str, table: str = "documents", text_col: str = "text",
                   key_cols: str = "doc_id") -> str:
    """(key, clf_score r6, clf_keep) over the raw signal subquery."""
    sig = signals_sql(d, table=table, text_col=text_col, key_cols=key_cols,
                      round_out=False)
    logit = qr.clf_logit_sql()
    return f"""
SELECT {key_cols},
       round(1.0 / (1.0 + exp(-{logit})), 6) AS clf_score,
       ({logit}) >= 0.0 AS clf_keep
FROM ({sig})
""".strip()


def with_importance_sample(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """DSIR-flavored importance resampling: accept each document with
    probability equal to its classifier score, via a deterministic
    md5 coin — u_ppm = md5('samp:'||id) % 1e6 vs the score in ppm.
    The acceptance compare is INTEGER (score rounded to ppm on both
    engines), so no float boundary can flip a sampling decision.
    Zero shuffle; composes with any downstream mixture stage."""
    clf = with_classifier(df, text_col=text_col)
    u = F.expr(
        H.md5_i64(f"'samp:' || CAST({id_col} AS STRING)", sd.SPARK)
    ) % 1000000
    s_ppm = F.round(F.col("clf_score") * 1000000).cast("bigint")
    return (
        clf.withColumn("score_ppm", s_ppm)
        .withColumn("sampled", u < F.col("score_ppm"))
    )


def importance_sample_sql(d: str, table: str = "documents",
                          text_col: str = "text",
                          key_cols: str = "doc_id") -> str:
    clf = classifier_sql(d, table=table, text_col=text_col, key_cols=key_cols)
    cast_t = "STRING" if d == sd.SPARK else "VARCHAR"
    u = H.md5_i64(f"'samp:' || CAST(doc_id AS {cast_t})", d)
    return f"""
SELECT doc_id,
       CAST(round(clf_score * 1000000) AS BIGINT) AS score_ppm,
       (({u}) % 1000000) < CAST(round(clf_score * 1000000) AS BIGINT) AS sampled
FROM ({clf})
""".strip()


# ---------------------------------------------------------------------------
# Classifier threshold sweep (operating-curve table)
# ---------------------------------------------------------------------------

SWEEP_BUCKET_PPM = 50000  # 5%-of-score ventile buckets


def threshold_sweep(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per score-ventile operating point for the quality classifier,
    using the heuristic battery's keep bit as the proxy label: picking
    a classifier cutoff IS this table — precision/recall of
    'keep everything scoring >= bucket' for each ventile.

    Buckets are integer ppm ventiles of the ALREADY-integer score_ppm
    (no new float boundary); cumulative sums run over the 21-row
    bucket relation (bounded at any corpus size), so the descending
    window is scale-free. One battery pass, one groupBy, one tiny
    window — all counts integer-exact; the two ratios divide integers
    once at the end."""
    # with_classifier keeps the signal columns, so the heuristic label
    # comes off the SAME relation — ONE battery pass, no self-join
    # (the oracle joins two subqueries; relationally identical)
    clf = with_keep(with_classifier(df, text_col=text_col))
    # floor, NOT cast: Spark's double->bigint cast truncates while
    # DuckDB's rounds — floor agrees on both for the nonneg ppm ratio
    j = clf.select(
        F.floor(
            F.round(F.col("clf_score") * 1000000).cast("bigint")
            / F.lit(SWEEP_BUCKET_PPM)
        ).alias("bucket"),
        "keep",
    )
    b = j.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_pos"),
    # bucket relation is ≤21 rows but feeds the window AND the totals
    # agg: checkpoint so the corpus pass runs once
    ).localCheckpoint(eager=False)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = b.agg(F.sum("n_pos").alias("t_pos"))
    return (
        b.withColumn("cum_docs", F.sum("n_docs").over(w))
        .withColumn("cum_pos", F.sum("n_pos").over(w))
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_docs",
            "n_pos",
            "cum_docs",
            "cum_pos",
            F.round(
                F.col("cum_pos").cast("double") / F.col("cum_docs").cast("double"), 6
            ).alias("precision_at"),
            F.round(
                F.col("cum_pos").cast("double") / F.col("t_pos").cast("double"), 6
            ).alias("recall_at"),
        )
    )


def threshold_sweep_sql(d: str, table: str = "documents",
                        text_col: str = "text") -> str:
    clf = classifier_sql(d, table=table, text_col=text_col)
    keep = keep_sql(d, table=table, text_col=text_col)
    return f"""
WITH clf AS ({clf}),
lab AS ({keep}),
j AS (
  SELECT CAST(floor(CAST(round(clf.clf_score * 1000000) AS BIGINT)
              / {SWEEP_BUCKET_PPM}) AS BIGINT) AS bucket,
         lab.keep
  FROM clf JOIN lab ON clf.doc_id = lab.doc_id
),
b AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
  FROM j GROUP BY bucket
),
tot AS (SELECT CAST(sum(n_pos) AS BIGINT) AS t_pos FROM b)
SELECT bucket, n_docs, n_pos,
       CAST(sum(n_docs) OVER (ORDER BY bucket DESC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_docs,
       CAST(sum(n_pos) OVER (ORDER BY bucket DESC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos,
       round(CAST(sum(n_pos) OVER (ORDER BY bucket DESC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         / CAST(sum(n_docs) OVER (ORDER BY bucket DESC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6) AS precision_at,
       round(CAST(sum(n_pos) OVER (ORDER BY bucket DESC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         / CAST(t_pos AS DOUBLE), 6) AS recall_at
FROM b CROSS JOIN tot
""".strip()


def score_percentile_by_lang(df: DataFrame, lang_col: str = "lang",
                             text_col: str = "text") -> DataFrame:
    """(doc_id, lang, score_ppm, pctl): classifier score converted to
    its within-language percentile (percent_rank over the integer ppm
    score) — the calibration that makes ONE cutoff comparable across
    languages (raw scores skew by language; percentiles don't).

    Exact form: a per-language sort (the honest cost of exact
    percentiles; the sketch-based adaptive_cutoff_filter is the
    fixed-memory alternative when approximate quantiles suffice).
    percent_rank = (rank-1)/(n-1) divides exact integers — ties on the
    integer ppm score rank identically on both engines."""
    from pyspark.sql import Window

    clf = with_classifier(df, text_col=text_col)
    scored = clf.select(
        "doc_id",
        F.col(lang_col).alias("lang"),
        F.round(F.col("clf_score") * 1000000).cast("bigint").alias("score_ppm"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("score_ppm").asc())
    return scored.withColumn(
        "pctl", F.round(F.percent_rank().over(w), 6)
    )


def score_percentile_sql(d: str, pages_select: str) -> str:
    clf = classifier_sql(d, table="pages", key_cols="doc_id, lang")
    return f"""
WITH pages AS ({pages_select}),
clf AS ({clf})
SELECT doc_id, lang,
       CAST(round(clf_score * 1000000) AS BIGINT) AS score_ppm,
       round(percent_rank() OVER (
         PARTITION BY lang
         ORDER BY CAST(round(clf_score * 1000000) AS BIGINT) ASC
       ), 6) AS pctl
FROM clf
""".strip()


# ---------------------------------------------------------------------------
# Keep/drop agreement report (the tier's acceptance metric: F1 vs labels)
# ---------------------------------------------------------------------------


def confusion_counts(
    df: DataFrame, pred: Column, lab: Column, by: list[str] | None = None
) -> DataFrame:
    """(n_docs, tp, fp, fn, tn) — four integer counts reduced
    map-side; the only shuffle is the tiny final agg (1 row, or one
    per `by` group)."""
    aggs = [
        F.count("*").alias("n_docs"),
        F.sum((pred & lab).cast("long")).alias("tp"),
        F.sum((pred & ~lab).cast("long")).alias("fp"),
        F.sum((~pred & lab).cast("long")).alias("fn"),
        F.sum((~pred & ~lab).cast("long")).alias("tn"),
    ]
    return df.groupBy(*by).agg(*aggs) if by else df.agg(*aggs)


def metrics_from_confusion(agg: DataFrame, lead: list[str]) -> DataFrame:
    """Append accuracy/precision/recall/F1 to a confusion-count frame.
    Ratios divide exact integers once at the end: F1 = 2tp/(2tp+fp+fn)
    avoids the intermediate precision/recall floats entirely."""
    d = lambda a, b: F.round(a.cast("double") / b.cast("double"), 6)  # noqa: E731
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    return agg.select(
        *lead, "n_docs", "tp", "fp", "fn", "tn",
        d(tp + tn, F.col("n_docs")).alias("accuracy"),
        d(tp, tp + fp).alias("precision"),
        d(tp, tp + fn).alias("recall"),
        d(F.lit(2) * tp, F.lit(2) * tp + fp + fn).alias("f1"),
    )


def f1_report(df: DataFrame, text_col: str = "text") -> DataFrame:
    """ONE row: confusion counts + accuracy/precision/recall/F1 of the
    frozen-weight classifier's keep decision against the heuristic
    battery's keep bit (the reference-label proxy) — the keep/drop-F1
    acceptance metric computed in-engine.

    Both decisions come off the SAME signal relation (one battery
    pass, no self-join)."""
    clf = with_keep(with_classifier(df, text_col=text_col))
    agg = confusion_counts(clf, F.col("clf_keep"), F.col("keep"))
    return metrics_from_confusion(
        agg.withColumn("predictor", F.lit("frozen_logistic")), ["predictor"]
    )


def confusion_counts_sql(
    pred: str, lab: str, source: str, by: str | None = None
) -> str:
    """(n_docs, tp, fp, fn, tn) aggregate over `source` — shared by
    every predictor-vs-judge oracle. Optional `by` column groups the
    counts (e.g. per split)."""
    by_sel = f"{by}, " if by else ""
    by_group = f"\nGROUP BY {by}" if by else ""
    return f"""
SELECT {by_sel}CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN ({pred}) AND ({lab}) THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       CAST(sum(CASE WHEN ({pred}) AND NOT ({lab}) THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       CAST(sum(CASE WHEN NOT ({pred}) AND ({lab}) THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       CAST(sum(CASE WHEN NOT ({pred}) AND NOT ({lab}) THEN 1 ELSE 0 END) AS BIGINT) AS tn
FROM {source}{by_group}
""".strip()


def metrics_select_sql(
    predictor: str | None, m: str = "m", lead: str | None = None
) -> str:
    """Final metric projection over a confusion-count relation `m`.
    Lead column is either a literal predictor tag or a passthrough
    expression (e.g. a split column carried through the counts)."""
    lead_sql = f"'{predictor}' AS predictor" if predictor is not None else lead
    return f"""
SELECT {lead_sql}, n_docs, tp, fp, fn, tn,
       round(CAST(tp + tn AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS accuracy,
       round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) AS precision,
       round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6) AS recall,
       round(CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE), 6) AS f1
FROM {m}
""".strip()


def f1_report_sql(d: str, table: str = "documents",
                  text_col: str = "text") -> str:
    clf = classifier_sql(d, table=table, text_col=text_col)
    keep = keep_sql(d, table=table, text_col=text_col)
    counts = confusion_counts_sql(
        "clf.clf_keep", "lab.keep",
        "clf JOIN lab ON clf.doc_id = lab.doc_id",
    )
    return f"""
WITH clf AS ({clf}),
lab AS ({keep}),
m AS ({counts})
{metrics_select_sql('frozen_logistic')}
""".strip()


def calibration_report(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Reliability diagram for the classifier: per score-decile docs,
    mean predicted keep probability, empirical keep rate (judge
    labels), and the calibration gap — discrimination (F1 report) and
    calibration are separate failure modes and need separate gates.

    Deciles bucket the integer ppm score (floor over exact integers,
    top bucket merged at 9), so bucket edges carry no float boundary;
    the two means divide exact integer sums once at the end."""
    clf = with_keep(with_classifier(df, text_col=text_col))
    j = clf.select(
        F.least(
            F.floor(
                F.round(F.col("clf_score") * 1000000).cast("bigint")
                / F.lit(100000)
            ),
            F.lit(9),
        ).cast("bigint").alias("bucket"),
        F.round(F.col("clf_score") * 1000000).cast("bigint").alias("ppm"),
        "keep",
    )
    b = j.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        F.sum("ppm").alias("ppm_sum"),
    )
    mean_pred = F.col("ppm_sum").cast("double") / (
        F.col("n_docs").cast("double") * F.lit(1000000.0)
    )
    keep_rate = F.col("n_keep").cast("double") / F.col("n_docs").cast("double")
    return b.select(
        "bucket", "n_docs", "n_keep",
        F.round(mean_pred, 6).alias("mean_pred"),
        F.round(keep_rate, 6).alias("keep_rate"),
        F.round(F.abs(mean_pred - keep_rate), 6).alias("gap"),
    )


def calibration_sql(d: str, table: str = "documents",
                    text_col: str = "text") -> str:
    clf = classifier_sql(d, table=table, text_col=text_col)
    keep = keep_sql(d, table=table, text_col=text_col)
    return f"""
WITH clf AS ({clf}),
lab AS ({keep}),
j AS (
  SELECT CAST(least(floor(CAST(round(clf.clf_score * 1000000) AS BIGINT)
              / 100000), 9) AS BIGINT) AS bucket,
         CAST(round(clf.clf_score * 1000000) AS BIGINT) AS ppm,
         lab.keep
  FROM clf JOIN lab ON clf.doc_id = lab.doc_id
),
b AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
         CAST(sum(ppm) AS BIGINT) AS ppm_sum
  FROM j GROUP BY bucket
)
SELECT bucket, n_docs, n_keep,
       round(CAST(ppm_sum AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 1000000.0), 6) AS mean_pred,
       round(CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS keep_rate,
       round(abs(CAST(ppm_sum AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 1000000.0)
             - CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE)), 6) AS gap
FROM b
""".strip()
