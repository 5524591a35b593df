"""In-engine quality-classifier TRAINING — full-batch logistic GD.

The registry already ships a fixed-weight logistic scorer
(quality.with_classifier — the FineWeb-Edu/DCLM classifier
stand-in). This module trains those weights INSIDE the engine, the
way the real pipelines do it (distillation: fit a cheap model on
labels from a more expensive judge — here the heuristic keep rule
plays the judge):

  standardize: one aggregate (mean + stddev_pop per feature; 10
  doubles to the driver) — raw signal scales differ by 30× and
  unstandardized GD needs thousands of steps to cross them.
  Zero-variance features standardize to 0 (dead weight) instead of
  NaN-poisoning the gradient.

  each GD step = ONE aggregate over the z-scored frame (6 avg's,
  map-side partial + 1-row final), collected to the driver (6
  doubles), folded into literal weights for the next pass — with
  heavy-ball momentum applied driver-side (v ← β·v − η·g, w ← w + v;
  β adds no distributed work, just 6 more driver doubles). K passes
  over the data total — the execution shape of MLlib's full-batch
  LogisticRegression, minus the black box, so the DuckDB oracle can
  replay the whole trajectory (stats CTE + K gradient/weight CTE
  pairs, each weight CTE carrying (w, v) side by side) and
  hash-match the trained weights.

Scale: per-step shuffle is 6 doubles/partition; train() persists the
feature frame for the K+1 passes. Measured on the judge labels:
30 momentum steps at eta=2/beta=0.9 reach keep/drop F1 = 1.0 vs the
judge on both the sf0.01 and sf0.1 fixtures (plain 10-step GD:
0.9912 / 0.9879 — under-converged on the ill-conditioned rule
conjunction), with min |decision margin| ≥ 0.08, far above
cross-engine float noise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import quality

ETA = 2.0  # step size for z-scored features
K_STEPS = 30
# Heavy-ball momentum: v ← β·v − η·∇, w ← w + v. Full-batch GD on
# this ill-conditioned 5-feature problem needs hundreds of plain
# steps to separate the judge's rule conjunction; with β=0.9 the
# same trajectory reaches F1=1.0 vs the judge at 30 steps on both
# the sf0.01 and sf0.1 fixtures (min decision margin ≥ 0.08 —
# far above cross-engine float noise, so the hash gate is safe).
# Replayable in SQL: the weight CTEs carry (w, v) side by side.
MOMENTUM = 0.9

# (name, expression over the signal columns) — identical text renders
# in both engines.
FEATURE_SQL: list[tuple[str, str]] = [
    ("f1", "stopword_ratio"),
    ("f2", "digit_ratio"),
    ("f3", "distinct_ratio"),
    ("f4", "least(n_words, 1000) / 1000.0"),
    ("f5", "least(mean_word_len, 20.0) / 20.0"),
]
_FN = [n for n, _ in FEATURE_SQL]
_W = ["b"] + [f"w{i}" for i in range(1, len(FEATURE_SQL) + 1)]


def feature_frame(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(y, f1..f5): label = heuristic keep (the judge), features =
    bounded signal transforms. Everything whole-stage codegen."""
    sig = quality.with_keep(quality.with_signals(docs, text_col=text_col))
    cols = [F.col("keep").cast("double").alias("y")]
    cols += [F.expr(e).alias(n) for n, e in FEATURE_SQL]
    return sig.select(*cols)


def fit_stats(feat: DataFrame) -> dict[str, tuple[float, float]]:
    """Driver-side (mu, sd) per feature — one aggregate pass (10
    doubles to the driver)."""
    aggs = []
    for n in _FN:
        aggs += [F.avg(n).alias(f"mu_{n}"), F.stddev_pop(n).alias(f"sd_{n}")]
    st = feat.agg(*aggs).collect()[0]

    # f4/f5 are decimal-typed (the /1000.0 literal), so their avg comes
    # back as Decimal — coerce to double so the z-score literals (and
    # the persisted artifact) are IEEE doubles in every engine.
    def _f(v):
        return None if v is None else float(v)

    return {n: (_f(st[f"mu_{n}"]), _f(st[f"sd_{n}"])) for n in _FN}


def apply_stats(
    feat: DataFrame, st: dict[str, tuple[float, float]]
) -> DataFrame:
    """z-score with literal (mu, sd); sd=0 features become constant 0
    (dead weight) instead of NaN-poisoning the gradient."""
    out = feat
    for n in _FN:
        mu, sd = st[n]
        z = (
            (F.col(n) - F.lit(mu)) / F.lit(sd)
            if sd and sd > 0.0
            else F.lit(0.0)
        )
        out = out.withColumn(n, z)
    return out


def standardize(feat: DataFrame) -> DataFrame:
    """z-score every feature with stats fitted on the same frame."""
    return apply_stats(feat, fit_stats(feat))


def _margin(w: list[float]) -> F.Column:
    m = F.lit(w[0])
    for i, n in enumerate(_FN):
        m = m + F.lit(w[i + 1]) * F.col(n)
    return m


def _gd_loop(
    train_frame: DataFrame,
    steps: int,
    eta: float,
    beta: float = MOMENTUM,
) -> list[float]:
    """`steps` full-batch heavy-ball GD steps from 0 over a z-scored
    frame.

    grad_j = avg((sigmoid(w·x) - y) * x_j); v ← beta·v - eta·grad;
    w ← w + v. Only the 6-double gradient ever reaches the driver;
    the velocity state lives driver-side like the weights."""
    w = [0.0] * (len(_FN) + 1)
    v = [0.0] * (len(_FN) + 1)
    for _ in range(steps):
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-_margin(w)))
        err = p - F.col("y")
        aggs = [F.avg(err).alias("gb")] + [
            F.avg(err * F.col(n)).alias(f"g{i+1}") for i, n in enumerate(_FN)
        ]
        g = train_frame.agg(*aggs).collect()[0]
        v = [beta * v[j] - eta * g[j] for j in range(len(w))]
        w = [w[j] + v[j] for j in range(len(w))]
    return w


def train(
    docs: DataFrame,
    text_col: str = "text",
    steps: int = K_STEPS,
    eta: float = ETA,
) -> tuple[list[float], DataFrame]:
    """Returns ([b, w1..w5], z-scored feature frame) after `steps`
    full-batch GD steps from 0."""
    feat = standardize(feature_frame(docs, text_col=text_col)).persist()
    return _gd_loop(feat, steps, eta), feat


def train_report(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """1-row gate frame: trained weights (round6) + training-set
    agreement with the judge (integer counts — float-boundary-proof
    unless a logit lands within an ulp of exactly 0)."""
    w, feat = train(docs, text_col=text_col)
    try:
        agree = (_margin(w) >= 0.0) == (F.col("y") == 1.0)
        row = feat.agg(
            F.count("*").alias("n_train"),
            F.sum(agree.cast("long")).alias("n_agree"),
        )
        for name, val in zip(_W, w):
            row = row.withColumn(name, F.round(F.lit(val), 6))
        return row.select(*_W, "n_train", "n_agree")
    finally:
        feat.unpersist()


# ---------------------------------------------------------------------------
# Oracle: standardization + the full K-step trajectory as a CTE chain
# ---------------------------------------------------------------------------


def _margin_sql(wcte: str, frame: str = "featz") -> str:
    terms = [f"{wcte}.b"] + [
        f"{wcte}.w{i+1} * {frame}.{n}" for i, n in enumerate(_FN)
    ]
    return " + ".join(terms)


def _train_ctes(
    d: str,
    steps: int = K_STEPS,
    eta: float = ETA,
    docs: str = "documents",
    holdout: bool = False,
) -> tuple[list[str], str]:
    """The shared CTE chain: feat → st → featz → w0..w{steps}.
    Returns (ctes, final_weight_cte_name). With holdout=True the feat
    frame carries the deterministic split column and BOTH the z-score
    stats and every gradient aggregate see only the train split."""
    sig = quality.signals_sql(d, table=docs, round_out=False)
    keep = quality.keep_sql(d, table=docs)
    fcols = ", ".join(f"{e} AS {n}" for n, e in FEATURE_SQL)
    stat_sel = ", ".join(
        f"avg({n}) AS mu_{n}, stddev_pop({n}) AS sd_{n}" for n in _FN
    )
    zcols = ", ".join(
        f"CASE WHEN st.sd_{n} > 0 THEN (feat.{n} - st.mu_{n}) / st.sd_{n} "
        f"ELSE 0.0 END AS {n}"
        for n in _FN
    )
    split_col, split_out, st_from, g_where = "", "", "feat", ""
    if holdout:
        from .split import split_expr

        split_col = f"({split_expr(d, 's.doc_id')}) AS split, "
        split_out = "feat.split, "
        st_from = "feat WHERE split = 'train'"
        g_where = " WHERE featz.split = 'train'"
    # AS MATERIALIZED (DuckDB-only dialect — this chain never runs on
    # Spark): every w{k} is referenced twice (by g{k+1} and w{k+1}),
    # so an inlining planner would duplicate the whole sub-tree per
    # step — 2^K scans of the corpus. Materializing each 1-row weight
    # CTE keeps the replay linear in K.
    ctes = [
        f"""feat AS MATERIALIZED (
  SELECT {split_col}CAST(k.keep AS DOUBLE) AS y, {fcols}
  FROM ({sig}) s JOIN ({keep}) k ON s.doc_id = k.doc_id)""",
        f"st AS MATERIALIZED (SELECT {stat_sel} FROM {st_from})",
        f"featz AS MATERIALIZED "
        f"(SELECT {split_out}feat.y, {zcols} FROM feat, st)",
        "w0 AS MATERIALIZED (SELECT "
        + ", ".join(f"0.0 AS {c}" for c in _W)
        + ", "
        + ", ".join(f"0.0 AS v{c}" for c in _W)
        + ")",
    ]
    beta = MOMENTUM
    for k in range(1, steps + 1):
        prev = f"w{k-1}"
        p = f"(1.0 / (1.0 + exp(-({_margin_sql(prev)}))))"
        gsel = [f"avg(({p} - featz.y)) AS gb"] + [
            f"avg(({p} - featz.y) * featz.{n}) AS g{i+1}"
            for i, n in enumerate(_FN)
        ]
        ctes.append(
            f"g{k} AS MATERIALIZED (SELECT {', '.join(gsel)} FROM featz, {prev}{g_where})"
        )
        # heavy-ball: v_k = beta*v_{k-1} - eta*g_k; w_k = w_{k-1} + v_k
        # (the velocity expression is repeated verbatim in the weight
        # column because neither dialect lets a SELECT reference a
        # sibling alias)
        gnames = ["gb"] + [f"g{i+1}" for i in range(len(_FN))]
        vexpr = {
            c: f"{beta} * {prev}.v{c} - {eta} * g{k}.{gn}"
            for c, gn in zip(_W, gnames)
        }
        wsel = [f"{prev}.{c} + ({vexpr[c]}) AS {c}" for c in _W] + [
            f"{vexpr[c]} AS v{c}" for c in _W
        ]
        ctes.append(f"w{k} AS MATERIALIZED (SELECT {', '.join(wsel)} FROM {prev}, g{k})")
    return ctes, f"w{steps}"


def train_oracle_sql(
    d: str, steps: int = K_STEPS, eta: float = ETA, docs: str = "documents"
) -> str:
    """Re-derives the whole pipeline relationally: stats CTE (mu/sd),
    z-scored frame, then w{k} as a 1-row CTE from featz × w{k-1} —
    same avg-gradient, same literal step size, hash-equal weights."""
    ctes, wk = _train_ctes(d, steps=steps, eta=eta, docs=docs)
    agree = f"((({_margin_sql(wk)}) >= 0.0) = (featz.y = 1.0))"
    final = ", ".join(f"round({wk}.{c}, 6) AS {c}" for c in _W)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT {final},
       count(*) AS n_train,
       CAST(sum(CASE WHEN {agree} THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
FROM featz, {wk}
GROUP BY {', '.join(f'{wk}.{c}' for c in _W)}"""
    )


def f1_vs_judge(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """1-row confusion + accuracy/precision/recall/F1 of the TRAINED
    classifier against the judge labels it distilled — the keep/drop-F1
    acceptance metric for the learned predictor (the frozen-weight
    analog lives in quality.f1_report). Training cost is the K+1
    passes of train(); the evaluation itself is one map-side integer
    reduce over the already-persisted feature frame."""
    w, feat = train(docs, text_col=text_col)
    try:
        agg = quality.confusion_counts(
            feat, _margin(w) >= 0.0, F.col("y") == 1.0
        )
        return quality.metrics_from_confusion(
            agg.withColumn("predictor", F.lit("trained_gd")), ["predictor"]
        )
    finally:
        feat.unpersist()


def f1_oracle_sql(
    d: str, steps: int = K_STEPS, eta: float = ETA, docs: str = "documents"
) -> str:
    """Replays the training trajectory, then scores featz with the
    final weights into confusion counts + metrics."""
    ctes, wk = _train_ctes(d, steps=steps, eta=eta, docs=docs)
    counts = quality.confusion_counts_sql(
        f"({_margin_sql(wk)}) >= 0.0", "featz.y = 1.0", f"featz, {wk}"
    )
    ctes.append(f"m AS ({counts})")
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + quality.metrics_select_sql("trained_gd")
    )


# ---------------------------------------------------------------------------
# Held-out evaluation: fit on the train split, report F1 per split
# ---------------------------------------------------------------------------


def holdout_f1(
    docs: DataFrame,
    text_col: str = "text",
    steps: int = K_STEPS,
    eta: float = ETA,
) -> DataFrame:
    """3 rows (split ∈ train/val/test): confusion + F1 of a classifier
    fitted ONLY on the deterministic train split — the generalization
    check that justifies shipping a retrained filter (training-set
    agreement alone can't: it rewards memorizing the judge).

    Hygiene: z-score stats AND every gradient aggregate see only the
    train split; val/test rows are standardized with the train stats
    and only ever scored. Same execution shape as train(): K+1 tiny
    aggregates over the persisted frame, then one grouped integer
    reduce for the report."""
    from .split import assign_split

    sig = quality.with_keep(
        quality.with_signals(assign_split(docs), text_col=text_col)
    )
    cols = [F.col("split"), F.col("keep").cast("double").alias("y")]
    cols += [F.expr(e).alias(n) for n, e in FEATURE_SQL]
    feat = sig.select(*cols)
    st = fit_stats(feat.where(F.col("split") == "train"))
    featz = apply_stats(feat, st).persist()
    try:
        w = _gd_loop(featz.where(F.col("split") == "train"), steps, eta)
        agg = quality.confusion_counts(
            featz, _margin(w) >= 0.0, F.col("y") == 1.0, by=["split"]
        )
        return quality.metrics_from_confusion(agg, ["split"])
    finally:
        featz.unpersist()


def holdout_f1_oracle_sql(
    d: str, steps: int = K_STEPS, eta: float = ETA, docs: str = "documents"
) -> str:
    """Replays the train-split-only trajectory, then scores ALL splits
    with the final weights into per-split confusion + metrics."""
    ctes, wk = _train_ctes(d, steps=steps, eta=eta, docs=docs, holdout=True)
    counts = quality.confusion_counts_sql(
        f"({_margin_sql(wk)}) >= 0.0",
        "featz.y = 1.0",
        f"featz, {wk}",
        by="featz.split",
    )
    ctes.append(f"m AS ({counts})")
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + quality.metrics_select_sql(None, lead="split")
    )


# ---------------------------------------------------------------------------
# Trained-artifact lifecycle: persist weights + stats, score anywhere
# ---------------------------------------------------------------------------


def save_model(
    spark, w: list[float], st: dict[str, tuple[float, float]], path: str
) -> None:
    """Persist the trained classifier as two tiny parquet relations:
    weights (1 row) and z-score stats (one row per feature) + meta.
    The artifact is self-describing — score_with_model needs nothing
    else — mirroring the ngram-LM train-once/score-anywhere shape."""
    p = path.rstrip("/")
    spark.createDataFrame(
        [tuple(w)], ", ".join(f"{c} double" for c in _W)
    ).write.mode("overwrite").parquet(f"{p}/weights")
    spark.createDataFrame(
        [(n, st[n][0], st[n][1]) for n in _FN],
        "feature string, mu double, sd double",
    ).write.mode("overwrite").parquet(f"{p}/stats")
    spark.createDataFrame(
        [(K_STEPS, ETA, MOMENTUM, len(_FN))],
        "steps int, eta double, momentum double, n_features int",
    ).write.mode("overwrite").parquet(f"{p}/meta")


def load_model(spark, path: str):
    """(w, stats) back from save_model's layout — driver-small reads
    (1 + n_features rows)."""
    p = path.rstrip("/")
    wrow = spark.read.parquet(f"{p}/weights").collect()[0]
    w = [wrow[c] for c in _W]
    st = {
        r["feature"]: (r["mu"], r["sd"])
        for r in spark.read.parquet(f"{p}/stats").collect()
    }
    missing = [n for n in _FN if n not in st]
    if missing:
        raise ValueError(f"stored stats missing features: {missing}")
    return w, st


def score_with_model(
    docs: DataFrame,
    w: list[float],
    st: dict[str, tuple[float, float]],
    text_col: str = "text",
    key: str = "doc_id",
) -> DataFrame:
    """(key, clf_score, clf_keep) for an arbitrary corpus under a
    stored model: signals → stored-stats z-score → literal-weight
    margin — one zero-shuffle codegen projection, no training passes."""
    sig = quality.with_signals(docs, text_col=text_col)
    feat = sig.select(
        F.col(key), *[F.expr(e).alias(n) for n, e in FEATURE_SQL]
    )
    z = apply_stats(feat, st)
    m = _margin(w)
    return z.select(
        key,
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-m)), 6).alias("clf_score"),
        (m >= 0.0).alias("clf_keep"),
    )
