"""Trained word-bigram LM with stupid backoff — corpus-fit perplexity.

The pipeline's existing perplexity stage (operators/scoring.py)
scores against a FIXED char-bigram table shipped with the repo (the
hermetic stand-in for the reference's KenLM model, features.py
analog). This module adds the other half a real data pipeline needs:
TRAIN the n-gram model on the corpus itself (CCNet/KenLM practice —
fit on a high-quality slice, score everything, drop the tail), as
pure relational algebra:

  train:  tokens → unigram counts (1 shuffle) → bigram counts
          (1 shuffle); both two-phase partial aggs. The model is the
          pair of count relations — no driver-side materialization.
  score:  explode doc bigrams → broadcast-join model → per-doc avg
          log-prob (1 shuffle on doc_id). Stupid backoff
          (Brants et al. 2007, "Large Language Models in Machine
          Translation"): S(w2|w1) = c12/c1 if the bigram was seen,
          else ALPHA * c(w2)/N, else ALPHA/N for OOV.

Scale: min-count pruning bounds the broadcast model (a 100-TB corpus
has ~1e8 bigram types above count 5 — if that exceeds the broadcast
budget, pass broadcast_model=False and the joins become shuffle hash
joins on the token keys; the plan stays otherwise identical). Log is
applied to EXACT integer-ratio doubles, so Spark and DuckDB agree to
the last ulp before the 6-dp gate rounding.

Only ln() sits between counts and the gate hash — no trained-weight
tables, so the oracle re-derives the ENTIRE model relationally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import sqldialect as sd

S, D = sd.SPARK, sd.DUCKDB

ALPHA = 0.4  # stupid-backoff discount
MIN_BIGRAM_COUNT = 3  # bigram types below this back off to unigram
MIN_UNIGRAM_COUNT = 2  # vocab floor: rarer tokens are OOV


def _toks_expr(text_col: str) -> F.Column:
    return F.expr(sd.ws_tokens(f"lower({text_col})", S))


def _nonblank(text_col: str) -> F.Column:
    return F.length(F.expr(sd.ws_trim(f"lower({text_col})", S))) > 0


def with_tokens(
    docs: DataFrame,
    text_col: str = "text",
    keep_blank: bool = False,
    carry: list[str] | None = None,
) -> DataFrame:
    """doc_id + lowercase whitespace token array. With keep_blank,
    blank docs carry an EMPTY array instead of being dropped (split
    of '' would yield the spurious ['']) — that lets the scoring path
    keep every doc without a re-join at the end."""
    carry = carry or []
    if keep_blank:
        toks = F.when(_nonblank(text_col), _toks_expr(text_col)).otherwise(
            F.expr("array()").cast("array<string>")
        )
        return docs.select("doc_id", *carry, toks.alias("toks"))
    return docs.where(_nonblank(text_col)).select(
        "doc_id", *carry, _toks_expr(text_col).alias("toks")
    )


def with_bigrams(toked: DataFrame) -> DataFrame:
    """One row per bigram OCCURRENCE — built row-locally (no shuffle)
    with an indexed transform; a 1-token doc yields slice(...,1,0) =
    an empty array, so it simply contributes nothing."""
    return toked.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(toks, 1, greatest(size(toks)-1, 0)), "
                "(w, i) -> struct(w AS w1, element_at(toks, i+2) AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")


def train_unigrams(toked: DataFrame, min_count: int = MIN_UNIGRAM_COUNT) -> DataFrame:
    """(tok, c1) vocabulary with count floor — two-phase agg."""
    return (
        toked.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c1"))
        .where(F.col("c1") >= min_count)
    )


def train_bigrams(
    bigrams: DataFrame,
    unigrams: DataFrame,
    min_count: int = MIN_BIGRAM_COUNT,
    broadcast_model: bool = True,
) -> DataFrame:
    """(w1, w2, c12, c1, logprob): the conditional table. The c1
    denominator is the raw unigram count (stupid backoff uses
    unnormalized ratios, not a proper distribution — that's the
    point: no discount mass bookkeeping, embarrassingly parallel)."""
    uni = unigrams.select(F.col("tok").alias("w1"), "c1")
    if broadcast_model:
        uni = F.broadcast(uni)
    counts = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .where(F.col("c12") >= min_count)
    )
    return counts.join(uni, "w1").withColumn(
        "logprob", F.log(F.col("c12") / F.col("c1"))
    )


def score_docs(
    docs: DataFrame,
    text_col: str = "text",
    broadcast_model: bool = True,
    carry: list[str] | None = None,
) -> DataFrame:
    """Train on the corpus, score every doc: (doc_id, n_bigrams,
    avg_lp, ppl). Docs with <2 tokens (or blank) carry n_bigrams=0
    and NULL avg_lp/ppl — they have no bigram evidence either way.

    ppl = exp(-avg_lp): lower is more fluent under the corpus's own
    statistics; filtering on a high-ppl tail is the CCNet recipe.
    `carry` names extra doc columns to thread through (e.g. lang for
    per-language bucketing) — they ride the doc_id groupBy keys."""
    carry = carry or []
    toked = with_tokens(docs, text_col, keep_blank=True, carry=carry)
    uni = train_unigrams(toked.select("doc_id", "toks"))
    occ = _occurrences(toked, carry)
    bg = occ.where(F.col("w1").isNotNull())
    model = train_bigrams(bg, uni, broadcast_model=broadcast_model)
    n_total = uni.agg(F.sum("c1").alias("n_total"))
    lp = _attach_logprob(
        occ, model, uni, n_total, broadcast_model=broadcast_model
    )
    return _per_doc_rollup(lp, carry)


def _occurrences(toked: DataFrame, carry: list[str]) -> DataFrame:
    """Bigram OCCURRENCES per doc. explode_outer keeps bigramless docs
    as a single NULL-bg row, so no end-of-plan corpus re-join (which
    would be a second full shuffle + sort-merge at scale) is ever
    needed."""
    return toked.select(
        "doc_id",
        *carry,
        F.explode_outer(
            F.expr(
                "transform(slice(toks, 1, greatest(size(toks)-1, 0)), "
                "(w, i) -> struct(w AS w1, element_at(toks, i+2) AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", *carry, "bg.w1", "bg.w2")


def _attach_logprob(
    occ: DataFrame,
    model: DataFrame,
    uni: DataFrame,
    n_total: DataFrame | int,
    broadcast_model: bool = True,
) -> DataFrame:
    """Stupid-backoff log-prob per occurrence. n_total may be a 1-row
    frame (batch: stays a broadcast cross-join) or a plain int
    (streaming: stream×static cross-joins are awkward, a literal
    isn't)."""
    uni_w2 = uni.select(F.col("tok").alias("w2"), F.col("c1").alias("c1_w2"))
    model_j = model.select("w1", "w2", "logprob")
    if broadcast_model:
        uni_w2, model_j = F.broadcast(uni_w2), F.broadcast(model_j)
    j = occ.join(model_j, ["w1", "w2"], "left_outer").join(
        uni_w2, "w2", "left_outer"
    )
    if isinstance(n_total, DataFrame):
        j = j.crossJoin(F.broadcast(n_total))
        n = F.col("n_total")
    else:
        n = F.lit(int(n_total))
    return j.withColumn(
        "lp",
        F.when(
            F.col("w1").isNotNull(),
            F.coalesce(
                F.col("logprob"),
                F.log(F.lit(ALPHA) * F.col("c1_w2") / n),
                F.log(F.lit(ALPHA) / n),
            ),
        ),
    )


def _per_doc_rollup(lp: DataFrame, carry: list[str]) -> DataFrame:
    return lp.groupBy("doc_id", *carry).agg(
        F.count("w1").alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("avg_lp"),
        F.round(F.exp(-F.avg("lp")), 6).alias("ppl"),
    )


def train_model(
    docs: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame, int]:
    """Batch-train and hand back the frozen model: (bigram table,
    unigram vocab, N). This is the artifact a scoring STREAM (or a
    later snapshot) applies — train once, apply anywhere."""
    toked = with_tokens(docs, text_col)
    uni = train_unigrams(toked)
    model = train_bigrams(with_bigrams(toked), uni)
    n_total = int(uni.agg(F.sum("c1")).collect()[0][0] or 0)
    return model, uni, n_total


def score_against_model(
    docs: DataFrame,
    model: DataFrame,
    uni: DataFrame,
    n_total: int,
    text_col: str = "text",
) -> DataFrame:
    """Apply a FROZEN model to any doc frame — batch or streaming
    (every step is stateless row-local transform + stream-static
    broadcast join until the final per-doc rollup)."""
    toked = with_tokens(docs, text_col, keep_blank=True)
    occ = _occurrences(toked, [])
    lp = _attach_logprob(occ, model, uni, n_total)
    return _per_doc_rollup(lp, [])


def ccnet_ppl_buckets(docs: DataFrame, lang_col: str = "lang") -> DataFrame:
    """CCNet's head/middle/tail split: within each language, rank docs
    by trained-LM perplexity and cut into tertiles (ntile(3)) — head
    is the most-fluent third, the slice CCNet keeps unconditionally;
    tail is the usual drop. Ordering is (ppl, doc_id) on the 6-dp
    ppl, so the tertile boundaries are engine-independent. Docs with
    no bigram evidence (blank / 1 token) are excluded — they carry no
    ppl to rank. One extra shuffle (the per-language window) on a
    3-column relation."""
    from pyspark.sql import Window

    scored = score_docs(docs, carry=[lang_col]).where(F.col("ppl").isNotNull())
    w = Window.partitionBy(lang_col).orderBy(F.asc("ppl"), F.asc("doc_id"))
    b = F.ntile(3).over(w)
    return scored.select(
        "doc_id",
        lang_col,
        "ppl",
        F.when(b == 1, "head").when(b == 2, "middle").otherwise("tail").alias(
            "ppl_bucket"
        ),
    )


def holdout_eval(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The LM-eval loop done honestly: train on the deterministic
    train split, report held-out corpus perplexity on val and test —
    OOV and backoff paths fire for real because eval vocabulary was
    never seen by the counts. Output: one row per held-out split
    (n_docs with bigram evidence, n_bigrams, corpus avg_lp, ppl =
    exp(-avg_lp) over all occurrences — the standard corpus-level
    metric, not a mean of per-doc means)."""
    from .split import assign_split

    sp = assign_split(docs)
    model, uni, n_total = train_model(
        sp.where(F.col("split") == "train"), text_col=text_col
    )
    ev = sp.where(F.col("split") != "train")
    toked = with_tokens(ev, text_col, keep_blank=True, carry=["split"])
    occ = _occurrences(toked, ["split"]).where(F.col("w1").isNotNull())
    lp = _attach_logprob(occ, model, uni, n_total)
    return lp.groupBy("split").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("avg_lp"),
        F.round(F.exp(-F.avg("lp")), 6).alias("ppl"),
    )


# ---------------------------------------------------------------------------
# Oracle renderings (DuckDB re-derives the full model from documents)
# ---------------------------------------------------------------------------


def _base_ctes(d: str, docs: str = "documents") -> str:
    toks = sd.ws_tokens("lower(text)", d)
    trim = sd.ws_trim("lower(text)", d)
    return f"""
toks AS (SELECT doc_id, {toks} AS t FROM {docs}
         WHERE length({trim}) > 0),
big AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        FROM toks, unnest(generate_series(1, len(t)-1)) AS u(i)),
uni AS (SELECT u.tok, count(*) AS c1
        FROM toks, unnest(t) AS u(tok)
        GROUP BY u.tok HAVING count(*) >= {MIN_UNIGRAM_COUNT})
""".strip()


def model_oracle_sql(d: str, docs: str = "documents") -> str:
    return f"""
WITH {_base_ctes(d, docs)}
SELECT b.w1, b.w2, count(*) AS c12, any_value(u.c1) AS c1,
       round(ln(count(*) / CAST(any_value(u.c1) AS DOUBLE)), 6) AS logprob
FROM big b JOIN uni u ON b.w1 = u.tok
GROUP BY b.w1, b.w2
HAVING count(*) >= {MIN_BIGRAM_COUNT}
""".strip()


def score_oracle_sql(
    d: str, docs: str = "documents", carry_cols: str = ""
) -> str:
    carry_sel = "".join(f", d.{c}" for c in carry_cols.split(",") if c)
    return f"""
WITH {_base_ctes(d, docs)},
model AS (SELECT b.w1, b.w2, ln(count(*) / CAST(any_value(u.c1) AS DOUBLE)) AS logprob
          FROM big b JOIN uni u ON b.w1 = u.tok
          GROUP BY b.w1, b.w2 HAVING count(*) >= {MIN_BIGRAM_COUNT}),
n AS (SELECT sum(c1) AS n_total FROM uni),
lp AS (SELECT b.doc_id,
              coalesce(m.logprob,
                       ln({ALPHA} * u2.c1 / (SELECT n_total FROM n)),
                       ln({ALPHA} / (SELECT n_total FROM n))) AS lp
       FROM big b
       LEFT JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2
       LEFT JOIN uni u2 ON b.w2 = u2.tok),
scored AS (SELECT doc_id, count(*) AS n_bigrams, avg(lp) AS avg_lp
           FROM lp GROUP BY doc_id)
SELECT d.doc_id{carry_sel}, coalesce(s.n_bigrams, 0) AS n_bigrams,
       round(s.avg_lp, 6) AS avg_lp,
       round(exp(-s.avg_lp), 6) AS ppl
FROM {docs} d LEFT JOIN scored s ON d.doc_id = s.doc_id
""".strip()


def ccnet_buckets_oracle_sql(
    d: str, docs: str = "documents", lang_col: str = "lang"
) -> str:
    inner = score_oracle_sql(d, docs=docs, carry_cols=lang_col)
    return f"""
SELECT doc_id, {lang_col}, ppl,
       CASE ntile(3) OVER (PARTITION BY {lang_col} ORDER BY ppl ASC, doc_id ASC)
            WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
       END AS ppl_bucket
FROM ({inner}) WHERE ppl IS NOT NULL
""".strip()


def holdout_eval_oracle_sql(d: str, docs: str = "documents") -> str:
    from .split import split_expr

    sp = split_expr(d)
    toks = sd.ws_tokens("lower(text)", d)
    trim = sd.ws_trim("lower(text)", d)
    return f"""
WITH alldocs AS (SELECT doc_id, text, {sp} AS split FROM {docs}),
traindocs AS (SELECT doc_id, text FROM alldocs WHERE split = 'train'),
evaldocs AS (SELECT doc_id, text, split FROM alldocs WHERE split <> 'train'),
{_base_ctes(d, 'traindocs')},
model AS (SELECT b.w1, b.w2, ln(count(*) / CAST(any_value(u.c1) AS DOUBLE)) AS logprob
          FROM big b JOIN uni u ON b.w1 = u.tok
          GROUP BY b.w1, b.w2 HAVING count(*) >= {MIN_BIGRAM_COUNT}),
n AS (SELECT sum(c1) AS n_total FROM uni),
etoks AS (SELECT doc_id, split, {toks} AS t FROM evaldocs
          WHERE length({trim}) > 0),
ebig AS (SELECT doc_id, split, t[i] AS w1, t[i+1] AS w2
         FROM etoks, unnest(generate_series(1, len(t)-1)) AS u(i)),
elp AS (SELECT e.doc_id, e.split,
               coalesce(m.logprob,
                        ln({ALPHA} * u2.c1 / (SELECT n_total FROM n)),
                        ln({ALPHA} / (SELECT n_total FROM n))) AS lp
        FROM ebig e
        LEFT JOIN model m ON e.w1 = m.w1 AND e.w2 = m.w2
        LEFT JOIN uni u2 ON e.w2 = u2.tok)
SELECT split, count(DISTINCT doc_id) AS n_docs, count(*) AS n_bigrams,
       round(avg(lp), 6) AS avg_lp, round(exp(-avg(lp)), 6) AS ppl
FROM elp GROUP BY split
""".strip()
