"""Corpus reweighting: DSIR importance weights + DoReMi domain mixture.

Two published data-selection techniques the reference pipeline's
users reach for right after filtering, both expressed as pure
relational plans:

* **DSIR** (Xie et al., "Data Selection for Language Models via
  Importance Resampling", arXiv:2302.03169): per-document importance
  log-weight = sum over token instances of
  ``log p_target(bucket) - log p_raw(bucket)`` over HASHED unigram
  buckets with add-1 smoothing. The bucket log-ratio table is at most
  ``DSIR_BUCKETS`` rows — broadcast — so the corpus pays one explode
  + one map-side-combined count and one per-document aggregate, never
  an all-pairs or model pass.

* **DoReMi** (Xie et al., arXiv:2305.10429) with static excess loss:
  with reference losses fixed (here: the deterministic quality
  classifier's softplus loss), the exponentiated-gradient iteration
  collapses to its closed form — domain weights proportional to
  ``exp(eta * excess_loss)`` — so the whole operator is one
  per-source aggregate over K ≈ #sources rows.

Exactness discipline (gate conventions): every per-row float is
quantized to integer micro-units BEFORE any cross-row sum, so the
aggregates are order-free integer math and the only doubles are
per-bucket/per-source scalars computed from identical integer inputs
on both engines.

Reference analog: fineweb-modal has no reweighting stage — this is
part of the training-data-toolbox extension (like dedup/decontam),
shaped by the same north rule as its filter stage (filter.py:50).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import sinks
from ..functions import sqldialect as sd
from ..spec import hashing as H
from ..spec import quality_rules as qr
from . import quality

# DSIR configuration: hashed-unigram feature space + in-domain proxy.
DSIR_BUCKETS = 256
DSIR_TARGET_SOURCE = "src0"  # fixture's in-domain proxy subset

# DoReMi configuration: EG step size (static-loss closed form).
DOREMI_ETA = 4.0


def _lrq_expr(d: str) -> str:
    """Per-bucket smoothed log-likelihood ratio, quantized to integer
    micro-units. One string, parsed by both engines, over columns
    (ct, cr, nt, nr)."""
    b = DSIR_BUCKETS
    return (
        f"CAST(round((ln(ct + 1) - ln(nt + {b}) - ln(cr + 1) + ln(nr + {b}))"
        f" * 1000000) AS BIGINT)"
    )


def _bucket_expr(d: str) -> str:
    h = H.md5_i64("'dsir:' || tok", d)
    return f"({h}) % {DSIR_BUCKETS}"


def _doc_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id[, source], b): one row per token instance."""
    keep = [c for c in ("doc_id", "source") if c in docs.columns]
    return (
        docs.where(F.col("text").isNotNull())
        .select(
            *keep,
            F.explode(F.expr(sd.ws_tokens("lower(text)", sd.SPARK))).alias(
                "tok"
            ),
        )
        .select(*keep, F.expr(_bucket_expr(sd.SPARK)).alias("b"))
    )


def dsir_ratio_from_tokens(toks: DataFrame) -> DataFrame:
    """(b, lrq, nr, nt): the bucket log-ratio INDEX — the trainable,
    storable artifact of DSIR (≤ DSIR_BUCKETS rows; nr/nt carried on
    every row so a stored copy is self-describing)."""
    counts = toks.groupBy("b").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(
            F.when(F.col("source") == DSIR_TARGET_SOURCE, 1).otherwise(0)
        ).alias("ct"),
    )
    # Token totals as a broadcast 1-row relation (not a global window:
    # no single-partition WindowExec even on the tiny counts side).
    totals = counts.agg(F.sum("cr").alias("nr"), F.sum("ct").alias("nt"))
    return (
        counts.crossJoin(F.broadcast(totals))
        .withColumn("lrq", F.expr(_lrq_expr(sd.SPARK)))
        .select("b", "lrq", "nr", "nt")
    )


def train_dsir_ratio(docs: DataFrame) -> DataFrame:
    """Train the bucket log-ratio index from a corpus with
    (doc_id, text, source) — one explode + one 256-key partial agg."""
    return dsir_ratio_from_tokens(_doc_tokens(docs))


def with_dsir_weights(docs: DataFrame) -> DataFrame:
    """(doc_id, tok_count, lw_micro): DSIR hashed-unigram importance
    log-weight per document, in integer micro-nats.

    Plan shape: explode → ONE conditional groupBy(bucket) computes
    raw AND target counts in a single pass (≤ DSIR_BUCKETS result
    rows); the ratio relation broadcasts back onto the token stream;
    the only corpus-sized shuffles are the bucket count (256-key,
    map-side combined) and the per-doc sum. The two global windows
    run over the ≤256-row counts relation — bounded at any corpus
    size."""
    toks = _doc_tokens(docs)
    ratio = dsir_ratio_from_tokens(toks).select("b", "lrq")
    per_doc = (
        toks.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("tok_count"),
            F.sum("lrq").alias("lw_micro"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("tok_count", F.lit(0)).cast("bigint").alias("tok_count"),
            F.coalesce("lw_micro", F.lit(0)).cast("bigint").alias("lw_micro"),
        )
    )


def dsir_weights_sql(d: str, table: str = "documents") -> str:
    """The identical computation in portable SQL (DuckDB oracle)."""
    return f"""
WITH tok AS (
  SELECT doc_id, source, {_bucket_expr(d)} AS b
  FROM (SELECT doc_id, source,
               unnest({sd.ws_tokens('lower(text)', d)}) AS tok
        FROM {table} WHERE text IS NOT NULL) t
),
counts AS (
  SELECT b, COUNT(*) AS cr,
         SUM(CASE WHEN source = '{DSIR_TARGET_SOURCE}' THEN 1 ELSE 0 END) AS ct
  FROM tok GROUP BY b
),
ratio AS (
  SELECT b, {_lrq_expr(d)} AS lrq
  FROM (SELECT b, cr, ct,
               SUM(cr) OVER () AS nr, SUM(ct) OVER () AS nt
        FROM counts) c
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS tok_count, SUM(lrq) AS lw_micro
  FROM tok JOIN ratio USING (b) GROUP BY doc_id
)
SELECT dd.doc_id,
       CAST(COALESCE(p.tok_count, 0) AS BIGINT) AS tok_count,
       CAST(COALESCE(p.lw_micro, 0) AS BIGINT) AS lw_micro
FROM {table} dd LEFT JOIN per_doc p USING (doc_id)
""".strip()


# ---------------------------------------------------------------------------
# DSIR index lifecycle: train once, score any later batch
# ---------------------------------------------------------------------------
#
# The steady-state 10^12-doc shape (same as the stored LSH / IVF
# indexes): the ratio relation is trained ONCE on the reference
# corpus and stored; each arriving crawl batch pays one explode + one
# broadcast join against the ≤256-row index — the old corpus is never
# re-read. Buckets the training corpus never saw score with the
# closed-form unseen default ln((nr+B)/(nt+B)) derived from the
# index's own totals, so delta scoring is exactly what a full retrain
# would assign those tokens under add-1 smoothing with ct=cr=0.

# lrq for a bucket with no training occurrences (ct = cr = 0).
def _unseen_lrq_expr(prefix: str = "") -> str:
    b = DSIR_BUCKETS
    return (
        f"CAST(round((ln({prefix}nr + {b}) - ln({prefix}nt + {b}))"
        f" * 1000000) AS BIGINT)"
    )


def score_with_ratio(new_docs: DataFrame, ratio: DataFrame) -> DataFrame:
    """(doc_id, tok_count, lw_micro) for a delta batch against a
    stored/broadcast ratio index — zero passes over the old corpus."""
    toks = _doc_tokens(new_docs.select("doc_id", "text"))
    meta = ratio.agg(F.max("nr").alias("nr"), F.max("nt").alias("nt"))
    scored = (
        toks.join(F.broadcast(ratio.select("b", "lrq")), "b", "left")
        .crossJoin(F.broadcast(meta))
        .withColumn(
            "lrq", F.coalesce("lrq", F.expr(_unseen_lrq_expr()))
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("tok_count"),
            F.sum("lrq").alias("lw_micro"),
        )
    )
    return (
        new_docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("tok_count", F.lit(0)).cast("bigint").alias("tok_count"),
            F.coalesce("lw_micro", F.lit(0)).cast("bigint").alias("lw_micro"),
        )
    )


def save_ratio(ratio: DataFrame, path: str) -> int:
    """Publish the trained index (≤ DSIR_BUCKETS rows, self-describing
    via the nr/nt totals on every row); returns its bucket count."""
    return sinks.publish(path, ratio)["rows"]


def load_ratio(spark, path: str) -> DataFrame:
    return spark.read.parquet(path.rstrip("/"))


def dsir_incremental_sql(d: str, table: str = "documents") -> str:
    """Oracle for delta scoring: re-derives the stored-corpus index
    AND the delta batch, scores unseen buckets with the same
    closed-form default."""
    from . import dedup

    delta = dedup.new_crawl_batch_sql(d, table=table)
    return f"""
WITH tok AS (
  SELECT doc_id, source, {_bucket_expr(d)} AS b
  FROM (SELECT doc_id, source,
               unnest({sd.ws_tokens('lower(text)', d)}) AS tok
        FROM {table} WHERE text IS NOT NULL) t
),
counts AS (
  SELECT b, COUNT(*) AS cr,
         SUM(CASE WHEN source = '{DSIR_TARGET_SOURCE}' THEN 1 ELSE 0 END) AS ct
  FROM tok GROUP BY b
),
ratio AS (
  SELECT b, {_lrq_expr(d)} AS lrq, nr, nt
  FROM (SELECT b, cr, ct,
               SUM(cr) OVER () AS nr, SUM(ct) OVER () AS nt
        FROM counts) c
),
meta AS (SELECT MAX(nr) AS nr, MAX(nt) AS nt FROM ratio),
delta AS ({delta}),
dtok AS (
  SELECT doc_id, {_bucket_expr(d)} AS b
  FROM (SELECT doc_id, unnest({sd.ws_tokens('lower(text)', d)}) AS tok
        FROM delta WHERE text IS NOT NULL) t
),
scored AS (
  SELECT doc_id, COUNT(*) AS tok_count,
         SUM(COALESCE(r.lrq, {_unseen_lrq_expr('meta.')})) AS lw_micro
  FROM dtok t LEFT JOIN ratio r USING (b), meta
  GROUP BY doc_id
)
SELECT dd.doc_id,
       CAST(COALESCE(s.tok_count, 0) AS BIGINT) AS tok_count,
       CAST(COALESCE(s.lw_micro, 0) AS BIGINT) AS lw_micro
FROM delta dd LEFT JOIN scored s USING (doc_id)
""".strip()


def dsir_literal_score_exprs(ratio_rows) -> tuple:
    """(tok_count, lw_micro) as ROW-LOCAL column expressions from a
    frozen ratio index (collected rows — ≤ DSIR_BUCKETS, the same
    bounded-collect pattern as the edu centroid literal fold).

    The index ships as a constant-folded map literal and the per-doc
    sum runs INSIDE the row via aggregate() over the token array —
    zero shuffle, zero joins, zero state — which is what makes the
    scorer legal in an append-mode stream (see
    streaming/incremental.dsir_score_stream). Values are identical to
    score_with_ratio: same bucket hash, same lrq integers, same
    closed-form unseen default."""
    b = DSIR_BUCKETS
    pairs = ", ".join(
        f"CAST({r['b']} AS BIGINT), CAST({r['lrq']} AS BIGINT)"
        for r in ratio_rows
    )
    nr = ratio_rows[0]["nr"] if ratio_rows else 0
    nt = ratio_rows[0]["nt"] if ratio_rows else 0
    default = (
        f"CAST(round((ln({nr} + {b}) - ln({nt} + {b})) * 1000000) AS BIGINT)"
    )
    toks = sd.ws_tokens("lower(text)", sd.SPARK)
    bucket_t = H.md5_i64("'dsir:' || t", sd.SPARK)
    lw = F.expr(
        f"CASE WHEN text IS NULL THEN CAST(0 AS BIGINT) ELSE "
        f"aggregate({toks}, CAST(0 AS BIGINT), (acc, t) -> "
        f"acc + coalesce(element_at(map({pairs}), ({bucket_t}) % {b}), "
        f"{default})) END"
    )
    tok_count = F.expr(
        f"CASE WHEN text IS NULL THEN CAST(0 AS BIGINT) "
        f"ELSE CAST(size({toks}) AS BIGINT) END"
    )
    return tok_count, lw


# ---------------------------------------------------------------------------
# DoReMi domain reweighting (static-excess-loss closed form)
# ---------------------------------------------------------------------------

# Softplus loss of the deterministic quality classifier, quantized to
# integer micro-nats per document BEFORE the per-source sum.
_LOSS_MICRO_EXPR = "CAST(round(ln(1 + exp(-(clf_logit))) * 1000000) AS BIGINT)"


def domain_reweight(docs: DataFrame) -> DataFrame:
    """(source, n_docs, sum_loss_micro, excess_loss, mix_weight):
    DoReMi-style domain mixture weights ∝ exp(eta * excess loss),
    excess measured against the best (lowest-loss) domain.

    Plan shape: one signals pass + ONE groupBy(source) partial agg;
    everything after runs on the K-row domain relation (windows over
    ≤K rows). The exp weights are themselves micro-quantized before
    normalization so the weight ratio is exact integer division."""
    clf = quality.with_classifier(docs)
    lm = clf.withColumn("loss_micro", F.expr(_LOSS_MICRO_EXPR))
    per = lm.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("loss_micro").alias("sum_loss_micro"),
    )
    ext = per.withColumn(
        "mean_loss",
        F.col("sum_loss_micro").cast("double")
        / F.col("n_docs")
        / F.lit(1000000.0),
    )
    # Domain-relation scalars via broadcast 1-row aggs (K rows total;
    # avoids single-partition WindowExec warnings in composed plans).
    base = ext.agg(F.min("mean_loss").alias("base_loss"))
    wq = ext.crossJoin(F.broadcast(base)).withColumn(
        "excess", F.col("mean_loss") - F.col("base_loss")
    ).withColumn(
        "wq",
        F.round(F.exp(F.lit(DOREMI_ETA) * F.col("excess")) * 1000000.0)
        .cast("bigint"),
    )
    z = wq.agg(F.sum("wq").alias("z"))
    return wq.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        F.col("sum_loss_micro").cast("bigint").alias("sum_loss_micro"),
        F.round("excess", 6).alias("excess_loss"),
        F.round(
            F.col("wq").cast("double") / F.col("z").cast("double"), 6
        ).alias("mix_weight"),
    )


def domain_reweight_sql(d: str, table: str = "documents") -> str:
    sig = quality.signals_sql(
        d, table=table, key_cols="doc_id, source", round_out=False
    )
    logit = qr.clf_logit_sql()
    return f"""
WITH sig AS ({sig}),
lm AS (
  SELECT source,
         CAST(round(ln(1 + exp(-({logit}))) * 1000000) AS BIGINT) AS loss_micro
  FROM sig
),
per AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(loss_micro) AS BIGINT) AS sum_loss_micro
  FROM lm GROUP BY source
),
ext AS (
  SELECT source, n_docs, sum_loss_micro,
         CAST(sum_loss_micro AS DOUBLE) / n_docs / 1000000.0 AS mean_loss
  FROM per
),
wq AS (
  SELECT source, n_docs, sum_loss_micro,
         mean_loss - MIN(mean_loss) OVER () AS excess,
         CAST(round(exp({DOREMI_ETA} * (mean_loss - MIN(mean_loss) OVER ()))
              * 1000000.0) AS BIGINT) AS wq
  FROM ext
)
SELECT source, n_docs, sum_loss_micro,
       round(excess, 6) AS excess_loss,
       round(CAST(wq AS DOUBLE) / CAST(SUM(wq) OVER () AS DOUBLE), 6)
         AS mix_weight
FROM wq
""".strip()
