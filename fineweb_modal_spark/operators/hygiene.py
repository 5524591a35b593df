"""The composed corpus-hygiene pipeline: one plan from crawl feed to
scrubbed text.

Individually gated stages prove each operator; this composes them the
way a real crawl refresh runs them, IN ONE Catalyst plan, so the gate
checks the stage BOUNDARIES (column contracts, null behavior, row
identity across joins) that per-stage gates cannot see:

  1. domain blocklist   (broadcast anti-join — blocklist.py)
  2. recency URL dedup  (newest capture wins — urldedup.url_dedup_latest)
  3. line-level dedup   (cross-doc boilerplate lines out — linededup.py)
  4. quality keep/drop  (token-stat battery — quality.py)
  5. PII/toxicity scrub (kept docs only — scrub.py)

Scale shape: stages 1/3-rebuild/4/5 are codegen or narrow-key
shuffles; the only corpus-x-corpus shuffle joins are the recency
keeper semi-join (doc_id) and line dedup's rebuild join (doc_id) —
both on the same key, so one Exchange can serve both under AQE.

The synthetic feed plants a positive for every stage: a blocked-host
cohort, a one-day-later re-crawl of every 4th URL (text extended, so
winning the recency race is OBSERVABLE in the scrubbed output), and
cross-document banner/footer lines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import sqldialect as sd
from . import blocklist as bl
from . import linededup as ld
from . import quality, scrub, urldedup

S, D = sd.SPARK, sd.DUCKDB


def hygiene_feed_sql(d: str, pages: str = "pages") -> str:
    """pages ∪ a one-day-later re-crawl of every 4th URL with extended
    text — the refresh must win its URL and carry the new text."""
    return (
        f"SELECT doc_id, url, warc_ts, text FROM {pages} "
        f"UNION ALL "
        f"SELECT doc_id + 5000000 AS doc_id, url, "
        f"warc_ts + INTERVAL 1 DAY AS warc_ts, "
        f"text || ' updated edition' AS text "
        f"FROM {pages} WHERE doc_id % 4 = 0"
    )


def relined_sql(d: str) -> str:
    """Lined text from (doc_id, text, host): a cross-doc cookie banner
    on even docs and a per-host footer around the unique body.
    concat_ws skips the NULL CASE branch in both dialects."""
    return (
        "concat_ws(chr(10), "
        "CASE WHEN doc_id % 2 = 0 THEN 'Please accept cookies to continue' END, "
        "text, "
        "'Footer of ' || host)"
    )


def run_hygiene(feed: DataFrame, materialize: bool = True) -> DataFrame:
    """(doc_id, keep, drop_reason, n_removed, scrubbed_text) — the
    five stages composed over a (doc_id, url, warc_ts, text) feed.

    materialize=True localCheckpoints the post-dedup snapshot before
    line dedup: line dedup reads its input THREE times (df agg, key
    triples, rebuild), and without a materialization each read would
    recompute the blocklist + recency joins — in production this
    boundary is a committed table between jobs, and the checkpoint is
    the single-plan analog (same move as dedup.resolve_clusters)."""
    hosted = bl.with_host(feed)
    blk = bl.synthetic_blocklist(hosted)
    surv = hosted.join(F.broadcast(blk.select("host")), "host", "left_anti")
    keepers = urldedup.url_dedup_latest(surv).select(
        F.col("keeper_doc_id").alias("doc_id")
    )
    kept = surv.join(keepers, "doc_id")
    lined = kept.select("doc_id", F.expr(relined_sql(S)).alias("text"))
    if materialize:
        lined = lined.localCheckpoint(eager=False)
    cleaned = ld.line_dedup(lined).select(
        "doc_id", F.col("clean_text").alias("text"), "n_removed"
    )
    qk = quality.with_keep(quality.with_signals(cleaned))
    return qk.select(
        "doc_id",
        "keep",
        "drop_reason",
        "n_removed",
        F.when(F.col("keep"), scrub.scrub_expr("text")).alias("scrubbed_text"),
    )


def hygiene_oracle_sql(d: str, pages_select: str) -> str:
    """Full DuckDB re-derivation: every stage's existing oracle
    fragment chained as CTEs (the recency stage stated as the
    window-rank policy)."""
    from ..spec import hashing as H

    coin = H.md5_i64("'blk:' || host", d)
    return f"""
WITH pages AS ({pages_select}),
feed AS ({hygiene_feed_sql(d)}),
hosted AS (
  SELECT doc_id, url, warc_ts, text, {bl.host_sql("url", d)} AS host
  FROM feed
),
blk AS (
  SELECT DISTINCT host FROM hosted WHERE {coin} % {bl.BLOCK_MOD} = 0
),
surv AS (
  SELECT * FROM hosted WHERE host NOT IN (SELECT host FROM blk)
),
ranked AS (
  SELECT doc_id,
         row_number() OVER (
           PARTITION BY {urldedup.normalize_sql("url", d)}
           ORDER BY warc_ts DESC, doc_id DESC) AS rn
  FROM surv
),
kept AS (
  SELECT s.* FROM surv s JOIN ranked r
  ON s.doc_id = r.doc_id AND r.rn = 1
),
lined AS (
  SELECT doc_id, {relined_sql(d)} AS text FROM kept
),
rebuilt AS ({ld.rebuild_select_sql(d, "lined")}),
k AS ({quality.keep_sql(d, table="rebuilt", text_col="clean_text",
                        key_cols="doc_id")})
SELECT k.doc_id, k.keep, k.drop_reason, r.n_removed,
       CASE WHEN k.keep
            THEN md5({scrub.scrub_sql("r.clean_text", d)}) END AS scrub_md5
FROM k JOIN rebuilt r ON k.doc_id = r.doc_id
""".strip()
