"""Exact substring-level dedup: duplicated token-window spans.

The remaining dedup granularity the toolbox lacked: MinHash/SimHash
find near-duplicate DOCUMENTS, the boilerplate screen finds hot short
shingles — this finds exact repeated SUBSTRINGS (the Lee et al.
"Deduplicating Training Data Makes Language Models Better" pass,
suffix-array semantics approximated at token-window granularity): any
run of >= SPAN_W tokens that occurs more than once in the corpus is
reported as a per-document token-range span, ready for excision.

Plan (scale-first):
  1. per-row window hashes — `shingles(n=SPAN_W)` staged-column folds,
     one md5 per window, zero shuffle (same cost class as the MinHash
     shingle stage, W/n_shingle ≈ 10× the hashing work);
  2. posexplode → global occurrence count per hash — ONE map-side-
     combinable partial agg on (h)-keyed 16-byte rows; text never
     shuffles;
  3. hashes with >= 2 occurrences (a vanishing fraction of a clean
     corpus, but not of a raw crawl) semi-joined back onto the window
     relation — broadcast when AQE sees the set is small, sort-merge
     otherwise; clean rows die at the semi-probe, so step 4 touches
     only duplicated windows;
  4. island merge per doc: consecutive duplicated window positions
     (pos - row_number() constant) collapse into [span_start,
     span_end] token ranges — a window agg over the tiny dup set.

A duplicated L-token run yields L-W+1 consecutive windows, merging to
one span of exactly L tokens — the excisable range is recovered, not
just a flag. All fragments render identically for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import sqldialect as sd
from ..spec import hashing as H

S = H.SPARK

SPAN_W = 30  # minimum duplicated run length, in tokens


def _windows(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, h): every SPAN_W-token window hash, 1-based pos.
    Docs shorter than SPAN_W tokens yield their single all-tokens
    window (shingles() short-doc rule) — an exact short doc dup is
    still a dup."""
    from ..functions.parallelism import ensure_parallelism

    toks = H.tokens_lower("text", S)
    sh = H.shingles("__toks", S, n=SPAN_W)
    shh = H.shingle_hashes("__sh", S)
    return (
        ensure_parallelism(docs)
        .selectExpr("doc_id", f"{toks} AS __toks")
        .selectExpr("doc_id", f"{sh} AS __sh")
        .selectExpr("doc_id", f"{shh} AS hs")
        .select("doc_id", F.posexplode("hs").alias("pos", "h"))
        .withColumn("pos", F.col("pos") + 1)
    )


def duplicated_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, span_start, span_end, n_windows): merged token ranges
    (1-based, inclusive) covered by duplicated >= SPAN_W-token runs.

    The window-hash relation is consumed twice (occurrence agg, then
    the semi-join side); without a boundary each consumer recomputes
    every per-window md5 from text. localCheckpoint materializes it
    once — the committed-index-table analog (at corpus scale the
    window index IS a table you write once and probe). Locally the
    two variants measure within shared-VM noise of each other (the
    hash pass is not the sf0.1 bottleneck); the boundary is kept for
    the at-scale semantics and flat plans."""
    win = _windows(docs).localCheckpoint(eager=False)
    dup_h = (
        win.groupBy("h")
        .agg(F.count("*").alias("occ"))
        .where(F.col("occ") >= 2)
        .select("h")
    )
    # AQE / the size threshold pick the join: the duplicated-hash set
    # grows with the duplication of the input (large on a raw crawl)
    dup = win.join(dup_h, "h", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    island = dup.withColumn(
        "island", F.col("pos") - F.row_number().over(w)
    )
    return (
        island.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(SPAN_W - 1)).alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .drop("island")
    )


def planted_corpus_sql(d: str, table: str = "documents") -> str:
    """documents ∪ planted partial copies: every 20th doc contributes
    a doc at id+3000000 whose text is its tokens 10..69 (a 60-token
    exact repeat) plus a unique tail — deterministic span positives,
    the house corpus_with_near_dups pattern. Word-soup fixtures can't
    produce a natural 30-token exact repeat, so output = planted spans
    exactly."""
    toks = H.tokens_lower("text", d)
    if d == S:
        copied = f"array_join(slice({toks}, 10, 60), ' ')"
    else:
        copied = f"list_aggregate({toks}[10:69], 'string_agg', ' ')"
    return (
        f"SELECT doc_id, text FROM {table} "
        f"UNION ALL "
        f"SELECT doc_id + 3000000 AS doc_id, "
        f"{copied} || ' zzqq unique tail marker ' || CAST(doc_id AS "
        f"{'STRING' if d == S else 'VARCHAR'}) AS text "
        f"FROM {table} WHERE doc_id % 20 = 0"
    )


def duplicated_spans_oracle_sql(d: str, table: str) -> str:
    toks = H.tokens_lower("text", d)
    sh = H.shingles("__toks", d, n=SPAN_W)
    shh = H.shingle_hashes("__sh", d)
    inner = (
        f"(SELECT doc_id, {shh} AS hs FROM "
        f"(SELECT doc_id, {sh} AS __sh FROM "
        f"(SELECT doc_id, {toks} AS __toks FROM {table})))"
    )
    if d == S:
        win = (
            f"SELECT doc_id, pos + 1 AS pos, h FROM {inner} "
            f"LATERAL VIEW posexplode(hs) AS pos, h"
        )
    else:
        win = (
            f"SELECT doc_id, u.pos, u.h FROM {inner}, "
            f"LATERAL (SELECT unnest(hs) AS h, generate_subscripts(hs, 1) AS pos) u"
        )
    return f"""
WITH win AS ({win}),
dup_h AS (SELECT h FROM (SELECT h, count(*) AS occ FROM win GROUP BY h)
          WHERE occ >= 2),
dup AS (SELECT doc_id, pos FROM win WHERE h IN (SELECT h FROM dup_h)),
island AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM dup
)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {SPAN_W - 1} AS BIGINT) AS span_end,
       CAST(count(*) AS BIGINT) AS n_windows
FROM island GROUP BY doc_id, isl
""".strip()


# ---------------------------------------------------------------------------
# Span excision: find → REMOVE (completes the substring-dedup pass)
# ---------------------------------------------------------------------------


def excise_spans(docs: DataFrame, spans: DataFrame) -> DataFrame:
    """(doc_id, n_before, n_after, clean_text): documents with the
    given token ranges removed.

    The spans side is the duplicated MINORITY by construction, so it
    collapses to one small (doc_id, spans-array) row per flagged doc
    and broadcasts; the corpus side never shuffles. Excision operates
    on the canonical token stream (lowercased, whitespace-split — the
    same tokenization the spans were computed over), so clean_text is
    the detokenized stream: at 100 TB you excise the token stream you
    train on, not the raw bytes. Only flagged docs are returned —
    union the untouched remainder by anti-join if a full corpus
    rewrite is wanted.

    Keeper policy is the CALLER's: pass only the spans of the
    occurrences to remove (e.g. filter to non-keeper doc_ids) — the
    operator removes exactly what it is given.
    """
    sp = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("sps")
    )
    toks = H.tokens_lower("text", S)
    staged = docs.join(F.broadcast(sp), "doc_id").selectExpr(
        "doc_id", f"{toks} AS toks", "sps"
    )
    keep = (
        "filter(toks, (t, i) -> size(filter(sps, "
        "x -> i + 1 >= x.span_start AND i + 1 <= x.span_end)) = 0)"
    )
    # stage the filtered array ONCE — two uses of the same HOF subexpr
    # would re-evaluate it per projection (the Catalyst lambda-inlining
    # trap the r2 webtext_filter fix documents)
    return staged.selectExpr(
        "doc_id", "size(toks) AS n_before", f"{keep} AS kept"
    ).selectExpr(
        "doc_id",
        "n_before",
        "size(kept) AS n_after",
        "array_join(kept, ' ') AS clean_text",
    )


def excise_oracle_sql(d: str, corpus: str, spans_sql: str) -> str:
    """DuckDB rendering of excise_spans over `corpus` and the spans
    produced by `spans_sql` (1-based inclusive token ranges)."""
    toks = H.tokens_lower("text", d)
    return f"""
WITH spans AS ({spans_sql}),
sp AS (SELECT doc_id,
              list(struct_pack(span_start := span_start, span_end := span_end)) AS sps
       FROM spans GROUP BY doc_id),
staged AS (
  SELECT d.doc_id, {toks} AS toks, sp.sps AS sps
  FROM {corpus} d JOIN sp ON sp.doc_id = d.doc_id
)
SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_before,
       CAST(len(list_filter(toks, (t, i) -> len(list_filter(sps,
         x -> i >= x.span_start AND i <= x.span_end)) = 0)) AS BIGINT) AS n_after,
       list_aggregate(list_filter(toks, (t, i) -> len(list_filter(sps,
         x -> i >= x.span_start AND i <= x.span_end)) = 0),
         'string_agg', ' ') AS clean_text
FROM staged
""".strip()
