"""Gate-query registry: every operator as (Spark callable, DuckDB oracle).

Each entry exercises one row of the SURVEY.md §2 operator inventory.
The Spark side is the engine's own DataFrame-API operators; the
oracle side is independent ANSI SQL rendered for DuckDB from the same
spec constants. Column names and rounding are aligned on both sides
because the driver's compare hashes values after sorting columns by
name (__spark_entry__ contract).

`queries()` lists the gates in a fixed order (`_FRONT`, then
registration order) and reads no files to decide it. Gates that need
files on disk (stream sources, checkpoints, sinks, shards) put them
under one per-process scratch root that is removed at exit.
"""

from __future__ import annotations

import atexit
import functools
import itertools
import os
import tempfile
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import sqldialect as sd
from ..operators import fts, quality, reweight, scrub, topk
from ..sources import pages as pages_mod
from ..sources.tables import load_table, table_path
from ..spec import quality_rules as qr

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


@functools.cache
def _scratch_root() -> str:
    root = tempfile.TemporaryDirectory(
        prefix="gate_scratch_", ignore_cleanup_errors=True
    )
    atexit.register(root.cleanup)
    return root.name


_SCRATCH_SEQ = itertools.count()


def _scratch_dir() -> str:
    """A fresh empty dir under this process's one gate scratch root.
    The root is made on first use and removed at exit, never when a
    gate returns: gates hand back lazy DataFrames that still read from
    it (read_output, stream sources, Arrow/WARC shards)."""
    path = os.path.join(_scratch_root(), str(next(_SCRATCH_SEQ)))
    os.mkdir(path)
    return path


def _staged(df: DataFrame) -> str:
    """Write `df` as parquet into a fresh scratch dir — the file source
    a gate's readStream drains; returns its path."""
    path = os.path.join(_scratch_dir(), "src")
    df.write.parquet(path)
    return path


# Fixed gate order. The sf0.01 correctness check samples only the
# FIRST 50 registry entries, so the gates it has never validated lead,
# in this committed order; every other gate follows in registration
# order. `hll_distinct_stream` leads and its batch twin
# `hll_distinct_events` comes right behind it, so a failure of the
# stream form bisects week rendering against estimate arithmetic.
_FRONT = (
    "hll_distinct_stream", "hll_distinct_events",
    "topk_sparse_features", "dedup_ngram_jaccard",
    "hist_quantiles_sketch", "decontaminate_corpus",
    "boilerplate_screen", "train_test_split",
    "mixture_sample_by_source", "blocklist_filter", "url_dedup_latest",
    "adaptive_quality_cutoff", "crawl_diff", "incremental_rescore",
    "merge_rescored_snapshot", "dedup_apply_keepers",
    "auto_blocklist_proposal", "host_reputation", "token_drift",
    "semantic_decontaminate", "quota_sample_per_lang",
    "corpus_diversity", "url_template_mining", "dedup_quality_keeper",
    "mixture_upsample", "score_percentile_by_lang",
    "lang_confusion_matrix", "zorder_values", "script_mismatch_report",
    "quality_transition", "robots_rules_filter", "crawl_budget_enforce",
    "edu_keep_by_source", "scrub_stats", "ncm_assign",
    "edu_importance_sample", "ncm_outliers", "ncm_confusion",
    "session_window_agg", "redirect_chains", "quality_unpivot",
    "summary_grouping_sets", "bpe_learn_merges", "bpe_vocab",
    "bpe_tokenize_stats", "lang_temperature_sample",
)


def _ordered(d: dict) -> dict:
    front = [n for n in _FRONT if n in d]
    return {n: d[n] for n in (*front, *(n for n in d if n not in _FRONT))}


def _tz_pinned(fn: QueryFn) -> QueryFn:
    """Pin the CALLER's session timezone to UTC before dispatching a
    gate (and leave it pinned — the returned DataFrame is lazy, so the
    conf must still be UTC when the driver collects it later).

    Why: the fixtures' TIMESTAMP_NTZ columns are UTC wall-clock by
    construction and every DuckDB oracle is tz-free, but the session
    the DRIVER passes in inherits the host timezone. Any NTZ→LTZ cast
    or date/window rendering then shifts by the host offset — the
    exact r4 `hll_distinct_stream` hash-FAIL (7-day epoch-aligned
    window + date cast under a non-UTC session moves week starts by
    one day). `spark.sql.session.timeZone` is a runtime conf, so
    pinning at dispatch covers analysis, execution AND collect-side
    rendering for every gate regardless of the driver's environment.
    """

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return fn(spark, sf_dir)

    return wrapped


def queries() -> dict[str, QueryFn]:
    return {n: _tz_pinned(fn) for n, fn in _ordered(_QUERIES).items()}


def oracles() -> dict[str, str]:
    return _ordered(_ORACLES)


D = sd.DUCKDB


# ---------------------------------------------------------------------------
# Quality-filter stage (north rule; generalizes reference filter.py:50)
# ---------------------------------------------------------------------------


@register("quality_signals", quality.signals_sql(D))
def q_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc heuristic signals (P1/P2/P10 family, SURVEY §2.2)."""
    docs = load_table(spark, sf_dir, "documents")
    s = quality.with_signals(docs)
    return s.select(
        "doc_id",
        "n_words",
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("digit_ratio", 6).alias("digit_ratio"),
        F.round("distinct_ratio", 6).alias("distinct_ratio"),
    )


@register("quality_keep", quality.keep_sql(D))
def q_quality_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """keep/drop + reason (unconditioned stopword rule variant)."""
    docs = load_table(spark, sf_dir, "documents")
    return quality.with_keep(quality.with_signals(docs)).select(
        "doc_id", "keep", "drop_reason"
    )


@register("quality_classifier", quality.classifier_sql(D))
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring (FineWeb-Edu/DCLM classifier
    stand-in): deterministic logistic regression over the heuristic
    signals; keep thresholds the rational logit at 0 so no
    transcendental sits on the decision path."""
    docs = load_table(spark, sf_dir, "documents")
    return quality.with_classifier(docs).select(
        "doc_id",
        F.round("clf_score", 6).alias("clf_score"),
        "clf_keep",
    )


@register(
    "filter_short_docs",
    f"SELECT doc_id, n_words FROM ({quality.signals_sql(D, round_out=False)}) WHERE n_words > 50",
)
def q_filter_short_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 — the reference's namesake predicate (filter.py:50),
    chunk_token_count > 50 generalized to document word count."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        quality.with_signals(docs)
        .filter(F.col("n_words") > 50)
        .select("doc_id", "n_words")
    )


# ---------------------------------------------------------------------------
# Aggregations (A1/A2/A3, reference summary.py:49-84)
# ---------------------------------------------------------------------------

_SUMMARY_ORACLE = f"""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(CASE WHEN n_words < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_under2,
       CAST(sum(CASE WHEN n_words < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_under10,
       CAST(sum(CASE WHEN n_words < 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_under50
FROM (SELECT source, n_chars, {sd.n_words_sql('text', D)} AS n_words FROM documents)
GROUP BY source
"""


@register("summary_by_source", _SUMMARY_ORACLE)
def q_summary_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 per-group summary + P2 threshold counts (summary.py:49-56).
    Catalyst runs it as partial+final agg — the reference's manual
    per-file dict + driver rollup (summary.py:69-84) in one plan."""
    docs = load_table(spark, sf_dir, "documents")
    s = quality.with_signals(docs)
    return s.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(F.when(F.col("n_words") < 2, 1).otherwise(0)).alias("n_under2"),
        F.sum(F.when(F.col("n_words") < 10, 1).otherwise(0)).alias("n_under10"),
        F.sum(F.when(F.col("n_words") < 50, 1).otherwise(0)).alias("n_under50"),
    )


@register("lang_counts", "SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang")
def q_lang_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 value_counts (top10reduce.py:79)."""
    return (
        load_table(spark, sf_dir, "documents").groupBy("lang").agg(F.count("*").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Top-K per feature (O2/O3/O4 — top10map.py + top10reduce.py as one query)
# ---------------------------------------------------------------------------

_TOPK_ORACLE = """
WITH e AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS feature,
         unnest(embedding) AS activation
  FROM embeddings
), r AS (
  SELECT feature, vec_id, CAST(activation AS DOUBLE) AS activation,
         row_number() OVER (PARTITION BY feature ORDER BY activation DESC, vec_id ASC) AS rank
  FROM e
)
SELECT feature, vec_id, round(activation, 6) AS activation, rank
FROM r WHERE rank <= 10
"""


@register("topk_per_feature", _TOPK_ORACLE)
def q_topk_per_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    t = topk.topk_per_feature(emb, k=10)
    return t.select(
        "feature", "vec_id", F.round("activation", 6).alias("activation"), "rank"
    )


# ---------------------------------------------------------------------------
# Joins (J1 — embedding↔doc equi-join; lancer.py:102-135)
# ---------------------------------------------------------------------------

_JOIN_ORACLE = """
SELECT d.doc_id, d.source, e.label,
       round(sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS emb_norm
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
"""


@register("docs_embeddings_join", _JOIN_ORACLE)
def q_docs_embeddings_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: the reference's positional npy↔parquet alignment
    (embed-tei.py:326-329; lancer.py:102-135) as an explicit equi-join;
    plus the array-fold L2 norm (§2.8 scalar surface)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    joined = docs.join(emb, docs.doc_id == emb.vec_id, "inner")
    norm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda s, x: s + x,
        )
    )
    return joined.select(
        "doc_id", "source", "label", F.round(norm, 6).alias("emb_norm")
    )


# ---------------------------------------------------------------------------
# Sorts / limits (O5 — sort desc + head; small_sample.ipynb)
# ---------------------------------------------------------------------------


@register(
    "top100_longest",
    "SELECT doc_id, n_chars FROM documents ORDER BY n_chars DESC, doc_id ASC LIMIT 100",
)
def q_top100_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5: TakeOrderedAndProject physical top-k, not a full sort."""
    return (
        load_table(spark, sf_dir, "documents")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(100)
        .select("doc_id", "n_chars")
    )


# ---------------------------------------------------------------------------
# Point / list / range predicates (P3/P4/P5)
# ---------------------------------------------------------------------------


@register("point_lookup", "SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id = 42")
def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") == 42)
        .select("doc_id", "lang", "source", "n_chars")
    )


@register(
    "in_list_filter",
    "SELECT doc_id, lang FROM documents WHERE doc_id IN (1,2,3,5,8,13,21,34)",
)
def q_in_list_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isin([1, 2, 3, 5, 8, 13, 21, 34]))
        .select("doc_id", "lang")
    )


@register(
    "range_filter",
    "SELECT doc_id, n_chars FROM documents WHERE n_chars > 300",
)
def q_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 300)
        .select("doc_id", "n_chars")
    )


# ---------------------------------------------------------------------------
# Scrub stage (north rule) over the derived pages text
# ---------------------------------------------------------------------------

_SCRUB_ORACLE = (
    f"SELECT doc_id, {scrub.scrub_sql(f'({pages_mod.TEXT_SQL})', D)} AS scrubbed_text "
    "FROM documents"
)


@register("scrub_text", _SCRUB_ORACLE)
def q_scrub_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII + toxicity scrub chain on the pages text (byte-identical
    contract per url; BASELINE.json input_hint)."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=False)
    return scrub.with_scrubbed(p).select("doc_id", "scrubbed_text")


# ---------------------------------------------------------------------------
# Events: windowed agg + sessionization (streaming-shaped batch queries)
# ---------------------------------------------------------------------------

_EVENTS_WINDOW_ORACLE = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n_events, round(sum(value), 6) AS sum_value
FROM events GROUP BY 1, 2
"""


@register("events_hourly", _EVENTS_WINDOW_ORACLE)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


_SESSION_ORACLE = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM g
)
SELECT user_id, session_id, count(*) AS n_events, min(ts) AS session_start
FROM s GROUP BY user_id, session_id
"""


@register("sessionize", _SESSION_ORACLE)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag + gap cumsum (30-min gap)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = ev.withColumn(
        "is_new",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
                > 1800
            ),
            1,
        ).otherwise(0),
    )
    s = g.withColumn("session_id", F.sum("is_new").over(cum))
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"), F.min("ts").alias("session_start")
    )


# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy) — training-data toolbox
# ---------------------------------------------------------------------------

_DEDUP_ORACLE = """
SELECT md5(text) AS text_hash, min(doc_id) AS keeper_doc_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


@register("dedup_exact", _DEDUP_ORACLE)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 hash-groupBy, min-id representative."""
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Chunker UDTF (U1) — gate-checked via the closed-form chunk count
# ---------------------------------------------------------------------------

_CHUNK_ORACLE = f"""
SELECT doc_id,
       CASE WHEN n_words <= 500 THEN 1
            ELSE CAST(floor((n_words - 50.0) / 450.0) AS INT) + 1 END AS n_chunks
FROM (SELECT doc_id, {sd.n_words_sql("repeat(text || ' ', 20)", D)} AS n_words FROM documents)
"""


@register("chunk_counts", _CHUNK_ORACLE)
def q_chunk_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 flagship UDTF: run the real mapInPandas chunker on ×20
    repeated text (so windows actually split) and count chunks per doc;
    the oracle is the closed-form window count implied by
    chunker.py:77-95 semantics incl. the ≥OVERLAP tail rule."""
    from ..operators.chunker import chunk_documents

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.repeat(F.concat("text", F.lit(" ")), 20).alias("text")
    )
    chunks = chunk_documents(docs, id_col="doc_id", keep_cols=())
    return chunks.groupBy("doc_id").agg(F.count("*").alias("n_chunks"))


# ---------------------------------------------------------------------------
# Dedup family: MinHash signatures, LSH candidate pairs, SimHash
# (training-data toolbox; spec/hashing.py shared with the oracles)
# ---------------------------------------------------------------------------

from ..operators import binpack, dedup, multimodal, similarity, textstats  # noqa: E402
from ..spec import hashing as H  # noqa: E402
from ..spec import tokenizer as tokspec  # noqa: E402

# DuckDB CTE chain re-deriving the chunker's window spans
# (chunker.py:77-95 semantics incl. the >=OVERLAP tail rule) over
# documents text repeated `repeat_n`× — shared by the int-ID and
# chunk→embed oracles.
def _chunk_spans_ctes(repeat_n: int) -> str:
    return f"""t AS (
  SELECT doc_id,
         list_filter({sd.ws_tokens(f"repeat(coalesce(text, '') || ' ', {repeat_n})", D)}, t -> t <> '') AS toks
  FROM documents
),
nn AS (SELECT doc_id, toks, len(toks) AS n FROM t),
sel AS (
  SELECT doc_id, toks, n,
         unnest(generate_series(0, CAST(n AS BIGINT) - 1, {tokspec.STRIDE})) AS s
  FROM nn WHERE n > {tokspec.MAX_TOKENS}
),
spans AS (
  SELECT doc_id, toks,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1 AS INT) AS chunk_index,
         s, least(s + {tokspec.MAX_TOKENS}, n) AS e
  FROM sel WHERE least(s + {tokspec.MAX_TOKENS}, n) - s >= {tokspec.OVERLAP}
  UNION ALL
  SELECT doc_id, toks, 0, 0, n FROM nn WHERE n <= {tokspec.MAX_TOKENS}
)"""


# Int-ID chunker mode: the oracle re-derives the hermetic md5-vocab ids
# AND the window spans relationally, then compares per-chunk id sums.
_TOKEN_IDS_ORACLE = f"""
WITH {_chunk_spans_ctes(20)}
SELECT doc_id, chunk_index,
       CAST(e - s AS INT) AS chunk_token_count,
       CAST(coalesce(list_sum(list_transform(
           toks[CAST(s + 1 AS BIGINT):CAST(e AS BIGINT)],
           t -> ({H.md5_i64("t", sd.DUCKDB)}) % {tokspec.VOCAB_SIZE})), 0) AS BIGINT) AS ids_sum
FROM spans
"""


_CHUNK_UDTF_ORACLE = f"""
WITH {_chunk_spans_ctes(20)}
SELECT doc_id, chunk_index, CAST(e - s AS INT) AS chunk_token_count
FROM spans
"""


@register("chunk_udtf_lateral", _CHUNK_UDTF_ORACLE)
def q_chunk_udtf_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 via the Spark-4 Python UDTF surface: `udtf(...)` registered
    and consumed through a SQL LATERAL join — the table-function shape
    the reference's chunker actually is. Same spec window semantics as
    the mapInPandas path; oracle re-derives every (chunk_index,
    chunk_token_count) relationally."""
    from ..operators.chunker import register_chunk_udtf

    register_chunk_udtf(spark, name="chunk_windows")
    load_table(spark, sf_dir, "documents").select(
        "doc_id", F.repeat(F.concat("text", F.lit(" ")), 20).alias("text")
    ).createOrReplaceTempView("docs_rep_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_index, c.chunk_token_count
        FROM docs_rep_udtf d, LATERAL chunk_windows(d.text) c
        """
    )


_CHUNK_FILTER_ORACLE = f"""
WITH {_chunk_spans_ctes(20)}
SELECT doc_id, chunk_index, CAST(e - s AS INT) AS chunk_token_count
FROM spans WHERE e - s > 50
"""


@register("chunk_filter_short", _CHUNK_FILTER_ORACLE)
def q_chunk_filter_short(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's namesake predicate at its LITERAL granularity
    (filter.py:50: chunk_token_count > 50 over chunk rows — the
    doc-level generalization lives in filter_short_docs). Real
    mapInPandas chunker, then a codegen filter over its output; the
    oracle re-derives the window spans relationally and applies the
    same threshold."""
    from ..operators.chunker import chunk_documents

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.repeat(F.concat("text", F.lit(" ")), 20).alias("text")
    )
    chunks = chunk_documents(docs, id_col="doc_id", keep_cols=())
    return chunks.where(F.col("chunk_token_count") > 50).select(
        "doc_id", "chunk_index", "chunk_token_count"
    )


@register("chunk_token_ids", _TOKEN_IDS_ORACLE)
def q_chunk_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/U2 int-ID mode: the chunker emitting chunk_token_ids
    (array<long> — the reference's input-id schema, chunker.py:90)
    under the hermetic md5-vocab tokenizer; gate compares per-chunk
    id sums against the relational re-derivation."""
    from ..operators.chunker import chunk_documents

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.repeat(F.concat("text", F.lit(" ")), 20).alias("text")
    )
    chunks = chunk_documents(docs, id_col="doc_id", emit_ids=True)
    return chunks.select(
        "doc_id",
        "chunk_index",
        "chunk_token_count",
        F.expr(
            "aggregate(chunk_token_ids, CAST(0 AS BIGINT), (a, x) -> a + x)"
        ).alias("ids_sum"),
    )


@register("minhash_signatures", H.minhash_signatures_select(D))
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash signature — one scan, zero shuffle (array folds
    over the row's own shingles)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_signatures(docs)


@register("dedup_minhash_lsh", dedup.lsh_pairs_oracle_sql(D))
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH candidate pairs + exact-Jaccard verify over a corpus
    with constructed near-dups (documents ∪ tail-mutated copies)."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    corpus = spark.sql(dedup.corpus_with_near_dups_sql(sd.SPARK))
    return dedup.lsh_pairs(corpus)


from ..operators import asof as asof_op  # noqa: E402
from ..operators import gopher, urldedup  # noqa: E402

_ASOF_ORACLE = """
WITH rates AS (
  SELECT event_type, date_trunc('hour', ts) AS rate_ts,
         round(avg(value), 6) AS rate
  FROM events GROUP BY 1, 2
)
SELECT e.event_id, e.event_type, r.rate
FROM events e ASOF LEFT JOIN rates r
  ON e.event_type = r.event_type AND e.ts >= r.rate_ts
"""


@register("events_asof_rates", _ASOF_ORACLE)
def q_events_asof_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operator Spark lacks): each event picks the LATEST
    hourly rate at-or-before its timestamp per event_type, via the
    tagged-union + window-fill plan (ONE shuffle on the key, no
    range-explode). The oracle is DuckDB's NATIVE ASOF JOIN — an
    independent implementation of the semantics, including the
    <=-tie (an event exactly on the hour takes that hour's rate)."""
    ev = load_table(spark, sf_dir, "events")
    rates = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("rate_ts")
    ).agg(F.round(F.avg("value"), 6).alias("rate"))
    joined = asof_op.asof_join(
        ev.select("event_id", "event_type", "ts"),
        rates,
        key="event_type",
        facts_ts="ts",
        dim_ts="rate_ts",
        value_cols=("rate",),
    )
    return joined.select("event_id", "event_type", "rate")


@register(
    "url_dedup",
    urldedup.url_dedup_oracle_sql(
        D, pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)
    ),
)
def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup (FineWeb's first pass): normalize scheme/www/
    query/trailing-slash spellings, one keeper per normalized URL —
    codegen per row + one hash-groupBy, over a corpus with planted
    re-spelled copies."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=False)
    p.createOrReplaceTempView("pages_urls")
    corpus = spark.sql(
        urldedup.corpus_with_url_variants_sql(sd.SPARK, pages="pages_urls")
    )
    return urldedup.url_dedup(corpus)

_GOPHER_RATIOS = [
    "alpha_word_ratio", "bullet_line_ratio", "ellipsis_line_ratio",
    "dup_line_ratio", "top_bigram_frac", "symbol_word_ratio",
    "punct_line_ratio", "boilerplate_line_ratio",
]


@register("gopher_signals", gopher.signals_sql(D))
def q_gopher_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/FineWeb repetition & structure signals (the second half
    of the web-text filtering battery): line-structure ratios +
    top-bigram repetition — all row-local array folds, zero shuffle,
    pure codegen (spec/gopher_rules.py)."""
    docs = load_table(spark, sf_dir, "documents")
    s = gopher.with_gopher_signals(docs)
    return s.select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        *[F.round(c, 6).alias(c) for c in _GOPHER_RATIOS],
    )


@register("gopher_keep", gopher.keep_sql(D))
def q_gopher_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-failing-rule keep/drop over the gopher signal battery."""
    docs = load_table(spark, sf_dir, "documents")
    k = gopher.with_gopher_keep(gopher.with_gopher_signals(docs))
    return k.select("doc_id", "keep", "drop_reason")


# ---------------------------------------------------------------------------
# Sampling, window rank family, semi join — relational breadth
# ---------------------------------------------------------------------------

_STRATIFIED_ORACLE = f"""
SELECT doc_id, lang
FROM documents
WHERE ({H.md5_i64("'samp:' || CAST(doc_id AS VARCHAR)", "duckdb")}) % 100
      < CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 10 ELSE 25 END
"""


@register("stratified_sample", _STRATIFIED_ORACLE)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (df.sampleBy's semantics with
    a reproducible md5 coin instead of a seeded RNG — the form that
    stays stable across engines, retries, and cluster sizes): 50% of
    en, 10% of zh, 25% of everything else."""
    docs = load_table(spark, sf_dir, "documents")
    key = "'samp:' || CAST(doc_id AS STRING)"
    coin = F.expr(f"({H.md5_i64(key, sd.SPARK)}) % 100")
    rate = (
        F.when(F.col("lang") == "en", 50)
        .when(F.col("lang") == "zh", 10)
        .otherwise(25)
    )
    return docs.where(coin < rate).select("doc_id", "lang")


_RANK_FAMILY_ORACLE = """
SELECT doc_id, source,
       rank() OVER w AS rnk,
       dense_rank() OVER w AS drnk,
       ntile(4) OVER w AS quartile,
       round(cume_dist() OVER w, 6) AS cdist,
       lead(doc_id, 1, -1) OVER w AS next_doc
FROM documents
WINDOW w AS (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC)
"""


@register("rank_family", _RANK_FAMILY_ORACLE)
def q_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full window rank family in one pass (one shuffle, one sort):
    rank, dense_rank, ntile, cume_dist, lead with default."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return docs.select(
        "doc_id",
        "source",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.lead("doc_id", 1, -1).over(w).alias("next_doc"),
    )


_FULL_OUTER_ORACLE = """
SELECT coalesce(d.doc_id, e.vec_id + 1000000) AS key_id,
       coalesce(d.doc_id, -1) AS doc_id, coalesce(e.vec_id, -1) AS vec_id,
       CASE WHEN d.doc_id IS NULL THEN 'emb_only'
            WHEN e.vec_id IS NULL THEN 'doc_only'
            ELSE 'both' END AS side
FROM (SELECT doc_id FROM documents WHERE doc_id % 3 <> 0) d
FULL OUTER JOIN (SELECT vec_id FROM embeddings WHERE vec_id % 5 <> 0) e
  ON d.doc_id = e.vec_id
"""


@register("docs_embeddings_full_outer", _FULL_OUTER_ORACLE)
def q_docs_embeddings_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join (the last join family): mismatched filters on
    both sides so all three row classes (both/doc_only/emb_only)
    appear; coalesced surrogate key keeps the output hashable."""
    d = (
        load_table(spark, sf_dir, "documents")
        .where("doc_id % 3 <> 0")
        .select("doc_id")
    )
    e = (
        load_table(spark, sf_dir, "embeddings")
        .where("vec_id % 5 <> 0")
        .select("vec_id")
    )
    j = d.join(e, d.doc_id == e.vec_id, "full_outer")
    return j.select(
        F.coalesce(F.col("doc_id"), F.col("vec_id") + 1000000).alias("key_id"),
        # -1 sentinels: nullable int columns degrade to float64 through
        # the gate's pandas fetch (the HUGEINT lesson, nullable flavor)
        F.coalesce(F.col("doc_id"), F.lit(-1)).alias("doc_id"),
        F.coalesce(F.col("vec_id"), F.lit(-1)).alias("vec_id"),
        F.when(F.col("doc_id").isNull(), "emb_only")
        .when(F.col("vec_id").isNull(), "doc_only")
        .otherwise("both")
        .alias("side"),
    )


_SEMI_ORACLE = """
SELECT d.doc_id, d.lang
FROM documents d
WHERE EXISTS (
  SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id AND e.vec_id % 7 <> 0
)
"""


@register("docs_with_embeddings_semi", _SEMI_ORACLE)
def q_docs_with_embeddings_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (the existence-probe complement of the anti-join
    gate) — broadcastable probe side, no row duplication."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings").where("vec_id % 7 <> 0")
    return docs.join(emb, docs.doc_id == emb.vec_id, "left_semi").select(
        "doc_id", "lang"
    )


_WEBTEXT_PIPELINE_ORACLE = f"""
WITH pages AS ({{pages}}),
q AS ({{q_keep}}),
g AS ({{g_keep}})
SELECT p.doc_id,
       (q.keep AND g.keep) AS keep,
       CASE WHEN NOT q.keep THEN q.drop_reason
            WHEN NOT g.keep THEN g.drop_reason
            ELSE NULL END AS drop_reason,
       CASE WHEN q.keep AND g.keep THEN {{scrub}} ELSE NULL END AS scrubbed_text
FROM pages p
JOIN q ON q.doc_id = p.doc_id
JOIN g ON g.doc_id = p.doc_id
"""


def _webtext_pipeline_oracle() -> str:
    from ..operators import scrub as scrub_mod

    return _WEBTEXT_PIPELINE_ORACLE.format(
        pages=pages_mod.pages_select_sql(sd.DUCKDB, with_html=False),
        q_keep=quality.keep_sql(sd.DUCKDB, table="pages", text_col="text"),
        g_keep=gopher.keep_sql(sd.DUCKDB, table="pages", text_col="text"),
        scrub=scrub_mod.scrub_sql("p.text", sd.DUCKDB),
    ).strip()


@register("webtext_filter_pipeline", _webtext_pipeline_oracle())
def q_webtext_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH filter batteries composed end-to-end as ONE plan — token
    stats (quality.py) then repetition/structure (gopher.py), first
    battery's reason wins, PII scrub applied only to kept docs — all
    codegen, zero shuffle, fully DuckDB-oracled (the ML-free core of
    the north-rule pipeline; langid/ppl ride in pipeline_scored)."""
    from ..operators import scrub as scrub_mod

    p = pages_mod.load_pages(spark, sf_dir, with_html=False)
    qk = quality.with_keep(quality.with_signals(p))
    composed = gopher.compose_keep(qk, carry=("doc_id", "text"))
    return composed.select(
        "doc_id",
        "keep",
        "drop_reason",
        F.when(F.col("keep"), scrub_mod.scrub_expr("text")).alias("scrubbed_text"),
    )


@register("dedup_clusters", dedup.resolve_clusters_oracle_sql(D))
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster resolution after LSH: connected components over the
    verified pair graph (jaccard ≥ 0.8), min-id keeper per duplicate
    cluster — the step that turns a pair list into an actual dedup
    pass. Spark side: iterative min-label propagation + pointer
    jumping; oracle: recursive-CTE reachability (same closure)."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    corpus = spark.sql(dedup.corpus_with_near_dups_sql(sd.SPARK))
    pairs = dedup.lsh_pairs(corpus).where(
        F.col("jaccard") >= dedup.DEFAULT_JACCARD
    )
    return dedup.resolve_clusters(pairs, corpus.select("doc_id"))


@register("dedup_simhash", H.simhash_select(D))
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per doc: explode + bit-majority (partial agg)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.with_simhash(docs)


@register("dedup_simhash_pairs", dedup.simhash_pairs_oracle_sql(D))
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup JOIN (pigeonhole bucketing, hamming ≤ 3 over
    48-bit hashes) on the planted near-dup corpus — the pairing
    operator the per-doc `dedup_simhash` hash feeds. The oracle is the
    full cross-join re-derivation, so the gate proves the bucketing
    introduces no false negatives (pigeonhole is exact)."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    corpus = spark.sql(dedup.corpus_with_near_dups_sql(sd.SPARK))
    return dedup.simhash_pairs(corpus)


_COLLAPSE_CORPUS = (
    "text || chr(10) || text || chr(10) || 'x' || CAST(doc_id AS {t}) "
    "|| chr(10) || 'x' || CAST(doc_id AS {t}) || chr(10) || text"
)

_COLLAPSE_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, {_COLLAPSE_CORPUS.format(t="VARCHAR")} AS t FROM documents
)
SELECT doc_id, md5({{c}}) AS collapsed_md5,
       CAST(len(string_split(t, chr(10))) AS INT) AS n_before,
       CAST(len(string_split({{c}}, chr(10))) AS INT) AS n_after
FROM corpus
""".format(c=scrub.collapse_lines_sql("t", sd.DUCKDB))


@register("collapse_repeated_lines", _COLLAPSE_ORACLE)
def q_collapse_repeated_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc consecutive duplicate-line collapse (template nav/
    footer boilerplate): every doc gets planted back-to-back duplicate
    lines (text, text, x<id>, x<id>, text → text, x<id>, text — the
    trailing repeat of a NON-adjacent line must survive). Pure array
    expression, zero shuffle; gate pins the byte-exact collapsed text
    md5 plus before/after line counts."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.selectExpr(
        "doc_id", _COLLAPSE_CORPUS.format(t="STRING") + " AS t"
    )
    out = scrub.with_collapsed_lines(corpus, "t", "c")
    return out.selectExpr(
        "doc_id",
        "md5(c) AS collapsed_md5",
        "CAST(size(split(t, '\\n')) AS INT) AS n_before",
        "CAST(size(split(c, '\\n')) AS INT) AS n_after",
    )


@register("doc_fingerprint", textstats.fingerprint_sql(D))
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial hash over md5-hashed tokens."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.with_fingerprint(docs).select("doc_id", "fingerprint")


@register("token_counts_bpe", textstats.token_counts_sql(D))
def q_token_counts_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counts (pure codegen)."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.with_token_counts(docs).select(
        "doc_id", "n_ws_tokens", "n_bpe_tokens"
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings (brute-force baseline + LSH path)
# ---------------------------------------------------------------------------


@register("cosine_topk", similarity.cosine_topk_oracle_sql(D))
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 neighbors per vector (broadcast +
    window) — the ANN correctness baseline."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, k=3)


@register("neardup_cosine_lsh", similarity.neardup_oracle_sql(D))
def q_neardup_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketing + in-bucket exact-cosine verify over a corpus
    with constructed duplicate vectors — the embedding near-dup scale
    path (no O(n²) stage)."""
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    corpus = spark.sql(similarity.corpus_with_dup_vectors_sql(sd.SPARK))
    return similarity.neardup_pairs_lsh(spark, corpus)


# ---------------------------------------------------------------------------
# J3 hydration join, array gather, JSON extraction (SURVEY §2.6/2.8)
# ---------------------------------------------------------------------------

_TOPK_HYDRATED_ORACLE = f"""
WITH t AS ({_TOPK_ORACLE})
SELECT t.feature, t.rank, t.vec_id, d.source, d.n_chars
FROM t JOIN documents d ON t.vec_id = d.doc_id
"""


@register("topk_hydrated", _TOPK_HYDRATED_ORACLE)
def q_topk_hydrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 (top10reduce.py:26-39): winners joined back to documents —
    tiny topk side broadcast by AQE."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    t = topk.topk_per_feature(emb, k=10).select(
        "feature", "rank", "vec_id", F.round("activation", 6).alias("activation")
    )
    return t.join(docs, t.vec_id == docs.doc_id).select(
        "feature", "rank", "vec_id", "source", "n_chars"
    )


@register(
    "embedding_argmax",
    """SELECT vec_id, list_position(embedding, list_max(embedding)) AS argmax_dim,
       round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_act FROM embeddings""",
)
def q_embedding_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7/§2.8 array gather: per-row argmax over the embedding array."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.expr("array_position(embedding, array_max(embedding))").cast("int").alias("argmax_dim"),
        F.round(F.expr("CAST(array_max(embedding) AS DOUBLE)"), 6).alias("max_act"),
    )


@register(
    "events_json",
    """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
       count(*) AS n, round(sum(value), 6) AS sum_value
       FROM events GROUP BY 1""",
)
def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction (get_json_object) + agg."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        (F.get_json_object("props", "$.k").cast("bigint") % 10).alias("k_mod")
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))


@register(
    "events_variant",
    """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       count(*) AS n, round(sum(value), 6) AS sum_value
       FROM events GROUP BY 1""",
)
def q_events_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through the Spark-4 VARIANT type:
    parse_json shreds once into a binary variant column, then typed
    path extraction (try_variant_get) feeds the agg — the
    open-schema path for event/metadata columns whose keys drift
    across crawls (vs from_json's fixed struct in
    events_json_struct)."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.withColumn("v", F.parse_json("props"))
    return v.groupBy(
        F.try_variant_get("v", "$.k", "bigint").alias("k")
    ).agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value")
    )


@register(
    "summary_pipe_sql",
    """SELECT source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
       FROM documents WHERE n_chars > 100
       GROUP BY source HAVING count(*) > 1""",
)
def q_summary_pipe_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark-4 SQL pipe dialect (`|>` operator chaining) compiles
    to the same Catalyst plan as the ANSI form — gate proves the
    dialect surface exists and agrees with the classic oracle."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents_pipe"
    )
    return spark.sql(
        """
        FROM documents_pipe
        |> WHERE n_chars > 100
        |> AGGREGATE COUNT(*) AS n_docs,
                     CAST(SUM(n_chars) AS BIGINT) AS total_chars
           GROUP BY source
        |> WHERE n_docs > 1
        """
    )


# ---------------------------------------------------------------------------
# Multimodal binary plumbing (metadata oracle-checked; decode stubbed
# deterministically and ALSO oracle-checked via its closed form)
# ---------------------------------------------------------------------------

_HTML_DUCK = (
    f"encode('{pages_mod.HTML_PREFIX}' || ({pages_mod.TEXT_SQL}) || '{pages_mod.HTML_SUFFIX}')"
)


@register("multimodal_meta", multimodal.binary_meta_sql(D, _HTML_DUCK))
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata: octet_length + hex magic prefix."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=True)
    return multimodal.with_binary_meta(p)


@register("multimodal_decode", multimodal.decode_stub_sql(D, _HTML_DUCK))
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode stub over the binary column (Arrow plumbing
    proven by the closed-form oracle of its deterministic fake)."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=True)
    return multimodal.decode_stub(p)


# ---------------------------------------------------------------------------
# U6 bin-packing (embed-tei.py:218-274); pack_batches' invariants at
# scale are pytest-checked (tests/test_toolbox.py)
# ---------------------------------------------------------------------------


@register(
    "binpack_deterministic",
    binpack.pack_oracle_sql(
        table="documents", count_expr="n_chars", budget=4096, num_parts=32
    ),
)
def q_binpack_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 greedy packing at ORACLE grain: ntile partition assignment
    replaces sampled range boundaries so the full packing — same
    greedy core `_greedy_locals` as the scale path — is hash-checked
    against a DuckDB recursive CTE that replays the loop state
    (batch_local, cur_max, cur_size) row by row."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").alias("token_count")
    )
    return binpack.pack_batches_deterministic(docs, budget=4096)


# ---------------------------------------------------------------------------
# Structured Streaming (AvailableNow) — watermarked windowed agg and
# stateful sessionization materialized to batch results
# ---------------------------------------------------------------------------

from ..streaming import incremental as streaming_inc  # noqa: E402
from ..streaming import sessionize as streaming_sess  # noqa: E402


def _events_file_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture staged as files and read back as a stream
    (ts cast to TIMESTAMP for watermarks)."""
    return streaming_inc.events_stream(
        spark, _staged(load_table(spark, sf_dir, "events"))
    )

_HOURLY_STREAM_ORACLE = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n_events, round(sum(value), 6) AS sum_value
FROM events GROUP BY 1, 2
"""


@register("events_hourly_stream", _HOURLY_STREAM_ORACLE)
def q_events_hourly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream → watermark → windowed agg → memory sink,
    AvailableNow. The watermark horizon (90 days) exceeds the
    fixture's 30-day event-time span, so the result equals the
    batch/DuckDB aggregation under EVERY legal micro-batch split —
    not just the single-batch one (tests force maxFilesPerTrigger=1
    to prove it)."""
    return streaming_inc.hourly_event_counts(
        spark, _staged(load_table(spark, sf_dir, "events")), _scratch_dir(),
        watermark="90 days",
    )


_ATTRIB_STREAM_ORACLE = """
SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
       date_diff('second', v.ts, p.ts) AS lag_s,
       round(p.value, 6) AS purchase_value
FROM events v JOIN events p
  ON p.user_id = v.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
"""


@register("events_attrib_stream_join", _ATTRIB_STREAM_ORACLE)
def q_events_attrib_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM interval join (view→purchase
    attribution within 30 min per user), AvailableNow to a memory
    sink. Inner matches are emitted as found — the watermark only
    bounds join state — so a single-batch run must hash-equal the
    batch interval join the DuckDB oracle runs."""
    return streaming_inc.attribution_join_stream(
        spark, _staged(load_table(spark, sf_dir, "events")), _scratch_dir()
    )


_URL_DEDUP_STREAM_ORACLE = f"""
WITH pages AS ({pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)}),
corpus AS ({urldedup.corpus_with_url_variants_sql(sd.DUCKDB)})
SELECT DISTINCT {urldedup.normalize_sql("url", sd.DUCKDB)} AS norm_url
FROM corpus
"""


@register("url_dedup_stream", _URL_DEDUP_STREAM_ORACLE)
def q_url_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming URL dedup of a re-crawl feed: readStream →
    normalize → dropDuplicates state → memory sink. Which ROW wins per
    key is micro-batch-order dependent, but the KEY SET is not — so
    the gate emits only norm_url and the oracle is a batch DISTINCT.
    (Bounded-state production form adds a watermark column; the
    watermarked variant is exercised in tests/test_streaming.py.)"""
    p = pages_mod.load_pages(spark, sf_dir, with_html=False)
    p.createOrReplaceTempView("pages_urls")
    variants = spark.sql(
        urldedup.corpus_with_url_variants_sql(sd.SPARK, pages="pages_urls")
    )
    stream = streaming_inc.file_stream(spark, _staged(variants))
    out = (
        urldedup.with_norm_url(stream)
        .select("norm_url")
        .dropDuplicates(["norm_url"])
    )
    return streaming_inc.run_to_memory(out, "append", _scratch_dir())


_KEEP_STREAM_ORACLE_TMPL = """
WITH q AS ({q_keep}),
g AS ({g_keep})
SELECT q.doc_id,
       (q.keep AND g.keep) AS keep,
       CASE WHEN NOT q.keep THEN q.drop_reason
            WHEN NOT g.keep THEN g.drop_reason
            ELSE NULL END AS drop_reason
FROM q JOIN g ON q.doc_id = g.doc_id
"""


def _keep_stream_oracle() -> str:
    from ..operators import gopher as gopher_mod

    return _KEEP_STREAM_ORACLE_TMPL.format(
        q_keep=quality.keep_sql(sd.DUCKDB, table="documents"),
        g_keep=gopher_mod.keep_sql(sd.DUCKDB, table="documents"),
    ).strip()


@register("quality_keep_stream", _keep_stream_oracle())
def q_quality_keep_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full filter battery run as a STREAM: readStream over the
    documents directory → the identical stateless codegen stages →
    memory sink (append, AvailableNow). Stateless ⇒ the streaming
    result must equal the batch/DuckDB oracle exactly — incremental
    filtering of a growing crawl shares the batch operators verbatim."""
    from ..operators import gopher as gopher_mod

    stream = streaming_inc.file_stream(
        spark, _staged(load_table(spark, sf_dir, "documents"))
    )
    qk = quality.with_keep(quality.with_signals(stream))
    out = gopher_mod.compose_keep(qk, carry=("doc_id",)).select(
        "doc_id", "keep", "drop_reason"
    )
    return streaming_inc.run_to_memory(out, "append", _scratch_dir())


# Oracle for the stateful streaming sessionizer: the batch session
# relation (identical gap rule) filtered by the EXACT emission
# semantics of availableNow + EventTimeTimeout — a session is emitted
# iff it was closed by a later event (every non-final session) OR its
# event-time timeout (last + gap, ms-truncated) fell strictly below
# the final watermark (global max event time, ms-truncated, − gap).
# All comparisons are exact BIGINT millisecond arithmetic, mirroring
# streaming/sessionize.py's `cur[1] // 1000 + GAP*1000` timeout and
# Spark's ms watermark.
_SESSION_STREAM_ORACLE = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
), sess AS (
  SELECT user_id, sid, min(ts) AS session_start, max(ts) AS session_end,
         CAST(count(*) AS INT) AS n_events
  FROM s GROUP BY user_id, sid
), marked AS (
  SELECT *, (sid = max(sid) OVER (PARTITION BY user_id)) AS is_final
  FROM sess
), wm AS (
  SELECT epoch_ms(max(ts)) - 1800000 AS wm_ms FROM events
)
SELECT user_id, session_start, session_end, n_events
FROM marked, wm
WHERE NOT is_final OR epoch_ms(session_end) + 1800000 < wm_ms
"""


@register("sessionize_stream", _SESSION_STREAM_ORACLE)
def q_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState gap-sessionization (closed sessions),
    hash-gated against the batch session relation filtered by the
    exact availableNow emission rule (see _SESSION_STREAM_ORACLE);
    batch-window equivalence also asserted in tests/test_streaming.py."""
    stream = _events_file_stream(spark, sf_dir)
    return streaming_inc.run_to_memory(
        streaming_sess.sessionize_stream(stream), "append", _scratch_dir()
    )


def _has_protobuf() -> bool:
    # transformWithStateInPandas drives its state-server protocol over
    # protobuf; without the package the driver worker crashes at import
    # (STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE). Gate the query's
    # registration so offline containers never ship a crashing gate —
    # same env-gating discipline as the Iceberg writeTo branch.
    try:
        import google.protobuf.descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _register_tws(fn):
    if _has_protobuf():
        return register("sessionize_stream_tws", _SESSION_STREAM_ORACLE)(fn)
    return fn


@_register_tws
def q_sessionize_stream_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME gap-sessionization on Spark 4's new arbitrary-stateful
    API (transformWithStateInPandas: typed ValueState + explicit
    event-time timers, RocksDB state store) — hash-gated against the
    identical emission-rule oracle as the applyInPandasWithState
    form, so the two stateful APIs are pinned to one semantics.
    Registered only when protobuf is importable (the API's transport
    dependency); offline it stays a library function with a skipping
    test (tests/test_streaming.py::test_sessionize_tws_matches_batch)."""
    stream = _events_file_stream(spark, sf_dir)
    provider_conf = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_conf, None)
    spark.conf.set(
        provider_conf,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        return streaming_inc.run_to_memory(
            streaming_sess.sessionize_stream_tws(stream),
            "append",
            _scratch_dir(),
        )
    finally:
        if prev is None:
            spark.conf.unset(provider_conf)
        else:
            spark.conf.set(provider_conf, prev)


# ---------------------------------------------------------------------------
# Embedding stage + the reference's full chunk→embed→topk DAG as ONE plan
# ---------------------------------------------------------------------------

from ..operators import embed as embed_op  # noqa: E402


from ..spec import embed_model as embspec  # noqa: E402

# The embed model hashes grams with the portable 60-bit md5 hash, so
# the oracle re-derives the WHOLE embedding relationally: exact
# integer bucket counts → norm_sq = Σc² (BIGINT) + sig = md5 of the
# ordered nonzero counts. These two fully determine the float vector
# (v_j = c_j/√norm_sq) with zero float-parity risk; emb_norm is then
# sqrt of the SAME integer in both engines (correctly-rounded IEEE op
# → bit-identical doubles).
_EMBED_ORACLE = f"""
SELECT doc_id, norm_sq, sig,
       round(sqrt(CAST(norm_sq AS DOUBLE)), 6) AS emb_norm
FROM ({embspec.signature_sql(D)})
"""


@register("embed_documents", _EMBED_ORACLE)
def q_embed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4/U5 embed stage (embed-tei.py:205-334) as an Arrow UDF column,
    hash-gated via the exact-integer signature projection; float-vector
    spec-parity asserted in tests/test_embed.py."""
    docs = load_table(spark, sf_dir, "documents")
    e = embed_op.with_embedding_sig(docs.select("doc_id", "text"))
    return e.select(
        "doc_id",
        "norm_sq",
        "sig",
        F.round(F.sqrt(F.col("norm_sq").cast("double")), 6).alias("emb_norm"),
    )


_CHUNK_EMBED_ORACLE = f"""
WITH {_chunk_spans_ctes(8)},
chunks AS (
  SELECT doc_id * 1000 + chunk_index AS vec_id,
         array_to_string(toks[CAST(s + 1 AS BIGINT):CAST(e AS BIGINT)], ' ') AS chunk_text
  FROM spans
),
counts AS ({embspec.counts_sql(D, table="chunks", text_col="chunk_text", key_cols="vec_id")}),
norms AS (SELECT vec_id, CAST(sum(c * c) AS BIGINT) AS norm_sq FROM counts GROUP BY vec_id),
feats AS (
  SELECT vec_id, norm_sq, unnest(generate_series(0, {embspec.DIM - 1})) AS feature
  FROM norms
),
dense AS (
  SELECT f.vec_id, f.norm_sq, f.feature, coalesce(c.c, 0) AS c
  FROM feats f LEFT JOIN counts c ON c.vec_id = f.vec_id AND c.j = f.feature
),
act AS (
  SELECT *, CASE WHEN norm_sq > 0
                 THEN CAST(c AS DOUBLE) / sqrt(CAST(norm_sq AS DOUBLE))
                 ELSE 0.0 END AS activation
  FROM dense
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY feature ORDER BY activation DESC, vec_id) AS INT) AS rank
  FROM act
)
SELECT feature, vec_id, c, norm_sq, round(activation, 6) AS activation, rank
FROM ranked WHERE rank <= 5
"""


@register("chunk_embed_topk", _CHUNK_EMBED_ORACLE)
def q_chunk_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole pipeline (chunk → embed → two-phase topk,
    SURVEY §3.1-3.3) as ONE Catalyst plan with ONE Python stage: three
    scripts, two Modal fan-outs and a sidecar .npy collapse into
    scan → fused mapInPandas (operators/chunk_embed.py) → posexplode →
    window. Gate floats go through exact integers: the per-dim count
    c_j is recovered from the float vector (round(v_j·√norm_sq) is
    exact for |c| ≪ 2²⁴), and activation = c/√norm_sq is then the SAME
    correctly-rounded double in Spark and DuckDB — ordering, ranks and
    rounded values hash identically."""
    from ..operators.chunk_embed import chunk_and_embed

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.repeat(F.concat("text", F.lit(" ")), 8).alias("text")
    )
    embedded = chunk_and_embed(docs).withColumn(
        "vec_id", F.col("doc_id") * 1000 + F.col("chunk_index")
    )
    ex = embedded.select(
        "vec_id", "norm_sq", F.posexplode("embedding").alias("feature", "val")
    )
    ex = ex.withColumn(
        "c",
        F.when(F.col("norm_sq") > 0,
               F.round(F.col("val").cast("double")
                       * F.sqrt(F.col("norm_sq").cast("double"))))
        .otherwise(F.lit(0)).cast("long"),
    ).withColumn(
        "activation",
        F.when(F.col("norm_sq") > 0,
               F.col("c").cast("double")
               / F.sqrt(F.col("norm_sq").cast("double")))
        .otherwise(F.lit(0.0)),
    )
    w = Window.partitionBy("feature").orderBy(F.desc("activation"), F.asc("vec_id"))
    return (
        ex.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select(
            "feature", "vec_id", "c", "norm_sq",
            F.round("activation", 6).alias("activation"), "rank",
        )
    )


# ---------------------------------------------------------------------------
# IVF ANN, salted skew join, rollup grouping sets
# ---------------------------------------------------------------------------

from ..operators import skewjoin  # noqa: E402


@register("ivf_topk", similarity.ivf_topk_oracle_sql(D))
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN: centroid assign (broadcast) + probe nearest
    cells — the index-backed scale path next to brute-force
    cosine_topk (reference S11, lancer.py:203-216)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, k=3)


@register("ivf_pq_topk", similarity.ivf_pq_oracle_sql(D))
def q_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the reference's ACTUAL index type (lancer.py:203-216):
    coarse sqrt(n) cells + per-subspace product-quantization codebooks;
    candidates ship M=16 codes instead of 64 floats through the cell
    shuffle, scored by per-query ADC lookup tables. Oracle re-derives
    coarse index, codebooks, codes, and ADC scores relationally."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_pq_topk(emb, k=3)


@register(
    "semantic_dedup",
    similarity.semantic_dedup_oracle_sql(
        D,
        table="semcorpus",
        prelude=f"semcorpus AS ({similarity.corpus_with_semdup_vectors_sql(D)}),\n",
    ),
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (arXiv:2303.09540) over the dup-augmented corpus:
    trained-IVF clusters + within-cell dominance drop at cosine>0.95,
    keeping the member farthest from its centroid. Oracle re-derives
    the trained assignment AND the dominance pass relationally."""
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    corpus = spark.sql(similarity.corpus_with_semdup_vectors_sql(sd.SPARK))
    return similarity.semantic_dedup(corpus)


_SEM_PRELUDE = "semcorpus AS (" + similarity.corpus_with_semdup_vectors_sql(D) + "),\n"
_SEM_ORACLE = similarity.semantic_dedup_oracle_sql(
    D, table="semcorpus", prelude=_SEM_PRELUDE
)

_SEM_APPLY_ORACLE = f"""
WITH semres AS (
{_SEM_ORACLE}
)
SELECT d.doc_id, md5(d.text) AS text_md5
FROM documents d JOIN semres k ON d.doc_id = k.vec_id
WHERE k.keep
""".strip()


@register("semantic_dedup_apply", _SEM_APPLY_ORACLE)
def q_semantic_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup applied end-to-end: the corpus filtered to documents
    whose vector survived the semantic pass (originals whose planted
    copy sits closer to the centroid are GONE — real row deletion,
    text md5 pins identity). Keeper relation is one BIGINT column —
    broadcast semi-join, text scanned once."""
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    docs = load_table(spark, sf_dir, "documents")
    corpus = spark.sql(similarity.corpus_with_semdup_vectors_sql(sd.SPARK))
    keepers = (
        similarity.semantic_dedup(corpus)
        .where(F.col("keep"))
        .select("vec_id")
    )
    return docs.join(
        F.broadcast(keepers), docs.doc_id == keepers.vec_id, "left_semi"
    ).select("doc_id", F.md5("text").alias("text_md5"))


@register("clf_importance_sample", quality.importance_sample_sql(D))
def q_clf_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-flavored importance resampling: deterministic md5 coin vs
    the classifier score, compared in INTEGER ppm so no float
    boundary flips a sampling decision. Zero shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return quality.with_importance_sample(docs).select(
        "doc_id", "score_ppm", "sampled"
    )


_HOST_DIM_SQL = (
    "SELECT DISTINCT CASE WHEN doc_id % 3 = 0 THEN 0 ELSE doc_id % 13 END AS host_id, "
    "'host-' || CAST(CASE WHEN doc_id % 3 = 0 THEN 0 ELSE doc_id % 13 END AS {T}) AS host_label "
    "FROM documents"
)

_SALTED_JOIN_ORACLE = f"""
WITH pages AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 0 ELSE doc_id % 13 END AS host_id FROM documents),
dim AS ({_HOST_DIM_SQL.replace('{T}', 'VARCHAR')})
SELECT p.doc_id, p.host_id, d.host_label
FROM pages p JOIN dim d ON p.host_id = d.host_id
"""


@register("salted_skew_join", _SALTED_JOIN_ORACLE)
def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit salting of a skewed join key (~1/3 of docs on host 0,
    the fixture's deliberate hot host): result must equal the plain
    join byte-for-byte."""
    docs = load_table(spark, sf_dir, "documents")
    pages = docs.selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 3 = 0 THEN 0 ELSE doc_id % 13 END AS host_id",
    )
    docs.createOrReplaceTempView("documents")
    dim = spark.sql(_HOST_DIM_SQL.replace("{T}", "STRING"))
    return skewjoin.salted_join(
        pages, dim, key="host_id", unique_col="doc_id", n_salts=8
    ).select("doc_id", "host_id", "host_label")


_CUBE_ORACLE = """
SELECT source, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY CUBE (source, lang)
"""


@register("summary_cube", _CUBE_ORACLE)
def q_summary_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS completeness: df.cube — all four (source, lang)
    marginals in one pass (same expand + partial-agg plan family as
    rollup)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.cube("source", "lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars")
    )


_ROLLUP_ORACLE = """
SELECT source, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY ROLLUP (source, lang)
"""


@register("summary_rollup", _ROLLUP_ORACLE)
def q_summary_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2's two-level manual rollup (summary.py:69-84) as ONE pass:
    GROUPING SETS ((source,lang),(source),()) via df.rollup."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.rollup("source", "lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars")
    )


# ---------------------------------------------------------------------------
# Relational depth over the TPC-H-ish fixtures: pricing summary (Q1
# shape), shipping priority (Q3 shape), local-supplier revenue (Q5
# shape). Broadcast dims, pushed-down date predicates, two-phase aggs.
# ---------------------------------------------------------------------------

_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("tpch_q1_pricing_summary", _Q1_ORACLE)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
        F.round(F.sum(disc), 4).alias("sum_disc_price"),
        F.round(F.sum(disc * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


_Q3_ORACLE = """
SELECT l.l_orderkey,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
"""


@register("tpch_q3_shipping_priority", _Q3_ORACLE)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cut = F.lit("1995-03-15").cast("timestamp_ntz")
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") < cut)
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cut)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_Q5_ORACLE = """
SELECT n.n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
"""


@register("tpch_q5_local_supplier_revenue", _Q5_ORACLE)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-way join: fact table once, all dims broadcast (see PLANS.md)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        l.join(F.broadcast(o), l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# Analytics breadth: inverted index (S10 analog), quantiles, moving
# averages, distinct counts
# ---------------------------------------------------------------------------

_FTS_TOKS = fts.tokens_sql("text", D)

_POSTINGS_ORACLE = f"""
SELECT tok, count(DISTINCT doc_id) AS df,
       array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings
FROM (SELECT doc_id, unnest({_FTS_TOKS}) AS tok
      FROM documents WHERE length(trim(text)) > 0)
GROUP BY tok HAVING count(DISTINCT doc_id) >= {fts.MIN_DF}
"""


@register("fts_postings", _POSTINGS_ORACLE)
def q_fts_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 inverted index; only common terms, compact at any scale."""
    return fts.postings(load_table(spark, sf_dir, "documents"))


_POSTINGS_SHARDED_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_FTS_TOKS}) AS tok
  FROM documents WHERE length(trim(text)) > 0
),
hot AS (
  SELECT tok FROM toks GROUP BY tok HAVING count(DISTINCT doc_id) >= {fts.MIN_DF}
)
SELECT t.tok, CAST(t.doc_id % 4 AS BIGINT) AS shard,
       count(DISTINCT t.doc_id) AS df_shard,
       array_to_string(list_sort(list(DISTINCT t.doc_id)), ',') AS postings
FROM toks t JOIN hot h ON t.tok = h.tok
GROUP BY t.tok, t.doc_id % 4
"""


@register("fts_postings_sharded", _POSTINGS_SHARDED_ORACLE)
def q_fts_postings_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-TB form of fts_postings: no hot-token reducer."""
    return fts.postings(load_table(spark, sf_dir, "documents"), shards=4)


_FTS_SEARCH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_FTS_TOKS}) AS tok
  FROM documents WHERE length(trim(text)) > 0
),
tf_tbl AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
dl_tbl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
df_tbl AS (SELECT tok, count(*) AS df FROM tf_tbl GROUP BY tok),
stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_len FROM dl_tbl),
terms AS (SELECT tok, df FROM df_tbl ORDER BY df DESC, tok LIMIT {fts.N_TERMS}),
scored AS (
  SELECT t.tok, f.doc_id, f.tf, d.dl, t.df,
         {fts.BM25_SCORE_SQL} AS score
  FROM tf_tbl f
  JOIN terms t ON f.tok = t.tok
  JOIN dl_tbl d ON f.doc_id = d.doc_id
  CROSS JOIN stats
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY tok ORDER BY score DESC, doc_id) AS INT) AS rank
  FROM scored
)
SELECT tok, doc_id, tf, dl, df, round(score, 6) AS score, rank
FROM ranked WHERE rank <= {fts.TOPK}
"""


@register("fts_search_topk", _FTS_SEARCH_ORACLE)
def q_fts_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-shaped top-10 docs for each of the 5 highest-df tokens."""
    return fts.search_topk(load_table(spark, sf_dir, "documents"))


_FTS_PHRASE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest({_FTS_TOKS}) AS tok,
         generate_subscripts({_FTS_TOKS}, 1) AS pos
  FROM documents WHERE length(trim(text)) > 0
),
big AS (
  SELECT doc_id, tok AS w1,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM toks
),
big2 AS (SELECT doc_id, w1, w2 FROM big WHERE w2 IS NOT NULL),
phrases AS (
  SELECT w1, w2, count(*) AS n_total FROM big2 GROUP BY w1, w2
  ORDER BY n_total DESC, w1, w2 LIMIT {fts.N_PHRASES}
),
m AS (
  SELECT b.w1, b.w2, b.doc_id, count(*) AS n_occ
  FROM big2 b JOIN phrases p ON b.w1 = p.w1 AND b.w2 = p.w2
  GROUP BY b.w1, b.w2, b.doc_id
),
ranked AS (
  SELECT w1, w2, doc_id, n_occ,
         row_number() OVER (PARTITION BY w1, w2
                            ORDER BY n_occ DESC, doc_id) AS rank
  FROM m
)
SELECT w1, w2, doc_id, CAST(n_occ AS BIGINT) AS n_occ,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {fts.TOPK}
"""


@register("fts_phrase_search", _FTS_PHRASE_ORACLE)
def q_fts_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 docs for each of the 3 most frequent bigrams."""
    return fts.phrase_search(load_table(spark, sf_dir, "documents"))


from ..operators import countmin as cms_op  # noqa: E402

_CMS_TOKS = (
    f"SELECT unnest({_FTS_TOKS}) AS tok "
    "FROM documents WHERE length(trim(text)) > 0"
)
_CMS_ORACLE = f"""
WITH est AS ({cms_op.estimate_oracle_sql(
    items_sql=_CMS_TOKS,
    keys_sql=f"SELECT tok FROM ({_CMS_TOKS}) GROUP BY tok ORDER BY count(*) DESC, tok LIMIT {fts.N_CMS_KEYS}",
    key_col="tok",
)}),
exact AS (SELECT tok, count(*) AS exact_cnt FROM ({_CMS_TOKS}) GROUP BY tok)
SELECT e.tok, x.exact_cnt, e.est,
       CAST(e.est - x.exact_cnt AS BIGINT) AS overestimate
FROM est e JOIN exact x ON x.tok = e.tok
"""


@register("cms_token_freq", _CMS_ORACLE)
def q_cms_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min estimates beside exact counts; the hash pins both."""
    return fts.token_freq_cms(load_table(spark, sf_dir, "documents"))


# Hypertable-style two-level rollup: the daily aggregate is computed
# FROM the hourly relation (count-sum re-aggregation), not from raw
# events — the continuous-aggregate reuse pattern that turns a
# 100-TB daily report into a scan of the (tiny) hourly rollup. The
# oracle aggregates raw directly: the re-aggregation must be exactly
# equivalent (counts are integers; double sums agree to round-6).
_ROLLUP_2LEVEL_ORACLE = """
SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value,
       count(DISTINCT date_trunc('hour', ts)) AS n_hours_active
FROM events GROUP BY 1, 2
"""


@register("events_rollup_2level", _ROLLUP_2LEVEL_ORACLE)
def q_events_rollup_2level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily rollup derived from the hourly rollup (hypertable
    continuous-aggregate shape): counts and sums re-aggregate
    losslessly, and hours-active falls out as a count of hourly rows —
    no second scan of the raw events."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("sum_value"),
    )
    return (
        hourly.groupBy(F.to_date("hour").alias("day"), "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("sum_value"), 6).alias("sum_value"),
            F.count("*").alias("n_hours_active"),
        )
    )


# Range join (briefing's explicit custom-operator example): events
# that fall inside another user's sessions. Oracle is DuckDB's plain
# non-equi BETWEEN join — the bucketed plan must reproduce it exactly.
_RANGE_JOIN_ORACLE = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM g
), sess AS (
  SELECT user_id AS sess_user, session_id,
         min(ts) AS session_start, max(ts) AS session_end
  FROM s GROUP BY user_id, session_id
  HAVING user_id <= 4
)
SELECT sess.sess_user, sess.session_id,
       count(*) AS n_overlap_events,
       count(DISTINCT e.user_id) AS n_active_users,
       CAST(sum(CASE WHEN e.user_id = sess.sess_user THEN 1 ELSE 0 END) AS BIGINT) AS n_own_events
FROM sess JOIN events e
  ON e.ts BETWEEN sess.session_start AND sess.session_end
GROUP BY sess.sess_user, sess.session_id
"""


@register("events_in_sessions_range", _RANGE_JOIN_ORACLE)
def q_events_in_sessions_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join (operators/rangejoin.py): all events
    co-occurring with users 0-4's sessions. The oracle is the naive
    BETWEEN join; the engine discretizes to 1800-s buckets so the
    match is ONE equi-shuffle + refine instead of a nested-loop —
    each qualifying pair meets in exactly one bucket (the point's),
    so no dedup pass either."""
    from ..operators.rangejoin import bucketed_range_join

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = ev.withColumn(
        "is_new",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
                > 1800
            ),
            1,
        ).otherwise(0),
    ).withColumn("session_id", F.sum("is_new").over(cum))
    sess = (
        marked.where(F.col("user_id") <= 4)
        .groupBy(
            F.col("user_id").alias("sess_user"), "session_id"
        )
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )
    points = ev.select("ts", "event_id", "user_id")
    j = bucketed_range_join(points, sess)
    return j.groupBy("sess_user", "session_id").agg(
        F.count("*").alias("n_overlap_events"),
        F.countDistinct("user_id").alias("n_active_users"),
        F.sum(
            (F.col("user_id") == F.col("sess_user")).cast("int")
        ).cast("long").alias("n_own_events"),
    )


from ..operators import bloom as bloom_op  # noqa: E402

_BLOOM_ORACLE = bloom_op.membership_oracle_sql(
    seen_sql=f"SELECT {pages_mod.URL_SQL} AS url FROM documents WHERE doc_id % 4 <> 0",
    cand_sql=f"SELECT {pages_mod.URL_SQL} AS url FROM documents",
)


@register("bloom_url_membership", _BLOOM_ORACLE)
def q_bloom_url_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl membership: Bloom filter over the seen URL set
    (docs with doc_id % 4 != 0 play the prior crawl), probed by the
    full corpus. Build is one word-index shuffle (partial bit_or agg);
    membership broadcasts the word relation — the 10^12-seen-URLs
    dedup primitive where an anti-join would shuffle the corpus. No
    false negatives by construction (tests); false positives are
    deterministic (exact md5 arithmetic) and hash-checked by the
    oracle's bit-identical re-derivation."""
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    urls = spark.sql(
        f"SELECT doc_id, {pages_mod.URL_SQL} AS url FROM documents"
    )
    seen = urls.where(F.col("doc_id") % 4 != 0).select("url")
    cand = urls.select("url")
    filt = bloom_op.build_bloom(seen, "url")
    return bloom_op.maybe_member(cand, filt, "url")


_QUANTILES_ORACLE = """
SELECT source,
       round(quantile_cont(n_chars, 0.5), 6) AS p50,
       round(quantile_cont(n_chars, 0.9), 6) AS p90,
       round(quantile_cont(n_chars, 0.99), 6) AS p99
FROM documents GROUP BY source
"""


@register("length_quantiles", _QUANTILES_ORACLE)
def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group (Spark `percentile` == DuckDB
    quantile_cont, linear interpolation)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(n_chars, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(n_chars, 0.99)"), 6).alias("p99"),
    )


_MOVAVG_ORACLE = """
SELECT event_id, user_id,
       round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6) AS mov_avg
FROM events
"""


@register("events_moving_avg", _MOVAVG_ORACLE)
def q_events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-frame window agg (10-event moving average per user)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id", F.round(F.avg("value").over(w), 6).alias("mov_avg")
    )


_DISTINCT_DAILY_ORACLE = """
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       count(DISTINCT user_id) AS n_users,
       count(DISTINCT event_type) AS n_types,
       count(*) AS n_events
FROM events GROUP BY 1
"""


@register("distinct_users_daily", _DISTINCT_DAILY_ORACLE)
def q_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi distinct-aggregation (expand + two-phase agg in Spark)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Operational reports: keep-rate by host (skewed key), anti-join
# data-quality check (semi/anti join family, absent from the reference
# but required of a complete engine — SURVEY §2.6)
# ---------------------------------------------------------------------------

_KEEP_BY_HOST_ORACLE = f"""
WITH pages AS ({pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)}),
k AS ({quality.keep_sql(sd.DUCKDB, table="pages", text_col="text", key_cols="doc_id, url")})
SELECT regexp_extract(k.url, 'https://([^./]+)', 1) AS host,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN k.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       round(CAST(sum(CASE WHEN k.keep THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS keep_rate
FROM k GROUP BY 1
"""


@register("keep_rate_by_host", _KEEP_BY_HOST_ORACLE)
def q_keep_rate_by_host(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host keep/drop report over the skewed host distribution
    (h0 holds ~1/3 of the corpus) — the operational rollup a crawl
    operator reads daily."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=False)
    k = quality.with_keep(quality.with_signals(p))
    return (
        k.withColumn("host", F.regexp_extract("url", r"https://([^./]+)", 1))
        .groupBy("host")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep").cast("int")).alias("n_keep"),
            F.round(
                F.sum(F.col("keep").cast("int")).cast("double") / F.count("*"), 6
            ).alias("keep_rate"),
        )
    )


_ANTI_JOIN_ORACLE = """
SELECT d.doc_id, d.source
FROM documents d
WHERE NOT EXISTS (
  SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id AND e.vec_id % 7 <> 0
)
"""


@register("docs_missing_embeddings", _ANTI_JOIN_ORACLE)
def q_docs_missing_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (data-quality: which docs lack an embedding) —
    the join family the reference never needed but a complete engine
    must provide."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings").where("vec_id % 7 <> 0")
    return docs.join(
        emb, docs.doc_id == emb.vec_id, "left_anti"
    ).select("doc_id", "source")


# ---------------------------------------------------------------------------
# Pivot, set operations, and a grouped-agg pandas UDAF
# ---------------------------------------------------------------------------

_PIVOT_ORACLE = """
SELECT source,
       CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
       CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
       CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
       CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
       CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
FROM documents GROUP BY source
"""


@register("lang_pivot", _PIVOT_ORACLE)
def q_lang_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot() with explicit values (single-pass, no extra
    shuffle vs the CASE-sum form Catalyst lowers it to)."""
    docs = load_table(spark, sf_dir, "documents")
    out = (
        docs.groupBy("source")
        .pivot("lang", ["en", "fr", "de", "es", "zh"])
        .count()
    )
    # pivot yields NULL for absent cells; oracle's CASE-sum yields 0
    return out.select(
        "source",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ["en", "fr", "de", "es", "zh"]],
    )


_SETOPS_ORACLE = """
SELECT 'kept_and_embedded' AS set_name, count(*) AS n FROM (
  SELECT doc_id FROM documents WHERE doc_id % 2 = 0
  INTERSECT
  SELECT vec_id FROM embeddings WHERE vec_id % 3 = 0
)
UNION ALL
SELECT 'kept_not_embedded' AS set_name, count(*) AS n FROM (
  SELECT doc_id FROM documents WHERE doc_id % 2 = 0
  EXCEPT
  SELECT vec_id FROM embeddings WHERE vec_id % 3 = 0
)
"""


@register("doc_setops", _SETOPS_ORACLE)
def q_doc_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT (set-op family — absent from the reference,
    SURVEY §2.7, present in a complete engine)."""
    docs = load_table(spark, sf_dir, "documents").where("doc_id % 2 = 0").select(
        "doc_id"
    )
    emb = load_table(spark, sf_dir, "embeddings").where("vec_id % 3 = 0").select(
        F.col("vec_id").alias("doc_id")
    )
    inter = docs.intersect(emb).agg(F.count("*").alias("n")).select(
        F.lit("kept_and_embedded").alias("set_name"), "n"
    )
    exc = docs.exceptAll(emb).distinct().agg(F.count("*").alias("n")).select(
        F.lit("kept_not_embedded").alias("set_name"), "n"
    )
    return inter.unionByName(exc)


_GEOMEAN_ORACLE = """
SELECT source, round(exp(avg(ln(n_chars))), 6) AS geomean_chars
FROM documents WHERE n_chars > 0 GROUP BY source
"""


@register("geomean_chars_by_source", _GEOMEAN_ORACLE)
def q_geomean_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF surface: a GROUPED_AGG pandas UDF (Arrow-batched
    per group) computing the geometric mean — the engine's answer to
    'aggregations Spark lacks built-in'."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    # NB: with `from __future__ import annotations` the hint strings
    # resolve via module globals — pd/np are imported at module level
    @pandas_udf(DoubleType())
    def geomean(v: pd.Series) -> float:
        return float(np.exp(np.log(v.astype("float64")).mean()))

    docs = load_table(spark, sf_dir, "documents").where("n_chars > 0")
    return docs.groupBy("source").agg(
        F.round(geomean("n_chars"), 6).alias("geomean_chars")
    )


_JSON_STRUCT_ORACLE = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
FROM events WHERE CAST(json_extract_string(props, '$.k') AS INT) > 90
"""


@register("events_json_struct", _JSON_STRUCT_ORACLE)
def q_events_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json into a typed struct column + field predicate —
    the struct-type surface (the reference's nested `meta` column,
    chunker.py:31, never materialized)."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn("p", F.from_json("props", "k INT"))
    return parsed.where(F.col("p.k") > 90).select(
        "event_id", F.col("p.k").alias("k")
    )


# ---------------------------------------------------------------------------
# HTML extraction (input_hint byte-identical invariant, first-class)
# ---------------------------------------------------------------------------

_EXTRACT_ORACLE = f"""
WITH pages AS ({pages_mod.pages_select_sql(sd.DUCKDB, with_html=True)})
SELECT url,
       regexp_replace(decode(html), '{pages_mod.EXTRACT_TAG_RE}', '', 'g') AS extracted_text,
       regexp_replace(decode(html), '{pages_mod.EXTRACT_TAG_RE}', '', 'g') = text AS ok
FROM pages
"""


@register("extract_text", _EXTRACT_ORACLE)
def q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decode(html) → strip tags → byte-compare against the stored
    text column: every row must be ok=true (input_hint contract)."""
    from ..operators import extract

    p = pages_mod.load_pages(spark, sf_dir, with_html=True)
    ex = extract.with_extracted_text(p)
    return ex.select(
        "url",
        "extracted_text",
        (F.col("extracted_text") == F.col("text")).alias("ok"),
    )


@register("multimodal_features", multimodal.feature_stub_sql(D, _HTML_DUCK))
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extract stub — the fourth of the decode/resize/frames/
    feature quartet: per-payload deterministic 8-dim vector projected
    to hashable scalars (md5 + sum), closed-form oracle."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=True)
    return multimodal.feature_stub(p)


@register("multimodal_resize", multimodal.resize_stub_sql(D, _HTML_DUCK))
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stub chained after the decode stub (two mapInPandas
    stages over typed metadata) — closed-form oracle."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=True)
    return multimodal.resize_stub(multimodal.decode_stub(p))


@register("multimodal_frames", multimodal.frame_sample_sql(D, _HTML_DUCK))
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1→N frame sampling over the opaque binary payload (flat-map
    shape of video decode) — closed-form oracle."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=True)
    return multimodal.frame_sample_stub(p)


# ---------------------------------------------------------------------------
# Sparse (top_indices, top_acts) top-k — the reference's exact SAE
# feature shape (features.py:150-152 → top10map/top10reduce)
# ---------------------------------------------------------------------------

_SPARSE_TOPK_ORACLE = """
WITH per_vec AS (
  SELECT vec_id, feature, activation,
         row_number() OVER (PARTITION BY vec_id ORDER BY activation DESC, feature ASC) AS vr
  FROM (
    SELECT vec_id,
           generate_subscripts(embedding, 1) - 1 AS feature,
           CAST(unnest(embedding) AS DOUBLE) AS activation
    FROM embeddings
  )
), sparse AS (SELECT vec_id, feature, activation FROM per_vec WHERE vr <= 8),
ranked AS (
  SELECT feature, vec_id, activation,
         row_number() OVER (PARTITION BY feature ORDER BY activation DESC, vec_id ASC) AS rank
  FROM sparse
)
SELECT feature, vec_id, round(activation, 6) AS activation, rank
FROM ranked WHERE rank <= 5
"""


@register("topk_sparse_features", _SPARSE_TOPK_ORACLE)
def q_topk_sparse_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the reference's sparse (top_indices, top_acts) arrays per
    row (features.py:138-152, top-8 here) then run the sparse top-k
    operator (arrays_zip + posexplode + window) — the exact two-script
    map/reduce of top10map/top10reduce as one plan over the exact
    sparse schema."""
    emb = load_table(spark, sf_dir, "embeddings")
    zipped = emb.select(
        "vec_id",
        F.expr(
            """
            slice(
              array_sort(
                arrays_zip(embedding, sequence(0, size(embedding) - 1)),
                (l, r) -> CASE
                    WHEN l.embedding > r.embedding THEN -1
                    WHEN l.embedding < r.embedding THEN 1
                    WHEN l.`1` < r.`1` THEN -1 ELSE 1 END
              ), 1, 8)
            """
        ).alias("top8"),
    )
    sparse = zipped.select(
        "vec_id",
        F.expr("transform(top8, x -> CAST(x.`1` AS BIGINT))").alias("top_indices"),
        F.expr("transform(top8, x -> CAST(x.embedding AS DOUBLE))").alias("top_acts"),
    )
    t = topk.topk_sparse_per_feature(
        sparse, k=5, key_cols=("vec_id",)
    )
    return t.select(
        "feature", "vec_id", F.round("activation", 6).alias("activation"), "rank"
    )


# ---------------------------------------------------------------------------
# The north-rule DAG itself and the committed write layer as gate
# queries (rows-only: langid/ppl are Python-spec scored, and the write
# path's product is its manifest)
# ---------------------------------------------------------------------------


from ..spec import langid_model as lidspec  # noqa: E402

# Full relational re-derivation of the north-rule DAG: langid label via
# the exact-integer argmax rendering (lidspec.langid_select_sql), ppl
# via the quantized-table walk (order-free-exact sums → bit-identical
# exp operands), keep via the lang-gated rule battery, scrub via the
# shared regex chain. lang_conf (float32 softmax) is the one column
# with no exact SQL form — it stays out of the gate projection and is
# spec-checked in tests/test_pipeline.py instead.
_PIPE_CTES = f"""pages AS ({pages_mod.pages_select_sql(D, with_html=False)}),
lang AS ({{LANG}}),
pl AS (SELECT p.doc_id, p.url, p.text, l.lang_pred
       FROM pages p JOIN lang l USING (doc_id)),
k AS ({{KEEP}}),
sc AS (SELECT doc_id, {scrub.scrub_sql("text", D)} AS scrubbed_text FROM pages)"""
_PIPE_CTES = _PIPE_CTES.replace(
    "{LANG}",
    lidspec.langid_select_sql(D, table="pages", text_col="text", key_cols="doc_id"),
).replace(
    "{KEEP}",
    quality.keep_sql(
        D,
        table="pl",
        text_col="text",
        key_cols="doc_id, url, lang_pred",
        stop_gate="lang_pred = 'en'",
    ),
)

_PIPELINE_SCORED_ORACLE = f"""
WITH {_PIPE_CTES},
ppl AS ({qr.ppl_select_sql(table="pages", text_col="text", key_cols="doc_id")})
SELECT k.url, k.doc_id, k.lang_pred, round(ppl.ppl, 6) AS ppl,
       k.keep, k.drop_reason, sc.scrubbed_text
FROM k JOIN ppl USING (doc_id) JOIN sc USING (doc_id)
"""


@register("pipeline_scored", _PIPELINE_SCORED_ORACLE)
def q_pipeline_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship langid→quality→ppl→keep→scrub DAG, row-level
    output (entry() exposes the rollup; this exposes the rows),
    hash-gated against the full relational re-derivation. lang_conf is
    emitted by the pipeline but not by this gate (float32 softmax has
    no exact SQL form); its spec parity is enforced in
    tests/test_pipeline.py."""
    from . import pipeline as pl

    return pl.run_pipeline(spark, sf_dir).select(
        "url", "doc_id", "lang_pred",
        F.round("ppl", 6).alias("ppl"), "keep", "drop_reason", "scrubbed_text",
    )


_WRITE_ROUNDTRIP_ORACLE = f"""
WITH {_PIPE_CTES}
SELECT strftime(date_trunc('minute', p.warc_ts), '%Y-%m-%d-%H-%M') AS ds,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN k.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       CAST(sum(length(sc.scrubbed_text)) AS BIGINT) AS out_chars
FROM pages p
JOIN k ON k.doc_id = p.doc_id
JOIN sc ON sc.doc_id = p.doc_id
GROUP BY 1
"""


def _commit_corpus(spark: SparkSession, sf_dir: str) -> tuple[str, list[dict]]:
    """Commit the scored corpus, minute partitions, into a fresh
    scratch table through resume_run; returns (table dir, the
    committed manifest rows)."""
    from .. import sinks
    from . import pipeline as pl

    out = f"{_scratch_dir()}/out"
    rows = sinks.resume_run(
        spark,
        lambda s: sinks.committed_rows(pl.run_pipeline(s, sf_dir), granularity="minute"),
        out,
    )
    return out, rows


@register("committed_write_roundtrip", _WRITE_ROUNDTRIP_ORACLE)
def q_committed_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the scored corpus through the committed partitioned sink
    (salted, manifest + lineage rows) into a temp table, then return
    the manifest — the write layer driven end-to-end inside the gate,
    its per-partition counts re-derived relationally by the oracle
    (covers S6/S9/A5: the manifest metrics ARE the one aggregate
    `sinks.commit` runs over its staged files)."""
    from .. import sinks

    out, _ = _commit_corpus(spark, sf_dir)
    return sinks.read_manifest(spark, out).select(
        "ds", "n_rows", "n_keep", "out_chars"
    )


@register("timetravel_read_asof", _WRITE_ROUNDTRIP_ORACLE)
def q_timetravel_read_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot (as-of) read through the manifest — the parquet
    analog of Iceberg TIMESTAMP AS OF, driven end-to-end: commit the
    full corpus, capture the snapshot cutoff, commit one MORE
    partition after it, then read as-of the cutoff and re-aggregate.
    The later partition must be invisible, so the result equals the
    same relational derivation the plain write gate uses."""
    from .. import sinks

    out, _ = _commit_corpus(spark, sf_dir)
    cutoff = str(
        sinks.read_manifest(spark, out)
        .agg(F.max("committed_at"))
        .first()[0]
    )
    late = spark.createDataFrame(
        [("http://late.example/p", "2099-12-31-00-00", 0, 10**9, "en", 1.0,
          True, None, "late row")],
        "url string, ds string, salt long, doc_id long, lang_pred string, "
        "ppl double, keep boolean, drop_reason string, scrubbed_text string",
    )
    sinks.commit(spark, late, out)
    return (
        sinks.read_output_asof(spark, out, cutoff)
        .groupBy("ds")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
            F.sum(F.length("scrubbed_text").cast("long")).alias("out_chars"),
        )
    )


@register("maintenance_roundtrip", _WRITE_ROUNDTRIP_ORACLE)
def q_maintenance_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table maintenance must be CONTENT-INVARIANT: commit the corpus,
    compact every ds partition to one file (small-file rewrite +
    superseding manifest rows), then vacuum the superseded manifest
    history — and the re-aggregated table must still hash-equal the
    original write derivation. Promotes compact_partition +
    vacuum_manifest from test-only to oracle-gated."""
    from .. import sinks

    out, rows = _commit_corpus(spark, sf_dir)
    for r in rows:
        sinks.compact_partition(spark, out, r["ds"], target_files=1)
    sinks.vacuum_manifest(spark, out)
    assert all(
        len(sinks.partition_files(out, r["ds"])) == 1 for r in rows
    ), "compaction must leave exactly one file per partition"
    return (
        sinks.read_output(spark, out)
        .groupBy("ds")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
            F.sum(F.length("scrubbed_text").cast("long")).alias("out_chars"),
        )
    )


@register("stream_commit_ingest", _WRITE_ROUNDTRIP_ORACLE)
def q_stream_commit_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest through the committed ds=... layout
    (incremental.stream_commit_pages: foreachBatch + stage →
    deterministic-rename publish → per-(ds,batch) manifest rows),
    FORCED multi-batch (two input files, maxFilesPerTrigger=1) so
    partitions accrete across micro-batches. The gate then reads the
    PUBLISHED files back through the ordinary batch reader
    (sinks.read_output) and re-aggregates — end-to-end file placement
    + pipeline results must equal the same relational derivation the
    batch sink's gate uses."""
    from .. import sinks
    from ..streaming import incremental as inc

    base = _scratch_dir()
    pages_dir, out = f"{base}/pages", f"{base}/out"
    p = pages_mod.load_pages(spark, sf_dir, with_html=False)
    p.where("doc_id % 2 = 0").coalesce(1).write.mode("append").parquet(
        pages_dir
    )
    p.where("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(
        pages_dir
    )
    inc.stream_commit_pages(
        spark, pages_dir, out, f"{base}/ckpt", max_files_per_trigger=1
    )
    return (
        sinks.read_output(spark, out)
        .groupBy("ds")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
            F.sum(F.length("scrubbed_text").cast("long")).alias("out_chars"),
        )
    )


@register("dedup_ngram_jaccard", dedup.ngram_jaccard_oracle_sql(D))
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram Jaccard near-dup join (prefix filtering,
    PPJoin-style) over the same constructed near-dup corpus as
    `dedup_minhash_lsh` — the deterministic complement to the
    probabilistic MinHash path: every pair with 3-shingle Jaccard
    >= 4/5, no false negatives. Candidate keys are each doc's RAREST
    shingles (df-ascending canonical order), so hot boilerplate
    shingles never fan out; the threshold is integer-rational on both
    sides (|A∩B|*5 >= |A∪B|*4). Oracle is algorithm-independent
    (all shared-shingle pairs, same integer compare)."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    corpus = spark.sql(dedup.corpus_with_near_dups_sql(sd.SPARK))
    return dedup.ngram_jaccard_pairs(corpus)


@register("similar_to_doc", dedup.similar_to_doc_oracle_sql(D))
def q_similar_to_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-by-document retrieval: the top-5 most similar corpus
    docs per query doc by EXACT 3-shingle Jaccard — the point-query
    form of the corpus-wide near-dup scan (takedown sweeps,
    contamination forensics, template hunting). The tiny query side
    broadcasts its exploded shingles, so the corpus streams ONCE with
    zero shuffle to form candidates (J > 0 ⟹ a shared shingle ⟹
    exact recall); only candidates hydrate sets for the exact verify,
    and both engines rank on rounded jaccard with a doc_id tie-break
    so rank boundaries are bit-deterministic."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    corpus = spark.sql(dedup.corpus_with_near_dups_sql(sd.SPARK))
    return dedup.similar_to_doc(corpus)


# Arrow IPC shard scan (reference chunker.py:55,124 reads HF-saved
# .arrow shards one-per-container). The gate materializes documents as
# 4 stream-format shards, scans them through the mapInPandas connector,
# and aggregates; the oracle aggregates the parquet original — the
# connector must be a lossless relational source.
_ARROW_IPC_ORACLE = """
SELECT source, count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS n_chars,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM documents GROUP BY source
"""


@register("arrow_ipc_scan", _ARROW_IPC_ORACLE)
def q_arrow_ipc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan HF-style .arrow shards (file-granular parallelism, one
    pandas frame per record batch) and prove the scan lossless against
    the same rows' parquet original."""
    from ..sources import arrow_ipc

    out = _scratch_dir()
    arrow_ipc.write_arrow_shards(
        table_path(sf_dir, "documents"), out, n_shards=4
    )
    df = arrow_ipc.read_arrow_ipc(
        spark, out, columns=["doc_id", "text", "source"]
    )
    return df.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("n_chars"),
        F.sum("doc_id").alias("id_sum"),
    )


@register("arrow_ipc_datasource", _ARROW_IPC_ORACLE)
def q_arrow_ipc_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shard scan through the PySpark-4 Python Data Source API:
    registered format, `spark.read.format("arrow_ipc").load(dir)`,
    one InputPartition per shard, executor-side RecordBatch yield.
    Same losslessness oracle as `arrow_ipc_scan` — the two scan
    implementations must agree with the parquet original."""
    from ..sources import arrow_ipc

    out = _scratch_dir()
    arrow_ipc.write_arrow_shards(
        table_path(sf_dir, "documents"), out, n_shards=4
    )
    arrow_ipc.register_arrow_ipc_datasource(spark)
    df = spark.read.format("arrow_ipc").load(out)
    return df.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("n_chars"),
        F.sum("doc_id").alias("id_sum"),
    )


from ..operators import hll as hll_op  # noqa: E402

# HyperLogLog distinct sketch (completes the sketch family next to
# count-min and Bloom): per-event_type distinct event_id estimates
# PLUS a merged-sketch ALL row — the merge (bucket-wise max) is the
# property that lets 100-TB shards compute distincts independently and
# combine without re-shuffling keys. Registers and the fixed-point
# estimate re-derive bit-identically in DuckDB, so the gate hash-pins
# the ESTIMATES, not just rows. The estimate and its relative error
# leave as ppm fixed-point BIGINTs, from the same SQL text on both
# engines, so no large-magnitude DOUBLE reaches the fingerprint (the
# streaming twin below also renders its week as an ISO string).
_HLL_PPM_COLS = (
    "CAST(round(n_est * 1e6) AS BIGINT) AS n_est_ppm",
    "CAST(round(abs(n_est - n_exact) / n_exact * 1e6) AS BIGINT)"
    " AS rel_err_ppm",
)
_HLL_ORACLE = f"""
WITH est AS ({hll_op.estimate_oracle_sql(
    "SELECT event_type, event_id FROM events", "event_id", "event_type")}),
exact AS (
  SELECT event_type AS grp,
         CAST(count(DISTINCT event_id) AS BIGINT) AS n_exact
  FROM events GROUP BY 1
  UNION ALL
  SELECT 'ALL', CAST(count(DISTINCT event_id) AS BIGINT) FROM events
)
SELECT grp, n_exact, {", ".join(_HLL_PPM_COLS)}
FROM est e JOIN exact x USING (grp)
"""


@register("hll_distinct_events", _HLL_ORACLE)
def q_hll_distinct_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HLL distinct-count per event_type + merged ALL
    sketch, next to exact counts and relative error."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "event_id")
    regs = hll_op.build_registers(ev, "event_id", ["event_type"])
    every = regs.unionByName(hll_op.merge_registers(regs))
    est = hll_op.estimate(every).withColumnRenamed("event_type", "grp")
    ex_t = ev.groupBy(F.col("event_type").alias("grp")).agg(
        F.countDistinct("event_id").alias("n_exact")
    )
    ex_all = ev.agg(F.countDistinct("event_id").alias("n_exact")).select(
        F.lit("ALL").alias("grp"), "n_exact"
    )
    exact = ex_t.unionByName(ex_all)
    return est.join(exact, "grp").selectExpr("grp", "n_exact", *_HLL_PPM_COLS)


# Streaming HLL: the sketch family composed with Structured Streaming.
# Register state is <= m ints per open window (bounded, unlike
# dropDuplicates state); the oracle re-derives registers AND estimate
# in DuckDB over the same md5/fixed-point arithmetic. Spark's 7-day
# windows align to the unix epoch, rendered below as date arithmetic.
_WEEK_EXPR_DUCK = (
    "(DATE '1970-01-01' + CAST(floor(epoch(ts) / 604800) * 7 AS INT))"
)


def _weekly_hll_oracle() -> str:
    bucket, rho = hll_op.register_fragments("event_id", D)
    term = "(CAST(1 AS BIGINT) << (53 - m_j))"
    return f"""
WITH regs AS (
  SELECT {_WEEK_EXPR_DUCK} AS week, {bucket} AS bucket, max({rho}) AS m_j
  FROM events GROUP BY 1, 2
),
sums AS (
  SELECT week, CAST(sum({term}) AS BIGINT) AS __s,
         CAST(count(*) AS BIGINT) AS __nz
  FROM regs GROUP BY week
),
est AS (SELECT week, {hll_op.estimate_expr("__s", "__nz", D)} AS n_est FROM sums),
exact AS (
  SELECT {_WEEK_EXPR_DUCK} AS week,
         CAST(count(DISTINCT event_id) AS BIGINT) AS n_exact
  FROM events GROUP BY 1
)
SELECT strftime(week, '%Y-%m-%d') AS week, n_exact, {", ".join(_HLL_PPM_COLS)}
FROM est JOIN exact USING (week)
""".strip()


@register("hll_distinct_stream", _weekly_hll_oracle())
def q_hll_distinct_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream → watermark → 7-day-windowed HLL register agg →
    memory sink; estimate read off the registers, joined to the exact
    batch count per window. The 90-day watermark horizon exceeds the
    fixture's 30-day span, so the registers equal the batch/DuckDB
    re-derivation under every legal micro-batch split. Week keys are
    computed under the UTC session the registry dispatch pins
    (_tz_pinned) and emitted as ISO strings, the estimate and its
    error as ppm BIGINTs, so no date or float rendering reaches the
    value hash."""
    events = _staged(load_table(spark, sf_dir, "events"))
    est = streaming_inc.weekly_distinct_sketch(
        spark, events, _scratch_dir(), watermark="90 days"
    )
    ev = spark.read.parquet(events).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    exact = (
        ev.groupBy(F.window("ts", "7 days").alias("w"))
        .agg(F.countDistinct("event_id").alias("n_exact"))
        .select(F.col("w.start").cast("date").alias("week"), "n_exact")
    )
    return est.join(exact, "week").selectExpr(
        "date_format(week, 'yyyy-MM-dd') AS week", "n_exact", *_HLL_PPM_COLS
    )


from ..operators import histsketch  # noqa: E402

# Histogram quantile sketch (4th sketch: quantiles in fixed memory,
# next to count-min/Bloom/HLL). Gate hash-pins the interpolated
# estimates AND their error vs the exact percentiles from
# `length_quantiles`'s oracle-proven path.
_HIST_ORACLE = f"""
WITH est AS ({histsketch.quantiles_oracle_sql(
    "SELECT source, n_chars FROM documents", "n_chars", "source",
    [0.5, 0.9, 0.99])}),
exact AS (
  SELECT source AS grp, quantile_cont(n_chars, 0.5) AS x50
  FROM documents GROUP BY 1
)
SELECT e.grp, e.n, e.p50, e.p90, e.p99,
       round(abs(e.p50 - x.x50), 6) AS p50_abs_err
FROM est e JOIN exact x ON x.grp = e.grp
"""


@register("hist_quantiles_sketch", _HIST_ORACLE)
def q_hist_quantiles_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram p50/p90/p99 of doc length per source —
    one (group,bin) counter relation instead of a per-group sort;
    p50 absolute error vs the exact percentile rides along (bounded
    by W=16 bin width)."""
    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    bins = histsketch.build_bins(docs, "n_chars", ["source"])
    est = histsketch.quantiles(bins, [0.5, 0.9, 0.99]).withColumnRenamed(
        "source", "grp"
    )
    exact = docs.groupBy(F.col("source").alias("grp")).agg(
        F.expr("percentile(n_chars, 0.5)").alias("x50")
    )
    return est.join(exact, "grp").select(
        "grp", "n", "p50", "p90", "p99",
        F.round(F.abs(F.col("p50") - F.col("x50")), 6).alias("p50_abs_err"),
    )


# TPC-H Q6: pure scan-predicate-aggregate — the query whose entire
# cost is how little of the table the scan materializes. The plan must
# show all three predicates in PushedFilters and a 3-column
# ReadSchema; round(3) because a single global double sum's partial-
# agg ordering can wobble the 4th decimal at this magnitude.
_Q6_ORACLE = """
SELECT round(sum(l_extendedprice * l_discount), 3) AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("tpch_q6_forecast_revenue", _Q6_ORACLE)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return l.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 3).alias(
            "revenue"
        ),
        F.count("*").alias("n_lines"),
    )


# TPC-H Q18 (large-volume customer): heavy-hitter key selection via an
# aggregated HAVING, then a semi-join back — at scale the qualifying
# key set is small, so Catalyst/AQE broadcasts it and the big table is
# scanned once for the agg and once for the hydration (no SMJ of
# lineitem against itself).
_Q18_ORACLE = """
SELECT c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       round(sum(l.l_quantity), 4) AS total_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > 160
)
GROUP BY c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderkey ASC LIMIT 100
"""


@register("tpch_q18_large_volume_customer", _Q18_ORACLE)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .where(F.col("q") > 160)
        .select("l_orderkey")
    )
    o = load_table(spark, sf_dir, "orders").join(
        big, F.col("o_orderkey") == big.l_orderkey, "left_semi"
    )
    c = load_table(spark, sf_dir, "customer")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 4).alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Corpus hygiene: benchmark decontamination, boilerplate screen,
# deterministic train/val/test sharding (operators/decontam.py, split.py)
# ---------------------------------------------------------------------------

from ..operators import decontam as decontam_op  # noqa: E402
from ..operators import split as split_op  # noqa: E402


@register("decontaminate_corpus", decontam_op.decontaminate_oracle_sql(D))
def q_decontaminate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style n-gram decontamination: the eval docs (doc_id%97=0)
    are held out of the training corpus and leak back in as planted
    near-copies at doc_id+2000000; the operator must flag exactly the
    leaked docs (plus any natural 8-gram collisions). Plan: row-local
    gram sets, broadcast probe of the benchmark gram set, partial-agg
    count of hits only — the clean bulk of the corpus never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    eval_docs = docs.where(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    planted = eval_docs.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" leaked into train set")).alias("text"),
    )
    corpus = (
        docs.where(F.col("doc_id") % 97 != 0).select("doc_id", "text")
        .unionByName(planted)
    )
    bench = decontam_op.benchmark_grams(eval_docs)
    return decontam_op.decontaminate(corpus, bench).select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_hits").cast("long").alias("n_hits"),
    )


@register("boilerplate_screen", decontam_op.boilerplate_oracle_sql(D))
def q_boilerplate_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate screen: shingles in >= 3 docs are
    template text; per-doc boilerplate ratio with an exact-integer
    keep rule (ratio <= 1/2). Two map-side-combinable shuffles, text
    never leaves the scan stage."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = decontam_op.boilerplate_signals(docs)
    return out.select(
        "doc_id",
        F.col("n_sh").cast("long").alias("n_sh"),
        F.col("n_boiler").cast("long").alias("n_boiler"),
        "boiler_ratio",
        "keep",
    )


_SPLIT_ORACLE = f"""
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM (SELECT doc_id, n_chars, {split_op.split_expr(D)} AS split FROM documents)
GROUP BY split
"""


@register("train_test_split", _SPLIT_ORACLE)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 sharding by stable-id md5 coin — the
    assignment survives repartition/compaction/engine swap, unlike
    rand() or row-position splits. Row-local codegen + one 3-row
    partial agg; id_checksum pins the exact membership, not just the
    counts."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return (
        split_op.assign_split(docs)
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum("doc_id").alias("id_checksum"),
        )
    )


# ---------------------------------------------------------------------------
# Exact substring-level dedup: duplicated token-window spans
# (operators/spandedup.py — Lee et al. semantics at window granularity)
# ---------------------------------------------------------------------------

from ..operators import spandedup as spandedup_op  # noqa: E402


@register(
    "dedup_repeated_spans",
    spandedup_op.duplicated_spans_oracle_sql(
        D, f"({spandedup_op.planted_corpus_sql(D)})"
    ),
)
def q_dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated >= 30-token runs as excisable [start, end] token
    spans: window hashes row-local, ONE (h)-keyed partial agg for
    occurrence counts, dup hashes broadcast back, island-merge over
    the tiny dup set. Corpus plants a 60-token copied slice of every
    20th doc; fixtures also carry natural within-doc repeats — both
    kinds must be found, merged identically to the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = spark.sql(
        spandedup_op.planted_corpus_sql(H.SPARK, "{documents}"),
        documents=docs,
    )
    return spandedup_op.duplicated_spans(corpus).select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("n_windows").cast("long").alias("n_windows"),
    )


# ---------------------------------------------------------------------------
# Data-mixture sampling (operators/mixture.py)
# ---------------------------------------------------------------------------

from ..operators import mixture as mixture_op  # noqa: E402

# recipe: src<i> sampled at max(100, 1000 - 50*i) / 1000 — rendered as
# a rates relation on the Spark side and inline arithmetic in the oracle.
_MIXTURE_ORACLE = f"""
SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM (
  SELECT doc_id, source FROM documents
  WHERE {mixture_op.coin_expr(D)} <
        greatest(100, 1000 - 50 * CAST(substr(source, 4) AS INT))
)
GROUP BY source
"""


@register("mixture_sample_by_source", _MIXTURE_ORACLE)
def q_mixture_sample_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recipe-table down-sampling: rates as a broadcast dimension, the
    stable md5 coin row-local — rerun-identical, composes with the
    split coin (different salt). Gate pins per-source kept counts AND
    id checksums (exact membership, not just proportions)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sources = [f"src{i}" for i in range(20)]
    rates = spark.createDataFrame(
        [(s, max(100, 1000 - 50 * int(s[3:]))) for s in sources],
        "source string, rate_num int",
    )
    return (
        mixture_op.mixture_sample(docs, rates)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("doc_id").alias("id_checksum"),
        )
    )


_EXCISE_SPANS_SQL = (
    "SELECT doc_id, span_start, span_end FROM ("
    + spandedup_op.duplicated_spans_oracle_sql(
        D, f"({spandedup_op.planted_corpus_sql(D)})"
    )
    + ") WHERE doc_id >= 3000000"
)


@register(
    "dedup_excise_spans",
    f"""
SELECT doc_id, n_before, n_after, md5(clean_text) AS clean_md5 FROM (
{spandedup_op.excise_oracle_sql(D, f"({spandedup_op.planted_corpus_sql(D)})", _EXCISE_SPANS_SQL)}
)""".strip(),
)
def q_dedup_excise_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """find → excise, keep-the-original policy: spans filtered to the
    planted copies (doc_id >= 3000000), their duplicated ranges REMOVED
    from the canonical token stream. n_after + clean-text md5 prove the
    rewrite is exact, not just counted. Spans side broadcast; the
    corpus is never shuffled."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = spark.sql(
        spandedup_op.planted_corpus_sql(H.SPARK, "{documents}"),
        documents=docs,
    )
    spans = spandedup_op.duplicated_spans(corpus).where(
        F.col("doc_id") >= 3000000
    )
    return spandedup_op.excise_spans(corpus, spans).select(
        "doc_id",
        F.col("n_before").cast("long").alias("n_before"),
        F.col("n_after").cast("long").alias("n_after"),
        F.md5("clean_text").alias("clean_md5"),
    )


# ---------------------------------------------------------------------------
# C4-style line dedup + domain blocklist (web-corpus hygiene, cont.)
# ---------------------------------------------------------------------------

from ..operators import blocklist as blocklist_op  # noqa: E402
from ..operators import linededup as linededup_op  # noqa: E402


@register("line_dedup_clean", linededup_op.line_dedup_oracle_sql(D))
def q_line_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/CCNet line-level dedup: lines whose corpus document
    frequency >= 3 (cookie banners, share bars, per-host footers in
    the planted lined corpus) are removed from EVERY document, the
    survivors rejoined in order. Text shuffles exactly once (final
    doc_id join); the df agg and the boilerplate join move int keys
    only. clean_md5 proves the rebuild byte-exactly, not just counts."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = spark.sql(
        linededup_op.lined_corpus_sql(sd.SPARK, "{documents}"),
        documents=docs,
    )
    return linededup_op.line_dedup(corpus).select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        "n_kept",
        "n_removed",
    )


@register(
    "blocklist_filter",
    blocklist_op.blocklist_oracle_sql(
        D, pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)
    ),
)
def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist filter (FineWeb stage 1): extract host (pure
    codegen), broadcast LEFT ANTI join against the (deterministic
    stand-in) blocklist dimension — zero shuffle on the corpus."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=False)
    hosted = blocklist_op.with_host(p)
    blk = blocklist_op.synthetic_blocklist(hosted)
    return blocklist_op.blocklist_filter(p, blk).select("doc_id", "host")


@register(
    "url_dedup_latest",
    urldedup.url_dedup_latest_oracle_sql(
        D, pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)
    ),
)
def q_url_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-crawl recency keeper: newest capture per normalized URL
    (ties by doc_id) over pages ∪ a planted one-day-later refresh.
    max(struct(warc_ts, doc_id)) keeps this a plain two-phase partial
    agg — no per-group sort, unlike the row_number formulation the
    oracle states the policy with."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=False)
    p.createOrReplaceTempView("pages_urls")
    feed = spark.sql(urldedup.recrawl_feed_sql(sd.SPARK, pages="pages_urls"))
    return urldedup.url_dedup_latest(feed)


_ADAPTIVE_ITEMS = (
    f"SELECT doc_id, lang, CAST({sd.n_words_sql('text', 'duckdb')} AS BIGINT)"
    " AS n_words FROM documents"
)


@register(
    "adaptive_quality_cutoff",
    histsketch.adaptive_cutoff_oracle_sql(
        _ADAPTIVE_ITEMS, "n_words", "lang"
    ),
)
def q_adaptive_quality_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive per-LANGUAGE quality threshold (FineWeb tunes cutoffs
    per language, never globally): drop each language's shortest
    quartile by word count. The threshold comes from the mergeable
    histogram sketch via an INTEGER-EXACT crossing rule (q_den*cum >=
    q_num*n) — no float interpolation, so no engine/oracle boundary
    drift — then broadcasts back over a column-pruned second scan."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.expr(sd.n_words_sql("text", sd.SPARK)).cast("long").alias(
            "n_words"
        ),
    )
    return histsketch.adaptive_cutoff_filter(
        docs, "n_words", ["lang"]
    ).select("doc_id", "lang", "n_words")


from ..operators import hygiene as hygiene_op  # noqa: E402


@register(
    "hygiene_pipeline",
    hygiene_op.hygiene_oracle_sql(
        D, pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)
    ),
)
def q_hygiene_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The five hygiene stages composed as ONE plan over a synthetic
    crawl-refresh feed: domain blocklist → recency URL keeper → line
    dedup → quality keep → scrub(kept). Every stage has a planted
    positive (blocked hosts, one-day-later re-crawls with extended
    text, cross-doc banner/footer lines) and the scrubbed-text md5
    pins the byte-exact outcome of the whole chain — the stage
    BOUNDARIES (column contracts, row identity across joins) that the
    per-stage gates cannot see."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=False)
    p.createOrReplaceTempView("pages_hygiene")
    feed = spark.sql(hygiene_op.hygiene_feed_sql(sd.SPARK, "pages_hygiene"))
    return hygiene_op.run_hygiene(feed).select(
        "doc_id",
        "keep",
        "drop_reason",
        "n_removed",
        F.md5("scrubbed_text").alias("scrub_md5"),
    )


from ..operators import crawldiff as crawldiff_op  # noqa: E402


@register(
    "crawl_diff",
    crawldiff_op.crawl_diff_oracle_sql(
        D, pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)
    ),
)
def q_crawl_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-snapshot crawl diff (the incremental-curation primitive):
    pages vs a planted re-crawl where every 11th URL vanished, every
    7th survivor was revised, and every 17th spawned a new URL. Each
    snapshot collapses to (norm_url, md5) codegen-side; one full-outer
    shuffle join on norm_url classifies added/removed/changed/
    unchanged — digests shuffle, text never does."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=False)
    p.createOrReplaceTempView("pages_diff")
    new_snap = spark.sql(
        crawldiff_op.new_snapshot_sql(sd.SPARK, "pages_diff")
    )
    old = p.select("doc_id", "url", "text")
    return crawldiff_op.crawl_diff(old, new_snap)


@register(
    "incremental_rescore",
    crawldiff_op.incremental_rescore_oracle_sql(
        D, pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)
    ),
)
def q_incremental_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff-driven incremental curation: the quality battery runs
    ONLY over the crawl delta (added/changed URLs) — the whole reason
    to diff at 10^12-doc scale. Delta keys are status-filtered before
    the join, so text flows once and only for delta rows."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=False)
    p.createOrReplaceTempView("pages_diff2")
    new_snap = spark.sql(
        crawldiff_op.new_snapshot_sql(sd.SPARK, "pages_diff2")
    )
    old = p.select("doc_id", "url", "text")
    return crawldiff_op.incremental_rescore(old, new_snap)


@register(
    "merge_rescored_snapshot",
    crawldiff_op.merge_rescored_oracle_sql(
        D, pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)
    ),
)
def q_merge_rescored_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental == batch, proven: merge stored scores for unchanged
    URLs with fresh delta scores and retire removed URLs; the oracle is
    a FULL recompute over the new snapshot. Hash equality is the
    contract that lets a 10^12-doc pipeline trust its delta path."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=False)
    p.createOrReplaceTempView("pages_diff3")
    new_snap = spark.sql(
        crawldiff_op.new_snapshot_sql(sd.SPARK, "pages_diff3")
    )
    old = p.select("doc_id", "url", "text")
    return crawldiff_op.merge_rescored(old, new_snap)


@register(
    "scd2_url_history",
    crawldiff_op.scd2_oracle_sql(
        D, pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)
    ),
)
def q_scd2_url_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 versioned URL dimension over THREE crawl snapshots:
    one row per (norm_url, content-version) with [valid_from,
    valid_to) snapshot intervals and is_current — the 'what did this
    URL say, when' relation that as-of corpus rebuilds and spam-drift
    audits read instead of N full snapshots. Planted fixtures cover
    every transition: stable, revised once, revised twice, deleted at
    snap 2, deleted at snap 3, born at snap 2, born at snap 2 then
    revised, born at snap 3. Snapshots collapse to (norm_url, md5)
    before ONE shuffle; all windows partition by norm_url, so state
    per key is one URL's version list, never the corpus."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=False)
    p.createOrReplaceTempView("pages_scd2")
    snap1 = p.select("doc_id", "url", "text")
    snap2 = spark.sql(crawldiff_op.new_snapshot_sql(sd.SPARK, "pages_scd2"))
    snap3 = spark.sql(
        crawldiff_op.third_snapshot_sql(sd.SPARK, "pages_scd2")
    )
    return crawldiff_op.scd2_history([snap1, snap2, snap3])


@register("dedup_apply_keepers", dedup.apply_keepers_oracle_sql(D))
def q_dedup_apply_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup story closed end-to-end: LSH pairs → connected
    components → corpus FILTERED to cluster keepers (planted
    near-dup copies gone, their originals and all singletons kept),
    text md5 pinning row identity. The cluster relation is two
    BIGINTs; the text side is scanned once."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    corpus = spark.sql(dedup.corpus_with_near_dups_sql(sd.SPARK))
    pairs = dedup.lsh_pairs(corpus).where(
        F.col("jaccard") >= dedup.DEFAULT_JACCARD
    )
    clusters = dedup.resolve_clusters(pairs, corpus.select("doc_id"))
    return dedup.apply_keepers(corpus, clusters).select(
        "doc_id", F.md5("text").alias("text_md5")
    )


@register(
    "auto_blocklist_proposal",
    blocklist_op.propose_blocklist_oracle_sql(
        D, pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)
    ),
)
def q_auto_blocklist_proposal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The blocklist maintenance loop: hosts with enough volume
    (>=10 docs) and an integer-exact low keep rate (10*n_keep <
    3*n_docs) over pages ∪ a planted digit-spam cohort. One battery
    pass + one host groupBy — the daily ops query that feeds the
    stage-1 blocklist dimension."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=False)
    p.createOrReplaceTempView("pages_spam")
    feed = spark.sql(blocklist_op.spam_feed_sql(sd.SPARK, "pages_spam"))
    return blocklist_op.propose_blocklist(feed)


@register(
    "host_reputation",
    blocklist_op.host_reputation_oracle_sql(
        D, pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)
    ),
)
def q_host_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes host reputation: per-host keep rate shrunk
    toward the global rate by a Beta prior of 20 pseudo-docs — the
    fix for the proposal rule's small-sample blind spot (a 3-doc
    0-keep host must not outrank a 300-doc 20%-keep host). One
    battery pass + one host groupBy + a 1-row broadcast; rational
    arithmetic only, so the oracle is IEEE-identical pre-round."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=False)
    p.createOrReplaceTempView("pages_rep")
    feed = spark.sql(blocklist_op.spam_feed_sql(sd.SPARK, "pages_rep"))
    return blocklist_op.host_reputation(feed)


@register(
    "token_drift",
    crawldiff_op.token_drift_oracle_sql(
        D, pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)
    ),
)
def q_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-200 drifting unigrams between pages and the planted
    re-crawl: chi-squared + total-variation contribution per token
    under Laplace smoothing, as exact integer-scaled units (floor of
    bit-identical rational doubles — no transcendentals, no decimal
    round). The corpus-monitoring primitive: spam waves and extractor
    regressions move token mass before aggregate keep rates move.
    Histogram = explode + two-phase count; everything after is
    vocab-sized."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=False)
    p.createOrReplaceTempView("pages_drift")
    new_snap = spark.sql(
        crawldiff_op.new_snapshot_sql(sd.SPARK, "pages_drift")
    )
    old = p.select("doc_id", "url", "text")
    return crawldiff_op.token_drift(old, new_snap)


from ..operators import linkgraph as linkgraph_op  # noqa: E402


@register(
    "host_pagerank",
    linkgraph_op.pagerank_oracle_sql(
        D, pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)
    ),
)
def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level PageRank over outlinks extracted from raw html
    (planted deterministic anchor tags): href regexp extraction →
    weighted host edge list → 10 damped power iterations, each ONE
    shuffle join + groupBy with localCheckpoint-flattened lineage —
    the canonical distributed PageRank step. Oracle runs the SAME 10
    iterations unrolled as chained CTEs. Extraction is the only
    corpus-sized stage; iterations touch the edge/node relations."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=False)
    p.createOrReplaceTempView("pages_lg")
    linked = spark.sql(linkgraph_op.linked_pages_sql(sd.SPARK, "pages_lg"))
    return linkgraph_op.host_pagerank(linked)


@register(
    "clf_threshold_sweep",
    quality.threshold_sweep_sql(
        D, table=f"({pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)})"
    ),
)
def q_clf_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier operating curve: per score-ventile doc counts and
    cumulative precision/recall of 'keep everything >= bucket', with
    the heuristic battery as proxy label — the table you read to pick
    the production cutoff. Buckets reuse the integer score_ppm
    convention; the window runs over the bounded 21-row bucket
    relation, so it is scale-free."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=False)
    return quality.threshold_sweep(p)


@register(
    "semantic_decontaminate",
    decontam_op.semantic_decontaminate_oracle_sql(D),
)
def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level decontamination (catches what n-gram overlap
    misses — paraphrased benchmark leakage): max cosine of every
    corpus vector against the planted benchmark set (vec_id%41=0),
    flagged above tau=0.98. The dup-vector corpus plants exact
    near-copies of two benchmark vectors, so there are true positives.
    The tiny bench set bakes into the plan as constant-folded literal
    arrays: ZERO shuffle, zero joins, one codegen pass — the oracle
    re-derives it as the O(n*m) cross join the fold compiles away."""
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    corpus = spark.sql(similarity.corpus_with_dup_vectors_sql(sd.SPARK))
    bench = spark.table("embeddings").where(
        F.col("vec_id") % decontam_op.BENCH_MOD == 0
    )
    return decontam_op.semantic_decontaminate(corpus, bench)


@register(
    "dedup_incremental_lsh",
    dedup.incremental_lsh_oracle_sql(D),
)
def q_dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental crawl admission against a STORED MinHash index:
    only the delta batch is shingled/signed; banding joins delta bands
    against (stored ∪ delta) bands; exact Jaccard verifies candidates
    on the stored hashed sets; greedy order-free rule (rejected iff
    >= tau vs any old doc or lower-id new doc). Planted cohorts: +1M
    near-dups must be rejected, +3M fresh pages admitted, +4M exact
    copies of +3M rejected. The old corpus TEXT is never read — at
    10^12 docs that is the entire point. Oracle: full recompute over
    old ∪ new with the same banding."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.createOrReplaceTempView("documents_inc")
    new_docs = spark.sql(dedup.new_crawl_batch_sql(sd.SPARK, "documents_inc"))
    old_sigs = dedup.with_minhash(docs)
    return dedup.incremental_lsh_dedup(old_sigs, new_docs)


@register("lsh_index_merge", dedup.merged_index_oracle_sql(D))
def q_lsh_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-INDEX maintenance: fold a crawl delta (re-crawled
    pages under their same doc_id + fresh pages) into the stored
    MinHash index with merge_signature_index — supersede re-crawls,
    append fresh — and prove the merged index is hash-identical to a
    full rebuild over (surviving old ∪ delta). Only the delta pays
    the md5/shingle work; the stored index ships two-BIGINT ids into
    one left-anti join and its payloads never shuffle. The
    sinks.compact_partition contract, applied to the index relation
    itself."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.createOrReplaceTempView("documents_idx")
    delta = spark.sql(dedup.recrawl_batch_sql(sd.SPARK, "documents_idx"))
    merged = dedup.merge_signature_index(
        dedup.with_minhash(docs), dedup.with_minhash(delta)
    )
    return merged.select(
        "doc_id",
        F.size("__sh").cast("long").alias("n_sh"),
        *[f"sig_{k}" for k in range(H.N_HASHES)],
    )


_TOKEN_HIST_STREAM_ORACLE = f"""
WITH pages AS ({pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)}),
t AS (
  SELECT time_bucket(INTERVAL '5 minutes', warc_ts) AS win_start,
         unnest({H.tokens_lower('text', sd.DUCKDB)}) AS token
  FROM pages
)
SELECT win_start, token, CAST(count(*) AS BIGINT) AS n_tokens
FROM t WHERE token <> '' GROUP BY win_start, token
"""


@register("token_histogram_stream", _TOKEN_HIST_STREAM_ORACLE)
def q_token_histogram_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream → explode → watermarked 5-minute windowed unigram
    counts → memory sink (the live feed token_drift consumes).
    The watermark horizon (30 days) exceeds the
    pages fixture's event-time span (~doc-count seconds), so the
    stream equals the batch/DuckDB histogram under every legal
    micro-batch split, not just the single-batch one."""
    return streaming_inc.windowed_token_histogram(
        spark,
        _staged(pages_mod.load_pages(spark, sf_dir, with_html=False)),
        _scratch_dir(),
        watermark="30 days",
    )


_QUOTA_N = 20

_QUOTA_ORACLE = f"""
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY {H.md5_i64("'quota:' || CAST(doc_id AS VARCHAR)", sd.DUCKDB)}, doc_id
         ) AS rk
  FROM documents
)
SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {_QUOTA_N}
"""


@register("quota_sample_per_lang", _QUOTA_ORACLE)
def q_quota_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-quota eval-set sampler: precisely 20 docs per language
    (or all, if fewer), chosen by a deterministic md5 order — the form
    eval-set construction needs (per-row coins give binomial counts,
    not quotas) and the one that stays identical across engines,
    retries, and cluster sizes. Plan: one lang-partitioned window;
    rank<=k lets WindowGroupLimit keep a partial top-k per map task,
    so only ~k rows per lang per partition cross the shuffle."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    coin = F.expr(
        H.md5_i64("'quota:' || CAST(doc_id AS STRING)", sd.SPARK)
    )
    w = Window.partitionBy("lang").orderBy(coin.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _QUOTA_N)
        .select("doc_id", "lang", F.col("rk").cast("bigint").alias("rk"))
    )


@register(
    "anchor_text_index",
    linkgraph_op.anchor_index_oracle_sql(
        D, pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)
    ),
)
def q_anchor_text_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 anchor-text tokens pointing at each host — the off-page
    relevance/quality signal (what OTHER pages call a host is harder
    to spam than on-page text). Both capture groups extract in one
    codegen pass, arrays_zip keeps (host, text) aligned with zero
    joins, and the per-host top-k window ranks a (host, token)-sized
    relation."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=False)
    p.createOrReplaceTempView("pages_anchor")
    linked = spark.sql(linkgraph_op.linked_pages_sql(sd.SPARK, "pages_anchor"))
    return linkgraph_op.anchor_text_index(linked)


@register(
    "host_cocitation",
    linkgraph_op.cocitation_oracle_sql(
        D, pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)
    ),
)
def q_host_cocitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Related-hosts by co-citation: pairs of hosts linked by the same
    source hosts, with the common-source count — pure structure, no
    content similarity needed. The self-join runs on the host-granular
    distinct edge list (node²-bounded, never corpus-bounded)."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=False)
    p.createOrReplaceTempView("pages_cocite")
    linked = spark.sql(linkgraph_op.linked_pages_sql(sd.SPARK, "pages_cocite"))
    return linkgraph_op.host_cocitation(linked)


@register(
    "host_triangles",
    linkgraph_op.triangles_oracle_sql(
        D, pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)
    ),
)
def q_host_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host triangle count + local clustering coefficient over the
    undirected host graph — the link-farm motif detector (organic link
    neighborhoods are sparse; paid networks interlink densely).
    Degree-oriented edges make two equi-joins enumerate each triangle
    exactly once on the node²-bounded host edge list, with wedge
    fan-out O(sqrt(E)) per node; cc is exact integer ppm so both
    engines agree bit-for-bit."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=False)
    p.createOrReplaceTempView("pages_tri")
    linked = spark.sql(linkgraph_op.linked_pages_sql(sd.SPARK, "pages_tri"))
    return linkgraph_op.host_triangles(linked)


@register(
    "corpus_diversity",
    textstats.diversity_oracle_sql(
        D, pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)
    ),
)
def q_corpus_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-diversity KPI: effective number of hosts per language
    (inverse Simpson over host shares). Integer-exact operands — the
    single double division is bit-identical across engines. Catches
    the planted h0 volume skew as depressed effective-host count."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=False)
    return textstats.corpus_diversity(p)


@register(
    "url_template_mining",
    urldedup.url_templates_oracle_sql(
        D, pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)
    ),
)
def q_url_template_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-trap report: top-3 URL path templates per host with digit
    runs collapsed to '<d>' — one template carrying most of a host's
    URLs means pagination/calendar/faceted-nav loops, not content.
    Codegen extraction, two-phase count, per-host WindowGroupLimit."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=False)
    return urldedup.url_templates(p)


@register(
    "dedup_quality_keeper",
    dedup.quality_keeper_oracle_sql(D),
)
def q_dedup_quality_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup keeper policy: within each LSH near-dup
    cluster keep the HIGHEST-classifier-score member (FineWeb keeps
    the cleanest copy, not the lowest id), integer-ppm argmax with
    doc_id tie-break. Composes pairs -> connected components ->
    per-cluster top-1 window."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    corpus = spark.sql(dedup.corpus_with_near_dups_sql(sd.SPARK))
    pairs = dedup.lsh_pairs(corpus).where(
        F.col("jaccard") >= dedup.DEFAULT_JACCARD
    )
    clusters = dedup.resolve_clusters(pairs, corpus.select("doc_id"))
    return dedup.quality_aware_keepers(corpus, clusters)


from ..operators import mixture as mixture_op  # noqa: E402


@register("mixture_upsample", mixture_op.upsample_oracle_sql(D))
def q_mixture_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch upsampling (mixture rates ABOVE 1): src0 replicated 2.5x
    in expectation (2 whole copies + md5-coin fractional), src1 down
    to 0.4x, unlisted sources dropped — one consistent policy with
    mixture_sample (same coin, same recipe-table shape). Row-local
    explode after a broadcast rates join; zero corpus shuffle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    rates = spark.sql(mixture_op.upsample_rates_sql(sd.SPARK))
    return mixture_op.upsample(docs, rates).select(
        "doc_id", "source", "copy_id"
    )


@register(
    "score_percentile_by_lang",
    quality.score_percentile_sql(
        D, pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)
    ),
)
def q_score_percentile_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-language percentile of the classifier score — the
    calibration that makes one quality cutoff comparable across
    languages. Exact percent_rank over the integer ppm score (ties
    rank identically on both engines); the sketch-based
    adaptive_quality_cutoff gate is the fixed-memory approximation."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=False)
    return quality.score_percentile_by_lang(p)


def _lang_confusion_sql(d: str, pages_ref: str) -> str:
    from ..spec import langid_model as lm

    sel = lm.langid_select_sql(
        d, table=pages_ref, text_col="text", key_cols="doc_id, lang"
    )
    return f"""
SELECT lang AS lang_claimed, lang_pred, CAST(count(*) AS BIGINT) AS n
FROM ({sel})
GROUP BY lang, lang_pred
""".strip()


_LANG_CONFUSION_ORACLE = f"""
WITH pages AS ({pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)})
{_lang_confusion_sql(sd.DUCKDB, "pages")}
"""


@register("lang_confusion_matrix", _LANG_CONFUSION_ORACLE)
def q_lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: claimed lang (crawl metadata) vs
    the model's prediction, counted per pair — the evaluation table
    that justifies trusting lang_pred over upstream metadata. Uses the
    spec model's exact relational argmax rendering (integer scores,
    CASE-order tie-break) as a pure-codegen ENGINE operator — the
    vectorized-UDF path (pipeline_scored) computes the same label with
    softmax confidence."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=False)
    p.createOrReplaceTempView("pages_conf")
    return spark.sql(_lang_confusion_sql(sd.SPARK, "pages_conf"))


from ..operators import layout as layout_op  # noqa: E402

_ZORDER_ORACLE = f"""
SELECT doc_id,
       CAST({layout_op.zvalue_sql("(doc_id % 65536)", "(n_chars % 65536)", sd.DUCKDB)} AS BIGINT) AS zval
FROM documents
"""


@register("zorder_values", _ZORDER_ORACLE)
def q_zorder_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) codes over (doc_id, n_chars) — the layout key
    that makes min/max file stats prune BOTH dimensions when written
    range-partitioned+sorted (operators/layout.zorder_layout). Exact
    integer shift/mask arithmetic, pure codegen, dialect-identical."""
    docs = load_table(spark, sf_dir, "documents")
    return layout_op.with_zvalue(
        docs.select(
            "doc_id",
            (F.col("doc_id") % 65536).alias("xd"),
            (F.col("n_chars") % 65536).alias("yd"),
        ),
        "xd", "yd",
    ).select("doc_id", "zval")


@register(
    "ivf_incremental_assign",
    similarity.ivf_incremental_oracle_sql(D),
)
def q_ivf_incremental_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance: an arriving vector batch is
    assigned to the STORED IVF index (trained once on the existing
    corpus) — the old corpus is never rescanned, the index never
    retrained, and only the delta pays one zero-shuffle BLAS pass.
    Planted contract: cosine-invariant scaled copies must land in
    their source's cell. Oracle re-derives training over the stored
    corpus and assignment over the delta relationally."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb.createOrReplaceTempView("embeddings")
    centroids = similarity.train_ivf_centroids(emb)
    delta = spark.sql(similarity.delta_vectors_sql(sd.SPARK))
    return similarity.ivf_assign_delta(delta, centroids)


def _mojibake_feed_sql(d: str, pages: str = "pages") -> str:
    """pages ∪ a planted mislabel cohort: every 31st doc re-labeled
    'zh' with its (latin) text intact — claimed zh, no CJK."""
    return (
        f"SELECT doc_id, lang, text FROM {pages} "
        f"UNION ALL "
        f"SELECT doc_id + 8000000 AS doc_id, 'zh' AS lang, text "
        f"FROM {pages} WHERE doc_id % 31 = 0 AND lang <> 'zh'"
    )


_SCRIPT_ORACLE = textstats.script_report_sql(
    D, _mojibake_feed_sql(
        sd.DUCKDB,
        f"({pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)})",
    ),
)


@register("script_mismatch_report", _SCRIPT_ORACLE)
def q_script_mismatch_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-script composition vs claimed language — the cheap
    mojibake/mislabel detector token rules can't see. Planted cohort:
    latin docs re-labeled 'zh' must flag; genuine zh (CJK marker mass
    above the floor) must not. Two char-class deletion counts per row,
    pure codegen, zero shuffle."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=False)
    p.createOrReplaceTempView("pages_script")
    feed = spark.sql(_mojibake_feed_sql(sd.SPARK, "pages_script"))
    return textstats.script_report(feed)


@register(
    "quality_transition",
    crawldiff_op.quality_transition_oracle_sql(
        D, pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)
    ),
)
def q_quality_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-URL keep-bit transitions between two snapshots (kept->kept,
    kept->dropped, ...) — the ops report that separates 'the crawl got
    worse' from 'the filter changed'. One battery pass per snapshot
    collapsed to (norm_url, keep), one key join, 4-row output."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=False)
    p.createOrReplaceTempView("pages_qt")
    new_snap = spark.sql(crawldiff_op.new_snapshot_sql(sd.SPARK, "pages_qt"))
    old = p.select("doc_id", "url", "text")
    return crawldiff_op.quality_transition(old, new_snap)


@register(
    "robots_rules_filter",
    blocklist_op.robots_filter_oracle_sql(
        D, pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)
    ),
)
def q_robots_rules_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots-style compliance filter: drop pages matching any
    (host, path-prefix) disallow rule — broadcast rule dimension,
    LEFT ANTI on host equality + starts_with; the corpus never
    shuffles. Planted rules: h2 blocks everything, h1 blocks the
    /p/1 prefix family."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=False)
    rules = spark.sql(blocklist_op.robots_rules_sql(sd.SPARK))
    return blocklist_op.robots_filter(p, rules).select("doc_id", "host")


@register(
    "crawl_budget_enforce",
    blocklist_op.crawl_budget_oracle_sql(
        D, pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)
    ),
)
def q_crawl_budget_enforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host politeness quota: at most 20 pages admitted per host
    per hour, earliest captures first — WindowGroupLimit keeps a
    partial top-k per map task, so the h0 volume skew (1/3 of the
    corpus on one host) stays bounded at the shuffle."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=False)
    return blocklist_op.crawl_budget_enforce(p)


from ..operators import ngramlm as ngramlm_op  # noqa: E402


@register("ngram_lm_model", ngramlm_op.model_oracle_sql(D))
def q_ngram_lm_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-TRAINED bigram LM (vs the fixed spec table the
    perplexity UDF ships): unigram + bigram counts are each one
    two-phase agg; the conditional log-prob is ln() over an exact
    integer ratio, so the DuckDB oracle re-derives the whole model
    and hashes equal. Min-count pruning bounds the model for the
    broadcast path at scale."""
    docs = load_table(spark, sf_dir, "documents")
    toked = ngramlm_op.with_tokens(docs)
    uni = ngramlm_op.train_unigrams(toked)
    model = ngramlm_op.train_bigrams(ngramlm_op.with_bigrams(toked), uni)
    return model.select(
        "w1", "w2", "c12", "c1", F.round("logprob", 6).alias("logprob")
    )


_CCNET_FILTER_ORACLE = f"""
SELECT b.doc_id, b.lang, b.ppl_bucket
FROM ({ngramlm_op.ccnet_buckets_oracle_sql(D)}) b
JOIN ({{keep}}) k ON b.doc_id = k.doc_id
WHERE b.ppl_bucket <> 'tail' AND k.keep
""".strip()


@register(
    "ccnet_filter_pipeline",
    _CCNET_FILTER_ORACLE.format(keep=quality.keep_sql(D)),
)
def q_ccnet_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed CCNet-style admission: a doc ships iff it's in
    the head/middle fluency buckets of its language (trained-LM ppl
    tertiles) AND passes the heuristic keep battery. The bucket side
    is the windowed rollup; the keep side is pure codegen on the same
    scan — joined on doc_id (broadcastable: the bucket relation is
    3 columns)."""
    docs = load_table(spark, sf_dir, "documents")
    buckets = ngramlm_op.ccnet_ppl_buckets(docs)
    keep = quality.with_keep(quality.with_signals(docs)).select("doc_id", "keep")
    return (
        buckets.where(F.col("ppl_bucket") != "tail")
        .join(keep.where(F.col("keep")), "doc_id")
        .select("doc_id", "lang", "ppl_bucket")
    )


@register("ngram_lm_holdout_eval", ngramlm_op.holdout_eval_oracle_sql(D))
def q_ngram_lm_holdout_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out LM evaluation: train on the deterministic 90% train
    split, report corpus-level perplexity on val and test — the eval
    loop that justifies (or vetoes) shipping a retrained filter
    model. OOV/backoff paths exercise for real on unseen vocab."""
    docs = load_table(spark, sf_dir, "documents")
    return ngramlm_op.holdout_eval(docs)


@register("ngram_lm_score_stream", ngramlm_op.score_oracle_sql(D))
def q_ngram_lm_score_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-trained LM applied to a documents STREAM (stream-static
    broadcast joins, stateless bigram explode, complete-mode rollup).
    Single-batch AvailableNow source over the training corpus ⇒ the
    stream must reproduce the batch perplexity gate exactly — same
    oracle as ngram_lm_perplexity."""
    return streaming_inc.lm_score_stream(
        spark, _staged(load_table(spark, sf_dir, "documents")), _scratch_dir()
    )


@register("ccnet_ppl_buckets", ngramlm_op.ccnet_buckets_oracle_sql(D))
def q_ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail: per-language perplexity tertiles under
    the corpus-trained LM — the bucket-by-fluency split CCNet uses to
    keep head unconditionally and drop tail. Deterministic ntile on
    (6-dp ppl, doc_id)."""
    docs = load_table(spark, sf_dir, "documents")
    return ngramlm_op.ccnet_ppl_buckets(docs)


@register("ngram_lm_perplexity", ngramlm_op.score_oracle_sql(D))
def q_ngram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff perplexity of every doc under the corpus's own
    bigram statistics (the CCNet recipe: fit on the corpus, drop the
    high-ppl tail). Model + vocab broadcast; the only fact shuffles
    are the two training aggs and the per-doc rollup."""
    docs = load_table(spark, sf_dir, "documents")
    return ngramlm_op.score_docs(docs)


from ..operators import clftrain as clftrain_op  # noqa: E402


@register("clf_train_gd", clftrain_op.train_oracle_sql(D))
def q_clf_train_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier TRAINED in-engine: 5 full-batch logistic-GD steps
    distilling the heuristic keep rule (judge) into bounded signal
    features. Each step is one tree-aggregated 6-double gradient; the
    oracle replays the identical trajectory as a CTE chain, so the
    trained weights themselves are hash-gated — not just scores from
    frozen weights."""
    docs = load_table(spark, sf_dir, "documents")
    return clftrain_op.train_report(docs)


# ---------------------------------------------------------------------------
# FineWeb-Edu-style semantic quality admission (cosine to seed centroid)
# ---------------------------------------------------------------------------


@register("edu_centroid_scores", similarity.edu_scores_oracle_sql(D))
def q_edu_centroid_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb-Edu analog: every document scored 0-5 by cosine to the
    centroid of the curated seed exemplars (label=0 vectors), keep at
    int_score >= 3. Centroid train = tiny posexplode agg + 64-row
    collect; scoring = constant-folded literal fold, zero shuffles;
    hydration = one doc_id equi-join. Oracle re-derives the rounded
    centroid, the cosine fold, and the bucket map relationally."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    cent = similarity.train_edu_centroid(emb)
    scored = similarity.edu_scores(emb, cent)
    return scored.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id", "lang", "edu_cosine", "edu_score", "keep"
    )


@register("edu_keep_by_source", similarity.edu_keep_by_source_oracle_sql(D))
def q_edu_keep_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admission KPI over the edu scorer: per-source doc count, kept
    count, keep rate, and mean 0-5 score — the dashboard row a corpus
    curator watches while tuning the threshold. One partial-agg
    shuffle on source after the zero-shuffle scoring projection."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    cent = similarity.train_edu_centroid(emb)
    scored = similarity.edu_scores(emb, cent)
    return (
        scored.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep").cast("bigint")).alias("n_keep"),
            F.round(F.avg(F.col("keep").cast("double")), 6).alias(
                "keep_rate"
            ),
            F.round(F.avg(F.col("edu_score").cast("double")), 6).alias(
                "avg_score"
            ),
        )
    )


_F1_ORACLE = f"""
SELECT * FROM ({quality.f1_report_sql(D)})
UNION ALL
SELECT * FROM ({clftrain_op.f1_oracle_sql(D)})
""".strip()


@register("keepdrop_f1_report", _F1_ORACLE)
def q_keepdrop_f1_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tier's acceptance metric computed in-engine: confusion
    counts + accuracy/precision/recall/F1 vs the heuristic judge
    labels, one row per predictor — the frozen-weight logistic
    stand-in AND the in-engine GD-trained distillation (whose oracle
    replays the whole training trajectory before scoring). Map-side
    integer counts, 1-row reduce per predictor."""
    docs = load_table(spark, sf_dir, "documents")
    return quality.f1_report(docs).unionByName(clftrain_op.f1_vs_judge(docs))


@register("filter_ablation_waterfall", quality.rule_ablation_sql(D))
def q_filter_ablation_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb-paper-style filter-ablation table: per battery rule (in
    spec DROP_REASONS order) the solo drop count, the first-fail
    marginal attribution, cumulative survivors, and survivor rate.
    One corpus scan, 19 integer sums reduced map-side to a single row,
    stack()-unpivoted to six — the cheapest possible shape for a rule
    audit at 10^12 docs (cf. the ablation tables driving threshold
    choices in the FineWeb pipeline the reference feeds on,
    /root/reference/filter.py:50)."""
    docs = load_table(spark, sf_dir, "documents")
    return quality.rule_ablation(docs)


@register("clf_holdout_eval", clftrain_op.holdout_f1_oracle_sql(D))
def q_clf_holdout_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalization check for the in-engine-trained classifier:
    fit ONLY on the deterministic 90% train split (z-score stats and
    gradients both train-split-scoped), then report confusion + F1 per
    split. The val/test rows justify shipping the retrained filter the
    way held-out perplexity does for the LM gate."""
    docs = load_table(spark, sf_dir, "documents")
    return clftrain_op.holdout_f1(docs)


_SCRUB_STATS_ORACLE = scrub.scrub_stats_sql(
    D,
    table=f"({pages_mod.pages_select_sql(D, with_html=False)}) p",
    by="regexp_extract(url, 'https://([^./]+)', 1) AS host",
)


@register("scrub_stats", _SCRUB_STATS_ORACLE)
def q_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub-stage metrics rows (north star: the scrub pass emits
    metrics, not just rewritten text): per-host docs scanned/modified
    + hit counts per PII category over the skewed pages corpus,
    counted as placeholder occurrences in the final text via integer
    string algebra. One codegen projection + one partial-agg
    shuffle."""
    p = pages_mod.load_pages(spark, sf_dir, with_html=False).withColumn(
        "host", F.regexp_extract("url", r"https://([^./]+)", 1)
    )
    return scrub.scrub_stats(p, by="host")


@register("clf_calibration", quality.calibration_sql(D))
def q_clf_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the classifier: per score-decile mean
    predicted keep probability vs empirical judge keep rate + gap —
    calibration is a separate failure mode from discrimination
    (keepdrop_f1_report). Integer ppm buckets, one partial-agg
    shuffle over ≤10 groups."""
    docs = load_table(spark, sf_dir, "documents")
    return quality.calibration_report(docs)


# ---------------------------------------------------------------------------
# Full curation decision record: every admission family in ONE row/doc
# ---------------------------------------------------------------------------

from ..operators import curation  # noqa: E402
from ..operators import decontam as decontam_op  # noqa: E402

_CUR_GRAMS_CORPUS = decontam_op._gram_sets_expr(
    decontam_op.N_DECONTAM, D
).replace(
    "__T__", "(SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0)"
)
_CUR_GRAMS_BENCH = decontam_op._gram_sets_expr(
    decontam_op.N_DECONTAM, D
).replace(
    "__T__", "(SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0)"
)

_CURATION_ORACLE = f"""
WITH qk AS ({quality.keep_sql(D)}),
{similarity.edu_scores_ctes(D)},
h AS (SELECT doc_id, md5(text) AS th FROM documents),
mins AS (SELECT th, min(doc_id) AS keeper FROM h GROUP BY th),
canon AS (SELECT h.doc_id, h.doc_id = m.keeper AS is_canonical
          FROM h JOIN mins m ON h.th = m.th),
corpus_sets AS ({_CUR_GRAMS_CORPUS}),
bench_sets AS ({_CUR_GRAMS_BENCH}),
bench AS (SELECT DISTINCT unnest(grams) AS g FROM bench_sets),
cont AS (
  SELECT DISTINCT cs.doc_id
  FROM (SELECT doc_id, unnest(grams) AS g FROM corpus_sets) cs
  JOIN bench b ON b.g = cs.g
),
rep AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 97 = 0 THEN 'benchmark_doc'
              WHEN NOT qk.keep THEN qk.drop_reason
              WHEN NOT coalesce(e.keep, TRUE) THEN 'low_edu_score'
              WHEN NOT c.is_canonical THEN 'duplicate'
              WHEN ct.doc_id IS NOT NULL THEN 'contaminated'
              ELSE NULL END AS reason,
         qk.keep AS q_keep,
         coalesce(e.keep, TRUE) AS edu_keep,
         c.is_canonical,
         ct.doc_id IS NOT NULL AS contaminated
  FROM documents d
  JOIN qk ON qk.doc_id = d.doc_id
  LEFT JOIN bucketed e ON e.doc_id = d.doc_id
  JOIN canon c ON c.doc_id = d.doc_id
  LEFT JOIN cont ct ON ct.doc_id = d.doc_id
)
SELECT doc_id, reason IS NULL AS final_keep, q_keep, edu_keep,
       is_canonical, contaminated, reason
FROM rep
""".strip()


@register("full_curation_report", _CURATION_ORACLE)
def q_full_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One decision record per document joining EVERY admission
    family; the first failing stage names the reason, fixed
    precedence in both dialects."""
    return curation.curation_record(spark, sf_dir)


_FUNNEL_ORACLE = f"""
WITH cur AS (
{_CURATION_ORACLE}
)
SELECT CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN reason IS NULL OR reason <> 'benchmark_doc' THEN 1 ELSE 0 END) AS BIGINT) AS after_holdout,
       CAST(sum(CASE WHEN (reason IS NULL OR reason <> 'benchmark_doc') AND q_keep THEN 1 ELSE 0 END) AS BIGINT) AS after_quality,
       CAST(sum(CASE WHEN (reason IS NULL OR reason <> 'benchmark_doc') AND q_keep AND edu_keep THEN 1 ELSE 0 END) AS BIGINT) AS after_edu,
       CAST(sum(CASE WHEN (reason IS NULL OR reason <> 'benchmark_doc') AND q_keep AND edu_keep AND is_canonical THEN 1 ELSE 0 END) AS BIGINT) AS after_dedup,
       CAST(sum(CASE WHEN final_keep THEN 1 ELSE 0 END) AS BIGINT) AS admitted
FROM cur
""".strip()


@register("curation_funnel", _FUNNEL_ORACLE)
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel KPI: documents surviving each successive
    admission stage (holdout → quality → edu → dedup → decontam) as
    ONE integer row — the yield dashboard a corpus owner reads before
    anything else. Pure boolean algebra over the decision record; one
    1-row reduce."""
    rec = curation.curation_record(spark, sf_dir)
    not_bench = F.col("reason").isNull() | (
        F.col("reason") != F.lit("benchmark_doc")
    )
    s2 = not_bench & F.col("q_keep")
    s3 = s2 & F.col("edu_keep")
    s4 = s3 & F.col("is_canonical")
    return rec.agg(
        F.count("*").alias("n_total"),
        F.sum(not_bench.cast("long")).alias("after_holdout"),
        F.sum(s2.cast("long")).alias("after_quality"),
        F.sum(s3.cast("long")).alias("after_edu"),
        F.sum(s4.cast("long")).alias("after_dedup"),
        F.sum(F.col("final_keep").cast("long")).alias("admitted"),
    )


@register("scrub_stats_stream", _SCRUB_STATS_ORACLE)
def q_scrub_stats_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scrub-metrics dashboard fed by a pages STREAM: stateless
    codegen scrub per row, complete-mode per-host counts (state
    bounded by host cardinality). Single-batch AvailableNow ⇒ must
    hash-equal the batch scrub_stats oracle."""
    return streaming_inc.scrub_stats_stream(
        spark,
        _staged(pages_mod.load_pages(spark, sf_dir, with_html=False)),
        _scratch_dir(),
    )


_EDU_STREAM_ORACLE = f"""
WITH {similarity.edu_scores_ctes(D)}
SELECT doc_id, edu_cosine, edu_score, keep FROM bucketed
""".strip()


@register("edu_score_stream", _EDU_STREAM_ORACLE)
def q_edu_score_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-trained seed centroid applied to an embeddings STREAM —
    stateless row-local literal fold, append mode, zero stream state.
    Single-batch AvailableNow source ⇒ the stream must reproduce the
    batch edu scoring exactly (same CTE oracle, no docs join)."""
    return streaming_inc.edu_score_stream(
        spark, _staged(load_table(spark, sf_dir, "embeddings")), _scratch_dir()
    )


@register("ncm_assign", similarity.ncm_assign_oracle_sql(D))
def q_ncm_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-class-mean (Rocchio) assignment: one centroid per
    exemplar label, every vector assigned to its argmax-cosine class
    — the topic/domain bucket classifier a curator mixes over.
    Training = k×64-row collect; assignment = k literal folds per
    row, zero shuffle; ties break to the smallest label on both
    engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.train_class_centroids(emb)
    return similarity.ncm_assign(emb, cents)


@register(
    "edu_importance_sample", similarity.edu_importance_sample_oracle_sql(D)
)
def q_edu_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic importance resampling: accept with probability
    (edu_cosine+1)/2 via the deterministic md5 coin — the soft-filter
    alternative to the hard edu threshold, integer-ppm compare so no
    float boundary flips a decision. Zero shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = similarity.train_edu_centroid(emb)
    return similarity.edu_importance_sample(emb, cent)


_NCM_OUTLIER_K = 5

_NCM_OUTLIERS_ORACLE = f"""
WITH {similarity.ncm_ctes(D)},
ranked_out AS (
  SELECT vec_id, true_label, pred_label, pred_cos,
         row_number() OVER (PARTITION BY pred_label
                            ORDER BY pred_cos ASC, vec_id ASC) AS orank
  FROM assigned
)
SELECT pred_label, orank, vec_id, true_label, pred_cos
FROM ranked_out WHERE orank <= {_NCM_OUTLIER_K}
""".strip()


@register("ncm_outliers", _NCM_OUTLIERS_ORACLE)
def q_ncm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class outlier report: the k members FARTHEST from their
    assigned class mean (lowest cosine, vec_id tie) — the
    mislabeled/noisy-document finder a curator triages. WindowGroupLimit
    keeps a partial bottom-k per map task; only k×classes rows
    survive the shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.train_class_centroids(emb)
    w = Window.partitionBy("pred_label").orderBy(
        F.asc("pred_cos"), F.asc("vec_id")
    )
    return (
        similarity.ncm_assign(emb, cents)
        .withColumn("orank", F.row_number().over(w))
        .where(F.col("orank") <= _NCM_OUTLIER_K)
        .select("pred_label", "orank", "vec_id", "true_label", "pred_cos")
    )


@register("ncm_confusion", similarity.ncm_confusion_oracle_sql(D))
def q_ncm_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the NCM classifier vs the exemplar labels
    — the class-separability report for the embedding space (one tiny
    agg over the zero-shuffle assignment)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.train_class_centroids(emb)
    return (
        similarity.ncm_assign(emb, cents)
        .groupBy("true_label", "pred_label")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# Built-in session windows (F.session_window), batch + streaming — the
# declarative counterpart of the custom applyInPandasWithState operator.
# NOTE the boundary rule differs from the custom sessionize gates on
# purpose: session_window merges an event iff ts <= last + gap at FULL
# microsecond precision — windows [a, a+gap) MERGE even when they only
# touch (pinned by tests/test_streaming.py::
# test_session_window_boundary_semantics) — while the custom operator
# uses the spec's second-truncated > 1800 rule. Each gate's oracle
# mirrors its own operator's exact rule.
# ---------------------------------------------------------------------------

_SESSION_WINDOW_CTES = """
g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
),
sess AS (
  SELECT user_id, min(ts) AS session_start,
         max(ts) + INTERVAL 30 MINUTE AS session_end,
         count(*) AS n_events
  FROM s GROUP BY user_id, sid
)
""".strip()

_SESSION_WINDOW_ORACLE = f"""
WITH {_SESSION_WINDOW_CTES}
SELECT user_id, session_start, session_end, n_events FROM sess
"""


@register("session_window_agg", _SESSION_WINDOW_ORACLE)
def q_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization via the BUILT-IN session window
    (`F.session_window`, 30-min gap): one hash-agg with session-merge,
    no window functions, no Python — Catalyst's native form of the
    operator the custom sessionize gates implement by hand. window.end
    is last event + gap by definition; the oracle re-derives both
    bounds microsecond-exactly."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


_SESSION_WINDOW_STREAM_ORACLE = f"""
WITH {_SESSION_WINDOW_CTES},
wm AS (
  SELECT (epoch_ms(max(ts)) - 1800000) * 1000 AS wm_us FROM events
)
SELECT user_id, session_start, session_end, n_events
FROM sess, wm WHERE epoch_us(session_end) < wm_us
"""


@register("session_window_stream", _SESSION_WINDOW_STREAM_ORACLE)
def q_session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME built-in session window on a watermarked stream
    (append mode, AvailableNow): Spark's native streaming session
    aggregation merges per-user windows across micro-batches in the
    state store and emits a window once the watermark passes its end.
    Oracle = the batch session relation filtered by that exact
    emission rule (final watermark = max ts − 30 min, ms-truncated)."""
    sessions = (
        _events_file_stream(spark, sf_dir)
        .withWatermark("ts", "30 minutes")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    return streaming_inc.run_to_memory(sessions, "append", _scratch_dir())


# The complement of _SESSION_STREAM_ORACLE's emission rule: what the
# sessionize stream is still HOLDING when the run terminates — each
# user's trailing session whose close timer (last + gap) has not
# passed the final watermark.
_SESSION_STATE_ORACLE = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
), sess AS (
  SELECT user_id, sid, min(ts) AS session_start, max(ts) AS session_end,
         CAST(count(*) AS INT) AS n_events
  FROM s GROUP BY user_id, sid
), marked AS (
  SELECT *, (sid = max(sid) OVER (PARTITION BY user_id)) AS is_final
  FROM sess
), wm AS (
  SELECT epoch_ms(max(ts)) - 1800000 AS wm_ms FROM events
)
SELECT user_id, session_start, session_end, n_events
FROM marked, wm
WHERE is_final AND epoch_ms(session_end) + 1800000 >= wm_ms
"""


@register("session_state_inspect", _SESSION_STATE_ORACLE)
def q_session_state_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational state inspection: run the stateful sessionize
    stream, then read its LIVE state store back through Spark 4's
    `statestore` data source — the on-call view of what a stateful
    query is buffering. The oracle derives the exact expected state
    (open trailing sessions, the complement of the emitted set), so
    this gate pins BOTH the state layout and the eviction rule."""
    ckpt = _scratch_dir()
    streaming_inc.run_to_memory(
        streaming_sess.sessionize_stream(_events_file_stream(spark, sf_dir)),
        "append",
        ckpt,
    )
    return streaming_sess.read_session_state(spark, ckpt)


# ---------------------------------------------------------------------------
# Recursive CTE (Spark 4 WITH RECURSIVE): redirect-chain collapse —
# the crawl-frontier operator that folds 301-chains onto their final
# target before URL dedup. The chain relation is acyclic by
# construction (every hop strictly increases doc_id), so UNION ALL
# recursion terminates; the IDENTICAL SQL text runs on both engines.
# ---------------------------------------------------------------------------

_REDIRECT_CHAINS_SQL = """
WITH RECURSIVE edges AS (
  SELECT doc_id AS src, doc_id + 1 AS dst
  FROM documents WHERE doc_id % 11 < 7
),
hop AS (
  SELECT src AS origin, dst AS cur, 1 AS depth FROM edges
  UNION ALL
  SELECT h.origin, e.dst, h.depth + 1
  FROM hop h JOIN edges e ON e.src = h.cur
)
SELECT origin AS src_doc_id, max(cur) AS final_doc_id,
       CAST(max(depth) AS INT) AS n_hops
FROM hop GROUP BY origin
"""


@register("redirect_chains", _REDIRECT_CHAINS_SQL)
def q_redirect_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE on Spark 4: resolve synthetic redirect chains
    (doc_id → doc_id+1 while doc_id % 11 < 7, chains up to 7 hops) to
    their final target + hop count. Declarative iteration — the same
    class of computation dedup_clusters does with a driver loop — and
    the oracle is the VERBATIM same SQL text on DuckDB. At scale each
    recursion step is one shuffle join on the (narrow) frontier
    relation only; the bulk corpus is never rescanned."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_REDIRECT_CHAINS_SQL)


# ---------------------------------------------------------------------------
# UNPIVOT / melt (df.unpivot ⇄ UNION-ALL oracle): wide metrics → long
# ---------------------------------------------------------------------------

_QUALITY_UNPIVOT_ORACLE = """
WITH wide AS (
  SELECT source, CAST(count(*) AS DOUBLE) AS n_docs,
         round(avg(n_chars), 6) AS avg_chars,
         CAST(max(n_chars) AS DOUBLE) AS max_chars
  FROM documents GROUP BY source
)
SELECT source, 'n_docs' AS metric, n_docs AS value FROM wide
UNION ALL
SELECT source, 'avg_chars' AS metric, avg_chars AS value FROM wide
UNION ALL
SELECT source, 'max_chars' AS metric, max_chars AS value FROM wide
"""


@register("quality_unpivot", _QUALITY_UNPIVOT_ORACLE)
def q_quality_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt via the native UNPIVOT operator (df.unpivot):
    per-source corpus metrics as (source, metric, value) rows — the
    shape every metrics dashboard ingests. One agg + a zero-shuffle
    Expand node; the oracle is the portable UNION-ALL rendering."""
    docs = load_table(spark, sf_dir, "documents")
    wide = docs.groupBy("source").agg(
        F.count("*").cast("double").alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.max("n_chars").cast("double").alias("max_chars"),
    )
    return wide.unpivot(
        "source", ["n_docs", "avg_chars", "max_chars"], "metric", "value"
    )


# ---------------------------------------------------------------------------
# dropDuplicatesWithinWatermark: the BOUNDED-STATE streaming dedup.
# Plain dropDuplicates(url) keeps every key forever (state = all urls
# ever seen); keying by (url, ts) bounds state but stops dropping
# recrawls whose timestamp differs. WithinWatermark drops duplicate
# KEYS regardless of event-time difference while holding each key
# only until the watermark passes it — the production recrawl-dedup.
# ---------------------------------------------------------------------------

_URL_WM_DEDUP_ORACLE = f"""
WITH pages AS ({pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)})
SELECT DISTINCT {urldedup.normalize_sql("url", sd.DUCKDB)} AS norm_url
FROM pages
"""


@register("url_dedup_within_wm_stream", _URL_WM_DEDUP_ORACLE)
def q_url_dedup_within_wm_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming recrawl dedup via dropDuplicatesWithinWatermark:
    the feed is every page plus a re-spelled RECRAWL of every 4th page
    two hours later (different url spelling AND different event time —
    the case the (key, ts)-keyed form cannot drop). Normalized key,
    1-day watermark ⇒ every recrawl lands inside the dedup horizon, so
    the emitted key set is exactly the batch DISTINCT the oracle runs.
    Which physical row wins is order-dependent, so the gate emits only
    norm_url; cross-micro-batch drops are asserted in
    tests/test_streaming.py."""
    pages_mod.load_pages(spark, sf_dir, with_html=False).createOrReplaceTempView(
        "pages_wmdd"
    )
    feed = spark.sql(
        """
        SELECT url, warc_ts FROM pages_wmdd
        UNION ALL
        SELECT 'http://www.' || substr(url, 9) || '/?utm_source=recrawl'
                 AS url,
               warc_ts + INTERVAL 2 HOUR AS warc_ts
        FROM pages_wmdd WHERE doc_id % 4 = 0
        """
    )
    stream = streaming_inc.file_stream(spark, _staged(feed))
    out = (
        urldedup.with_norm_url(stream.withWatermark("warc_ts", "1 day"))
        .select("norm_url", "warc_ts")
        .dropDuplicatesWithinWatermark(["norm_url"])
        .select("norm_url")
    )
    return streaming_inc.run_to_memory(out, "append", _scratch_dir())


# Stream-stream LEFT OUTER interval join: the unconverted-views
# report. Matches emit as found; a view with NO purchase inside the
# horizon emits with null target columns only once the JOINT watermark
# (min of both sides' max event time − delay) passes view_ts + horizon
# and evicts it from join state — the oracle re-derives that eviction
# rule exactly.
_ATTRIB_OUTER_ORACLE = """
WITH v AS (
  SELECT event_id AS view_id, user_id, ts AS view_ts
  FROM events WHERE event_type = 'view'
), p AS (
  SELECT event_id AS purchase_id, user_id AS p_user_id,
         ts AS purchase_ts, value
  FROM events WHERE event_type = 'purchase'
), wm AS (
  SELECT least((SELECT epoch_ms(max(view_ts)) FROM v),
               (SELECT epoch_ms(max(purchase_ts)) FROM p))
         - 3600000 AS wm_ms
)
SELECT v.user_id, v.view_id, p.purchase_id,
       date_diff('second', v.view_ts, p.purchase_ts) AS lag_s,
       round(p.value, 6) AS purchase_value
FROM v JOIN p ON p.p_user_id = v.user_id
 AND p.purchase_ts >= v.view_ts
 AND p.purchase_ts <= v.view_ts + INTERVAL 30 MINUTE
UNION ALL
SELECT v.user_id, v.view_id, CAST(-1 AS BIGINT) AS purchase_id,
       CAST(-1 AS BIGINT) AS lag_s, CAST(-1 AS DOUBLE) AS purchase_value
FROM v, wm
WHERE NOT EXISTS (
    SELECT 1 FROM p WHERE p.p_user_id = v.user_id
      AND p.purchase_ts >= v.view_ts
      AND p.purchase_ts <= v.view_ts + INTERVAL 30 MINUTE)
  AND epoch_us(v.view_ts + INTERVAL 30 MINUTE) < wm.wm_ms * 1000
"""


@register("attrib_unconverted_stream", _ATTRIB_OUTER_ORACLE)
def q_attrib_unconverted_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The attribution join as a watermarked stream-stream LEFT OUTER
    join: converted views emit their (purchase, lag) rows as found;
    unconverted views emit null-target rows on state eviction. Same
    bounded-state shape as the inner form — the outer side only adds
    the eviction-timed null emission the oracle mirrors."""
    out = streaming_inc.attribution_join_stream(
        spark,
        _staged(load_table(spark, sf_dir, "events")),
        _scratch_dir(),
        how="left_outer",
    )
    # -1 sentinels: nullable int columns degrade to float64 through the
    # gate's pandas fetch (same convention as docs_embeddings_full_outer)
    return out.select(
        "user_id",
        "view_id",
        F.coalesce("purchase_id", F.lit(-1)).alias("purchase_id"),
        F.coalesce("lag_s", F.lit(-1)).alias("lag_s"),
        F.coalesce("purchase_value", F.lit(-1.0)).alias("purchase_value"),
    )


@register("arrow_ipc_writer_roundtrip", _ARROW_IPC_ORACLE)
def q_arrow_ipc_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE side of the Python Data Source: documents →
    `df.write.format("arrow_ipc")` (DataSourceArrowWriter: each task
    streams its RecordBatches to a tmp shard, driver commit renames to
    HF-style names — publish-by-rename, torn runs invisible) → read
    back through the same registered format. Round-trip must be
    lossless vs the parquet original (same oracle as both scan
    gates)."""
    from ..sources import arrow_ipc

    out = _scratch_dir()
    arrow_ipc.register_arrow_ipc_datasource(spark)
    docs = load_table(spark, sf_dir, "documents")
    docs.repartition(4).write.format("arrow_ipc").mode("overwrite").save(out)
    df = spark.read.format("arrow_ipc").load(out)
    return df.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("n_chars"),
        F.sum("doc_id").alias("id_sum"),
    )


# Explicit GROUPING SETS — the non-hierarchical grouping-set list
# ((source),(lang)) that neither cube nor rollup can express; the
# same SQL text runs verbatim on both engines.
_GROUPING_SETS_SQL = """
SELECT source, lang, count(*) AS n_docs,
       CAST(grouping(source) AS INT) AS g_source,
       CAST(grouping(lang) AS INT) AS g_lang
FROM documents
GROUP BY GROUPING SETS ((source), (lang))
"""


@register("summary_grouping_sets", _GROUPING_SETS_SQL)
def q_summary_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY GROUPING SETS ((source),(lang)): two independent
    marginal aggregates in ONE scan + Expand — completes the
    cube/rollup family with the arbitrary-set form; grouping() flags
    disambiguate real NULL groups from subtotal rows."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_GROUPING_SETS_SQL)


# ---------------------------------------------------------------------------
# WARC / WET container format (ISO 28500 — the Common Crawl wire format)
# ---------------------------------------------------------------------------

# The fixture serializes the SAME deterministic pages corpus into WARC
# response records, so the scan + extraction must reproduce the pages
# derivation byte-for-byte — url, WARC-Date, http status, and the
# extracted text's md5 all at once.
_WARC_SCAN_ORACLE = f"""
WITH pages AS ({pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)})
SELECT url, strftime(warc_ts, '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
       200 AS http_status, md5(text) AS text_md5
FROM pages
"""


def _warc_fixture(sf_dir: str, compress: bool, linked: bool = False) -> str:
    from ..sources import warc as warc_mod

    out = _scratch_dir()
    warc_mod.write_warc_shards(
        table_path(sf_dir, "documents"), out, n_shards=4,
        compress=compress, linked=linked,
    )
    return out


def _warc_scan_extracted(spark: SparkSession, sf_dir: str, compress: bool):
    from ..operators import extract
    from ..sources import warc as warc_mod

    crawl = warc_mod.read_warc(spark, _warc_fixture(sf_dir, compress))
    return extract.with_extracted_text(crawl)


@register("warc_scan_extract", _WARC_SCAN_ORACLE)
def q_warc_scan_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-WARC response scan (one task per shard, Content-Length-
    driven parser) → html payload → tag-strip extraction: the full
    crawl→text entry path, hash-gated per url against the pages
    derivation the fixture was serialized from."""
    ex = _warc_scan_extracted(spark, sf_dir, compress=False)
    return ex.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("warc_date"),
        "http_status",
        F.md5("extracted_text").alias("text_md5"),
    )


@register("warc_gz_scan_extract", _WARC_SCAN_ORACLE)
def q_warc_gz_scan_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same scan over `.warc.gz` shards laid out the Common Crawl
    way — one gzip member PER RECORD, members concatenated — proving
    the compressed path byte-equivalent to the plain one."""
    ex = _warc_scan_extracted(spark, sf_dir, compress=True)
    return ex.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("warc_date"),
        "http_status",
        F.md5("extracted_text").alias("text_md5"),
    )


_WET_ROUNDTRIP_ORACLE = f"""
WITH pages AS ({pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)})
SELECT url, strftime(warc_ts, '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
       md5(text) AS text_md5
FROM pages
"""


@register("wet_export_roundtrip", _WET_ROUNDTRIP_ORACLE)
def q_wet_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC → extract → distributed WET export (per-task shard +
    publish-by-rename commit, gzip members) → WET scan: the
    extracted-text product round-trips losslessly through the
    conversion-record container."""
    from ..sources import warc as warc_mod

    ex = _warc_scan_extracted(spark, sf_dir, compress=True)
    wet_dir = _scratch_dir()
    warc_mod.write_wet_shards(
        ex.select("url", "warc_ts", F.col("extracted_text").alias("text")),
        wet_dir,
        compress=True,
    )
    wet = warc_mod.read_wet(spark, wet_dir)
    return wet.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("warc_date"),
        F.md5("text").alias("text_md5"),
    )


# --- WAT metadata records (the third CC product: per-page outlinks) ---

# Both WAT gates run over a LINKED crawl fixture — html carries the
# same planted outlinks linked_pages_sql derives in SQL, so the oracle
# re-derives link structure straight from the SQL html while Spark
# goes crawl-bytes → with_links → WAT shards → scan.
_WAT_LINK_RE_SQL = 'href="(https://[^"]+)"[^>]*>([^<]*)<'

_WAT_ROUNDTRIP_ORACLE = f"""
WITH pages AS ({pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)}),
linked AS ({linkgraph_op.linked_pages_sql(sd.DUCKDB, 'pages')})
SELECT p.url, strftime(p.warc_ts, '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
       CAST(len(regexp_extract_all(l.html, '{_WAT_LINK_RE_SQL}', 1)) AS BIGINT)
           AS n_links,
       md5(array_to_string(
           regexp_extract_all(l.html, '{_WAT_LINK_RE_SQL}', 1), '|'))
           AS link_urls_md5,
       md5(array_to_string(
           regexp_extract_all(l.html, '{_WAT_LINK_RE_SQL}', 2), '|'))
           AS anchors_md5
FROM linked l JOIN pages p USING (doc_id)
"""


def _wat_from_crawl(spark: SparkSession, sf_dir: str):
    """linked WARC fixture → with_links → WAT export → WAT scan."""
    from ..sources import warc as warc_mod

    crawl = warc_mod.read_warc(
        spark, _warc_fixture(sf_dir, compress=True, linked=True)
    )
    linked = linkgraph_op.with_links(crawl)
    wat_dir = _scratch_dir()
    warc_mod.write_wat_shards(
        linked.select("url", "warc_ts", "links"), wat_dir, compress=True
    )
    return warc_mod.read_wat(spark, wat_dir)


@register("wat_export_roundtrip", _WAT_ROUNDTRIP_ORACLE)
def q_wat_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl → one-codegen-pass link extraction (with_links) →
    distributed WAT export (JSON metadata envelopes, rename-publish)
    → WAT scan: per-url link lists (URLs AND anchor texts, document
    order) survive the container byte-exactly."""
    wat = _wat_from_crawl(spark, sf_dir)
    return wat.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("warc_date"),
        F.size("links").cast("bigint").alias("n_links"),
        F.md5(F.concat_ws("|", F.expr("transform(links, x -> x.url)")))
            .alias("link_urls_md5"),
        F.md5(F.concat_ws("|", F.expr("transform(links, x -> x.text)")))
            .alias("anchors_md5"),
    )


_WAT_EDGES_ORACLE = f"""
WITH pages AS ({pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)}),
linked AS ({linkgraph_op.linked_pages_sql(sd.DUCKDB, 'pages')}),
hrefs AS (
  SELECT regexp_extract(url, 'https://([^/]+)', 1) AS src,
         unnest(regexp_extract_all(html, 'href="https://([^/"]+)', 1)) AS dst
  FROM linked
)
SELECT src, dst, CAST(count(*) AS BIGINT) AS w
FROM hrefs GROUP BY src, dst
"""


@register("wat_host_edges", _WAT_EDGES_ORACLE)
def q_wat_host_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-granular weighted edge list built FROM THE WAT PRODUCT —
    at CC scale the link graph is always built from WAT (a ~10×
    smaller scan than re-parsing WARC html); oracle re-derives the
    same edges straight from the html, proving the metadata sidecar
    carries the full graph."""
    wat = _wat_from_crawl(spark, sf_dir)
    return (
        wat.select(
            F.regexp_extract("url", "https://([^/]+)", 1).alias("src"),
            F.explode("links").alias("l"),
        )
        .select(
            "src",
            F.regexp_extract(F.col("l.url"), "https://([^/]+)", 1).alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )


@register("warc_datasource_scan", _WARC_SCAN_ORACLE)
def q_warc_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl scan through the PySpark-4 Python Data Source API:
    registered `warc` format, one InputPartition per shard — must
    agree byte-for-byte with the mapInPandas scan (same oracle as
    `warc_scan_extract`)."""
    from ..operators import extract
    from ..sources import warc as warc_mod

    warc_mod.register_warc_datasource(spark)
    crawl = spark.read.format("warc").load(
        _warc_fixture(sf_dir, compress=True)
    )
    ex = extract.with_extracted_text(crawl)
    return ex.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("warc_date"),
        "http_status",
        F.md5("extracted_text").alias("text_md5"),
    )


@register("warc_stream_ingest", _WARC_SCAN_ORACLE)
def q_warc_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous crawl ingestion: `readStream.format(\"warc\")` with
    shard-count offsets (each micro-batch reads only newly published
    shards, checkpoint-resumable, exactly-once at file granularity),
    drained availableNow into a memory sink — the streaming scan must
    hash-equal the batch derivation."""
    from ..operators import extract
    from ..sources import warc as warc_mod

    warc_mod.register_warc_datasource(spark)
    crawl = spark.readStream.format("warc").load(
        _warc_fixture(sf_dir, compress=True)
    )
    ex = extract.with_extracted_text(crawl).select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("warc_date"),
        "http_status",
        F.md5("extracted_text").alias("text_md5"),
    )
    return streaming_inc.run_to_memory(ex, "append", _scratch_dir())


# --- CDX point lookup (ranged reads into the crawl, never a scan) ---

_CDX_FETCH_ORACLE = f"""
WITH pages AS ({pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)})
SELECT url, 200 AS http_status, md5(text) AS text_md5
FROM pages WHERE doc_id % 17 = 0
"""


@register("cdx_point_fetch", _CDX_FETCH_ORACLE)
def q_cdx_point_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the CDX url index over gzip WARC shards (distributed,
    one streaming pass per shard), publish it sorted, then fetch an
    arbitrary url subset by seek+read of EXACTLY the indexed gzip
    members — the 100 TB random-access contract — and prove the
    fetched pages extract byte-identically to the corpus derivation."""
    from ..operators import extract
    from ..sources import cdx as cdx_mod

    warc_dir = _warc_fixture(sf_dir, compress=True)
    cdx_dir = _scratch_dir()
    cdx_mod.write_cdx(cdx_mod.build_cdx(spark, warc_dir), cdx_dir)
    wanted = cdx_mod.read_cdx(spark, cdx_dir).where(
        F.expr(
            "CAST(regexp_extract(url, '/p/([0-9]+)$', 1) AS BIGINT) % 17 = 0"
        )
    )
    fetched = cdx_mod.fetch_records(wanted)
    return extract.with_extracted_text(fetched).select(
        "url",
        "http_status",
        F.md5("extracted_text").alias("text_md5"),
    )


def _surt_oracle() -> str:
    from ..sources import cdx as cdx_mod

    return f"""
WITH pages AS ({pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)})
SELECT url, {cdx_mod.surt_sql('url', sd.DUCKDB)} AS surt FROM pages
"""


@register("cdx_surt_keys", _surt_oracle())
def q_cdx_surt_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURT sort keys (reversed host labels — the CDX publication
    order, making per-host and per-domain index slices contiguous)
    rendered identically by both engines for every corpus url."""
    from ..sources import cdx as cdx_mod

    pages = pages_mod.load_pages(spark, sf_dir, with_html=False)
    return cdx_mod.with_surt(pages.select("url"))


# ---------------------------------------------------------------------------
# Corpus reweighting (DSIR, DoReMi) + unicode normalization scrub
# ---------------------------------------------------------------------------


@register("dsir_importance_weights", reweight.dsir_weights_sql(D))
def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (arXiv:2302.03169) hashed-unigram importance log-weights
    vs the in-domain proxy subset, in exact integer micro-nats: the
    bucket log-ratio table (≤256 rows) broadcasts onto the token
    stream; per-row floats are micro-quantized BEFORE every cross-row
    sum so both engines aggregate order-free integers."""
    docs = load_table(spark, sf_dir, "documents")
    return reweight.with_dsir_weights(docs)


@register("domain_reweight_doremi", reweight.domain_reweight_sql(D))
def q_domain_reweight_doremi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi (arXiv:2305.10429) domain mixture weights in their
    static-excess-loss closed form — softmax over per-source excess
    softplus loss of the deterministic quality classifier. One
    signals pass + one groupBy(source); all post-agg math runs on the
    K-row domain relation."""
    docs = load_table(spark, sf_dir, "documents")
    return reweight.domain_reweight(docs)


_NFC_ORACLE = f"""
WITH raw AS (
  SELECT doc_id, coalesce(text, '') || '{scrub.NFC_PROBE}' AS raw_text
  FROM documents
),
n AS (
  SELECT doc_id, raw_text, nfc_normalize(raw_text) AS nfc_text FROM raw
)
SELECT doc_id, md5(nfc_text) AS nfc_md5,
       CAST(length(raw_text) - length(nfc_text) AS BIGINT) AS composed_delta,
       nfc_text <> raw_text AS changed
FROM n
""".strip()


@register("unicode_nfc_scrub", _NFC_ORACLE)
def q_unicode_nfc_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC canonical composition as a scrub stage (the CCNet
    normalize-before-hash step), byte-exact md5-gated across two
    UNRELATED NFC implementations: a vectorized Arrow pandas UDF over
    Python's unicodedata vs DuckDB's utf8proc nfc_normalize. A
    decomposed-e+COMBINING-ACUTE probe (plus NFKC-only forms that
    must survive) is appended so the all-ASCII fixture provably
    exercises composition."""
    docs = load_table(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")), F.lit(scrub.NFC_PROBE)
        ).alias("raw_text"),
    )
    out = scrub.with_nfc(raw, "raw_text", "nfc_text")
    return out.select(
        "doc_id",
        F.md5("nfc_text").alias("nfc_md5"),
        (F.length("raw_text") - F.length("nfc_text"))
        .cast("bigint")
        .alias("composed_delta"),
        (F.col("nfc_text") != F.col("raw_text")).alias("changed"),
    )


def _lsh_recall_oracle() -> str:
    from ..operators import dedup as dedup_mod

    truth = dedup_mod.ngram_jaccard_oracle_sql(D)
    cand = dedup_mod.lsh_pairs_oracle_sql(D)
    return f"""
WITH truth AS (SELECT doc_a, doc_b FROM ({truth}) t),
cand AS (SELECT doc_a, doc_b FROM ({cand}) c),
hit AS (SELECT doc_a, doc_b FROM truth INTERSECT SELECT doc_a, doc_b FROM cand)
SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
       (SELECT COUNT(*) FROM cand) AS n_candidates,
       (SELECT COUNT(*) FROM hit) AS n_hit,
       round(CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
             / (SELECT COUNT(*) FROM truth), 6) AS recall,
       round(CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
             / (SELECT COUNT(*) FROM cand), 6) AS candidate_precision
""".strip()


@register("lsh_recall_report", _lsh_recall_oracle())
def q_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-quality evaluation: recall of the MinHash-LSH candidate
    generator against the EXACT Jaccard≥4/5 ground truth (derived by
    the prefix-filter join, which is provably complete), plus
    candidate precision. The report a dedup operator reads before
    trusting banded LSH at 100 TB — both sides are bucketed plans, so
    the evaluation itself never goes all-pairs; counts are integers
    and the two ratios divide integers once."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    corpus = spark.sql(dedup.corpus_with_near_dups_sql(sd.SPARK))
    truth = dedup.ngram_jaccard_pairs(corpus).select("doc_a", "doc_b")
    cand = dedup.lsh_pairs(corpus).select("doc_a", "doc_b")
    hit = truth.join(cand, ["doc_a", "doc_b"])
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    nc = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    nh = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        nt.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nh))
        .select(
            "n_truth",
            "n_candidates",
            "n_hit",
            F.round(
                F.col("n_hit").cast("double") / F.col("n_truth"), 6
            ).alias("recall"),
            F.round(
                F.col("n_hit").cast("double") / F.col("n_candidates"), 6
            ).alias("candidate_precision"),
        )
    )


def _host_skew_oracle() -> str:
    from ..operators import layout as layout_mod

    return layout_mod.host_skew_report_sql(
        D, pages_mod.pages_select_sql(sd.DUCKDB, with_html=False)
    )


@register("host_skew_report", _host_skew_oracle())
def q_host_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-path skew planning: per-host page share and the ceil-div
    salt factor that keeps every write task near total/64 rows (the
    fixture's hot host h0 carries ~1/3 of pages and must flag
    is_hot with a >1 salt). Pure integer math on a host-granular
    relation — the corpus aggregates once and never reshuffles."""
    from ..operators import layout as layout_mod

    pages = pages_mod.load_pages(spark, sf_dir, with_html=False)
    return layout_mod.host_skew_report(pages)


@register("dsir_incremental_score", reweight.dsir_incremental_sql(D))
def q_dsir_incremental_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR index lifecycle: the ratio relation trains once on the
    stored corpus; the arriving crawl batch (the shared delta fixture
    the incremental-LSH gate uses) scores via one broadcast join —
    the old corpus is never re-read, and buckets the training corpus
    never saw get the closed-form add-1 unseen default the full
    retrain would assign."""
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    ratio = reweight.train_dsir_ratio(docs)
    delta = spark.sql(dedup.new_crawl_batch_sql(sd.SPARK))
    return reweight.score_with_ratio(delta, ratio)


@register("dsir_score_stream", reweight.dsir_weights_sql(D))
def q_dsir_score_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-trained DSIR ratio index applied to a documents STREAM
    via the constant-folded map-literal fold — per-doc sums run
    inside each row, so the scorer is stateless and append-legal.
    Single-batch AvailableNow source ⇒ the stream must reproduce the
    batch DSIR weights exactly (the oracle IS dsir_weights_sql)."""
    return streaming_inc.dsir_score_stream(
        spark, _staged(load_table(spark, sf_dir, "documents")), _scratch_dir()
    )


def _cluster_safe_split_oracle() -> str:
    from ..operators import split as split_mod

    clusters = dedup.resolve_clusters_oracle_sql(D)
    return f"""
SELECT doc_id, keeper_doc_id,
       {split_mod.split_expr(D, 'keeper_doc_id')} AS split
FROM ({clusters}) c
""".strip()


@register("cluster_safe_split", _cluster_safe_split_oracle())
def q_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test sharding: the split coin hashes
    the duplicate-CLUSTER keeper id, not the document id, so a
    near-dup pair can never straddle train and test (the classic
    eval-contamination bug an id-hash split silently commits on any
    corpus with near-dups). Costs one extra broadcast-sized relation
    over the plain split: the cluster labels already exist from the
    dedup pass."""
    from ..operators import split as split_mod

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    corpus = spark.sql(dedup.corpus_with_near_dups_sql(sd.SPARK))
    pairs = dedup.lsh_pairs(corpus).where(
        F.col("jaccard") >= dedup.DEFAULT_JACCARD
    )
    clusters = dedup.resolve_clusters(pairs, corpus.select("doc_id"))
    return clusters.withColumn(
        "split", F.expr(split_mod.split_expr(sd.SPARK, "keeper_doc_id"))
    )


from ..operators import bpetrain as bpetrain_op  # noqa: E402


@register("bpe_learn_merges", bpetrain_op.merges_oracle_sql(D))
def q_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine BPE tokenizer-merge training (Sennrich et al.): the
    learned merge table (rank, pair, merged, cnt) after K=24 rounds
    over the corpus word-frequency relation — the artifact a subword
    tokenizer ships, learned where the data lives instead of in a
    separate single-node pass (the reference consumes a pre-trained
    HF tokenizer, chunker.py:76; this is its upstream step). ONE
    corpus-scale explode+groupBy(word) shuffle; every merge round is
    an aggregate over the VOCAB-sized relation + a 1-row collect
    (corpus-size-independent — the clftrain GD-loop shape). The
    oracle replays the trajectory as a MATERIALIZED CTE chain with
    the same space-doubling replace, so merge application is
    left-to-right non-overlapping in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    return bpetrain_op.merges_report(spark, docs)


@register("bpe_vocab", bpetrain_op.vocab_oracle_sql(D))
def q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symbol inventory AFTER the K=24 learned merges (symbol,
    n_words, occurrences) — the vocab a tokenizer build emits next to
    its merge table; frequency-weighted so coverage is auditable.
    Same trajectory as bpe_learn_merges; the report is one explode +
    group over the vocab-sized final relation."""
    docs = load_table(spark, sf_dir, "documents")
    return bpetrain_op.vocab_report(docs)


@register("bpe_tokenize_stats", bpetrain_op.tokenize_stats_oracle_sql(D))
def q_bpe_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned tokenizer APPLIED: per-source subword compression
    (n_words, char-level vs post-merge symbol counts, ppm ratio).
    Segmentation is computed once per DISTINCT word on the
    vocab-sized relation, then the corpus pays ONE broadcast join —
    the shape that keeps BPE application corpus-scale-cheap at 10^12
    docs. Train→apply in one gate, like the LM/DSIR lifecycles."""
    docs = load_table(spark, sf_dir, "documents")
    return bpetrain_op.tokenize_stats(docs)


@register("lang_temperature_sample", mixture_op.temperature_oracle_sql(D))
def q_lang_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilingual temperature rebalancing (XLM-R/mC4 p^alpha,
    arXiv:1911.02116): per-language keep rate
    (n_l/n_min)^(alpha-1) — the rarest language keeps 100%, every
    higher-resource language down-samples toward the temperature
    share — applied with a salted deterministic md5 coin. Gate emits
    the audit row (lang, n_docs, rate_num, n_kept). Cost shape: one
    ≤|langs|-group counts agg, rates broadcast back, row-local coin —
    zero corpus shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return mixture_op.temperature_report(docs)


from ..operators import encodingfix as encfix_op  # noqa: E402
from ..operators import seqpack as seqpack_op  # noqa: E402


@register("pack_sequences", seqpack_op.layout_oracle_sql())
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk training layout: every doc's packed
    coordinates (start token offset, first/last sequence id, boundary
    crossings) for a fixed 2048-token context, one independent stream
    per source shard. Pure window arithmetic — exactly reproducible
    by ANSI SQL — while the production path is the two-phase
    distributed prefix sum (`sequence_layout_distributed`, equality
    pytest-enforced) that never global-sorts. The step the reference
    leaves to a downstream trainer; here it runs where the data lives."""
    docs = load_table(spark, sf_dir, "documents")
    return seqpack_op.sequence_layout(docs)


@register("pack_sequences_stats", seqpack_op.stats_oracle_sql())
def q_pack_sequences_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source training-shard report for the packed layout:
    sequence count, docs crossing a boundary, tail padding and fill
    ratio — what a tokenization job logs per output shard. One window
    pass + one ≤|sources|-group aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    return seqpack_op.pack_stats(docs)


@register(
    "pack_sequences_incremental",
    seqpack_op.incremental_oracle_sql(split_doc_id=250),
)
def q_pack_sequences_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental shard append: a new crawl batch (doc_id ≥ 250)
    continues each source's token stream at the STORED per-source
    total (|sources|-row broadcast state — the packed corpus is never
    re-read), and the oracle is the FULL repack filtered to the new
    docs: incremental must be indistinguishable from repacking
    everything. Same delta-vs-stored-index shape as LSH admission,
    IVF assignment and DSIR scoring."""
    docs = load_table(spark, sf_dir, "documents")
    prior = seqpack_op.source_totals(docs.where(F.col("doc_id") < 250))
    return seqpack_op.sequence_layout_incremental(
        docs.where(F.col("doc_id") >= 250), prior
    )


@register(
    "pack_hydrate_sequence", seqpack_op.hydrate_oracle_sql(seq_id=1)
)
def q_pack_hydrate_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainer-side read path: which doc slices compose training
    sequence #1 of every source shard (token range within each doc +
    position within the sequence). At scale the layout relation is
    pruned by (seq_first, seq_last) so one sequence costs
    O(docs-in-sequence)."""
    docs = load_table(spark, sf_dir, "documents")
    return seqpack_op.hydrate_sequence(docs, seq_id=1)


@register("pack_layout_stream", seqpack_op.layout_oracle_sql())
def q_pack_layout_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sequence packer in the ingest stream: per-source running
    token offsets held as O(|sources|) stream state
    (applyInPandasWithState, append mode), every arriving doc emitted
    with its packed coordinates. AvailableNow single batch ⇒ must
    equal the batch `sequence_layout` relation exactly (the oracle IS
    the batch layout SQL); state continuation across forced
    multi-batch runs is pytest-proven (tests/test_seqpack.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return streaming_inc.pack_layout_stream(
        spark, _staged(docs.select("doc_id", "source", "n_chars")), _scratch_dir()
    )


@register("encoding_anomaly_report", encfix_op.report_oracle_sql())
def q_encoding_anomaly_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake / U+FFFD / C1-stray detection + deterministic repair
    over a deterministically-corrupted fixture (doc_id modulus, same
    `replace` in both dialects): per-source damage counts and the
    repair char delta. All replace/length arithmetic — whole-stage
    codegen, zero Python, zero shuffle before the final ≤|sources|
    aggregate, so the stage is one-scan-cheap at crawl scale."""
    docs = load_table(spark, sf_dir, "documents")
    return encfix_op.anomaly_report(docs)


# Extended TPC-H suite (q4–q22) registers itself on import — keep last.
from . import tpch  # noqa: E402,F401
