"""Incremental/streaming execution: Structured Streaming runtime.

The reference is batch-only; its incremental story is idempotent
per-shard reruns (SURVEY.md §2.9). The Spark engine adds the real
thing:

* `stream_commit_pages` — `readStream` over a pages directory + the
  SAME stateless pipeline DAG (plans/pipeline.py) + `foreachBatch`
  into the committed ds=... table (sinks.commit, the batch sink's
  write path), with
  `Trigger.AvailableNow` and a checkpoint: each invocation commits
  exactly the files that arrived since the last checkpoint commit —
  exactly-once incremental filtering of a growing crawl, into the
  same table and manifest as the batch sink.
* `hourly_event_counts` — watermarked event-time windowed aggregation
  over an events stream (late data beyond 1 hour dropped), the
  canonical streaming agg; the other stateful and train-batch /
  score-stream operators below share its shape.

Every file-source stream comes from `file_stream` (schema from the
directory's parquet footers, optional maxFilesPerTrigger); the
memory-sink operators all drain through `run_to_memory`. All
run on AvailableNow so batch tests and cron-style incremental
jobs share one code path; a `processingTime` trigger turns the same
plan into a live stream untouched.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import pipeline as pl


def run_to_memory(df: DataFrame, output_mode: str, checkpoint: str) -> DataFrame:
    """Drain the streaming `df` with one AvailableNow trigger into a
    memory sink under a fresh query name; returns the sink's table as
    a batch DataFrame."""
    name = f"mem_{uuid.uuid4().hex}"
    (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return df.sparkSession.table(name)


def file_stream(
    spark: SparkSession, d: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """A readStream over the parquet files in `d`, schema from their
    footers. `max_files_per_trigger` caps the files per micro-batch
    (files process in modification-time order); tests pass 1 to force
    multi-batch runs."""
    reader = spark.readStream.schema(spark.read.parquet(d).schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(d)


def events_stream(
    spark: SparkSession,
    events_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """A file stream over an events directory, `ts` as TIMESTAMP."""
    # fixture ts is TIMESTAMP_NTZ; watermarks require TIMESTAMP (LTZ) —
    # every entry point sets the session TZ to UTC (session.configure)
    # so the cast is value-preserving in any environment
    return file_stream(spark, events_dir, max_files_per_trigger).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


def hourly_event_counts(
    spark: SparkSession,
    events_dir: str,
    checkpoint: str,
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Watermarked hourly windowed counts, materialized to a memory
    sink via AvailableNow; returns the result as a batch DataFrame.

    `watermark` is the late-data horizon. Gate callers pass a horizon
    LONGER than the fixture's event-time span: AvailableNow may
    legally split the input into several micro-batches in file-list
    order, and any row older than (max ts seen − horizon) would be
    silently dropped — the result must equal the batch oracle under
    EVERY legal batch split, not just the single-batch one.
    `max_files_per_trigger` lets tests force that multi-batch split."""
    ev = events_stream(spark, events_dir, max_files_per_trigger)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour"), "event_type", "n_events", "sum_value"
        )
    )
    return run_to_memory(agg, "complete", checkpoint)


def attribution_join_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint: str,
    trigger_type: str = "view",
    target_type: str = "purchase",
    horizon_minutes: int = 30,
    max_files_per_trigger: int | None = None,
    how: str = "inner",
) -> DataFrame:
    """Watermarked STREAM-STREAM interval join — the one Structured
    Streaming join class the rest of the module doesn't exercise
    (everything else is stream-static or single-stream stateful).

    Attribution semantics: every `target_type` event joins to each of
    the same user's `trigger_type` events that happened within
    `horizon_minutes` BEFORE it — a crawl pipeline uses the identical
    shape to pair fetch-results with their frontier-dispatch events.

    Both sides carry an event-time watermark and the join predicate
    carries a two-sided time bound, so each side's buffered state is
    evicted once the opposite watermark passes the horizon — bounded
    state regardless of stream length, the production requirement.
    Inner-join matches are emitted as found (the watermark only
    gates eviction, not emission), so a single-batch AvailableNow run
    equals the batch join exactly — which is what the gate's DuckDB
    oracle checks; `max_files_per_trigger` forces multi-batch runs so
    tests can prove matches survive ACROSS micro-batches on buffered
    state. Scale shape: one state-store exchange per side on user_id,
    no other shuffle."""
    ev = events_stream(spark, events_dir, max_files_per_trigger)
    views = (
        ev.where(F.col("event_type") == trigger_type)
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    buys = (
        ev.where(F.col("event_type") == target_type)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = (
        views.join(
            buys,
            F.expr(
                "user_id = p_user_id AND "
                "purchase_ts >= view_ts AND "
                f"purchase_ts <= view_ts + interval {int(horizon_minutes)} minutes"
            ),
            # "left_outer": views with NO target inside the horizon are
            # ALSO emitted (null target columns) — but only once the
            # joint watermark passes view_ts + horizon and evicts the
            # view from join state, since until then a match could
            # still arrive. That eviction-timed emission is exactly
            # what the unconverted-views gate's oracle re-derives.
            how,
        )
        .select(
            "user_id",
            "view_id",
            "purchase_id",
            (
                F.col("purchase_ts").cast("long")
                - F.col("view_ts").cast("long")
            ).alias("lag_s"),
            F.round("purchase_value", 6).alias("purchase_value"),
        )
    )
    return run_to_memory(joined, "append", checkpoint)


def weekly_distinct_sketch(
    spark: SparkSession,
    events_dir: str,
    checkpoint: str,
    watermark: str = "1 day",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming HLL: distinct event_id per 7-day event-time window.

    The register build (`max(rho)` per (window, bucket)) IS the
    streaming-native distinct count: state is ≤ m integers per open
    window — bounded regardless of key cardinality — and late rows
    inside the watermark fold in through the same max. Contrast
    `dropDuplicates`, whose state grows with the number of distinct
    keys. The stream maintains REGISTERS only; the estimate is a
    cheap batch read-off of the memory sink (streaming allows a
    single aggregation per query, and the register agg is the one
    that needs the state machinery).

    `watermark`/`max_files_per_trigger` follow the hourly_event_counts
    contract: gates pass a horizon wider than the fixture span so the
    result is batch-split-invariant; tests force multi-batch runs.
    """
    from ..functions import sqldialect as sd
    from ..operators import hll

    ev = events_stream(spark, events_dir, max_files_per_trigger)
    bucket, rho = hll.register_fragments("event_id", sd.SPARK)
    regs = (
        ev.withWatermark("ts", watermark)
        .selectExpr(
            "ts",
            f"CAST({bucket} AS INT) AS bucket",
            f"CAST({rho} AS INT) AS rho",
        )
        .groupBy(F.window("ts", "7 days").alias("w"), "bucket")
        .agg(F.max("rho").alias("m_j"))
        .select(
            F.col("w.start").cast("date").alias("week"), "bucket", "m_j"
        )
    )
    return hll.estimate(run_to_memory(regs, "complete", checkpoint))


def windowed_token_histogram(
    spark: SparkSession,
    pages_dir: str,
    checkpoint: str,
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming per-window unigram histogram over a live crawl:
    readStream → explode tokens → watermarked 5-minute windowed count
    → memory sink. This is the monitoring feed `token_drift` consumes
    between windows — maintained incrementally instead of re-scanning
    the corpus per report. State is (open windows × vocab) counters,
    bounded by the watermark; late pages inside it fold into the same
    count."""
    from ..functions import sqldialect as sd
    from ..spec import hashing as H

    stream = file_stream(spark, pages_dir, max_files_per_trigger).withColumn(
        "warc_ts", F.col("warc_ts").cast("timestamp")
    )
    toks = H.tokens_lower("text", sd.SPARK)
    hist = (
        stream.withWatermark("warc_ts", watermark)
        .select("warc_ts", F.explode(F.expr(toks)).alias("token"))
        .where(F.col("token") != "")
        .groupBy(F.window("warc_ts", "5 minutes").alias("w"), "token")
        .agg(F.count(F.lit(1)).alias("n_tokens"))
        .select(F.col("w.start").alias("win_start"), "token", "n_tokens")
    )
    return run_to_memory(hist, "complete", checkpoint)


def lm_score_stream(
    spark: SparkSession,
    docs_dir: str,
    checkpoint: str,
) -> DataFrame:
    """Train-batch / score-stream: the bigram LM is frozen from the
    BATCH view of docs_dir, then a readStream over the same directory
    scores arriving docs against it — stateless row-local bigram
    explode + stream-static broadcast joins, then a per-doc rollup in
    complete mode to the memory sink. This is the production shape for
    model-based filters on a live crawl: the model is an artifact of
    the last training run, never recomputed per micro-batch. (A real
    deployment would window the rollup by arrival time to bound state;
    the gate's AvailableNow single batch makes complete mode exact.)"""
    from ..operators import ngramlm

    batch = spark.read.parquet(docs_dir)
    model, uni, n_total = ngramlm.train_model(batch)
    stream = file_stream(spark, docs_dir)
    scored = ngramlm.score_against_model(stream, model, uni, n_total)
    return run_to_memory(scored, "complete", checkpoint)


def dsir_score_stream(
    spark: SparkSession,
    docs_dir: str,
    checkpoint: str,
) -> DataFrame:
    """Train-batch / score-stream for the DSIR reweighting stage: the
    bucket log-ratio index is frozen from the BATCH view of docs_dir
    (≤256-row collect), then a readStream over the same directory
    scores arriving documents via the constant-folded map-literal fold
    — the per-doc sum runs INSIDE each row, so the scorer is
    stateless (zero shuffle, zero stream state, append mode). Same
    production shape as edu_score_stream/lm_score_stream: index is an
    artifact of the last training run, never recomputed per
    micro-batch."""
    from ..operators import reweight

    batch = spark.read.parquet(docs_dir)
    ratio_rows = reweight.train_dsir_ratio(batch).collect()
    stream = file_stream(spark, docs_dir)
    tok_count, lw = reweight.dsir_literal_score_exprs(ratio_rows)
    scored = stream.select(
        "doc_id", tok_count.alias("tok_count"), lw.alias("lw_micro")
    )
    return run_to_memory(scored, "append", checkpoint)


def edu_score_stream(
    spark: SparkSession,
    emb_dir: str,
    checkpoint: str,
) -> DataFrame:
    """Train-batch / score-stream for the SEMANTIC admission stage:
    the seed centroid is frozen from the BATCH view of emb_dir, then a
    readStream over the same directory scores arriving vectors against
    it. Scoring is a stateless row-local literal fold (zero shuffle,
    zero stream state) — append mode, no watermark needed; the
    centroid is an artifact of the last training run, never recomputed
    per micro-batch. Same production shape as lm_score_stream."""
    from ..operators import similarity

    batch = spark.read.parquet(emb_dir)
    cent = similarity.train_edu_centroid(batch)
    stream = file_stream(spark, emb_dir)
    scored = similarity.edu_scores(stream, cent)
    return run_to_memory(scored, "append", checkpoint)


def scrub_stats_stream(
    spark: SparkSession,
    pages_dir: str,
    checkpoint: str,
) -> DataFrame:
    """Live scrub-metrics dashboard: the per-host PII/toxicity hit
    counts computed over a pages STREAM — stateless codegen scrub
    projection per row, complete-mode grouped counts (state bounded by
    the host cardinality, never the corpus). Single-batch AvailableNow
    ⇒ hash-equals the batch scrub_stats oracle."""
    from ..operators import scrub

    stream = file_stream(spark, pages_dir).withColumn(
        "host", F.regexp_extract("url", r"https://([^./]+)", 1)
    )
    agg = scrub.scrub_stats(stream, by="host")
    return run_to_memory(agg, "complete", checkpoint)


def stream_commit_pages(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint: str,
    granularity: str = "minute",
    max_files_per_trigger: int | None = None,
    publish_hook=None,
) -> int:
    """Streaming ingest through the SAME committed ds=... table as the
    batch sink: readStream → pipeline_df → foreachBatch, where each
    micro-batch runs the DAG once and goes through the batch sink's
    own `sinks.commit(..., batch_id=epoch_id)` (one staged write →
    per-ds deterministic-rename publish, each followed by its manifest
    row). The batchId idempotence contract makes a crash at ANY point
    replay to the identical on-disk state, and the checkpoint gives
    exactly-once over arriving files: an invocation commits only the
    files that landed since the last one.

    The per-ds metrics come from a scan of the staged files, and each
    (ds, batch) manifest row holds the partition's totals after the
    batch, so read_manifest, read_output, compact_partition and
    vacuum_manifest work unchanged over streamed and mixed batch+stream
    partitions.

    `publish_hook` is `sinks.commit`'s crash-injection point (phases
    'staged', 'publishing', 'published', 'manifested'). Returns the
    rows committed by THIS run."""
    from .. import sinks

    total = {"n": 0}

    def _commit(bdf: DataFrame, epoch_id: int) -> None:
        part = sinks.committed_rows(pl.pipeline_df(bdf), granularity=granularity)
        rows = sinks.commit(spark, part, out_dir, epoch_id, publish_hook)
        total["n"] += sum(r["n_rows"] for r in rows)

    q = (
        file_stream(spark, pages_dir, max_files_per_trigger)
        .writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return total["n"]


def pack_layout_stream(
    spark: SparkSession,
    docs_dir: str,
    checkpoint: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The sequence packer IN THE INGEST STREAM: per-source running
    token offsets are kept as stream state (the offset per source is
    the same |sources|-row relation `seqpack.source_totals` persists
    for the batch-incremental path), and every arriving document is
    emitted with its packed coordinates in append mode.

    Semantics: packing order is arrival order, micro-batch by
    micro-batch, sorted by doc_id within each (source, batch) group —
    under AvailableNow each source's whole fixture arrives in one
    group, so the emission is exactly the batch
    `seqpack.sequence_layout` relation (the gate's oracle), and under
    forced multi-batch execution the offsets continue across batches
    (state continuation is pytest-proven equal to the batch layout
    when files partition doc_id ranges in order). A batch that brings
    a source's doc_id at or below the last one already packed would
    make the layout depend on arrival order, so it fails the query
    instead. State is O(|sources|) — (tokens_so_far, last_doc_id) per
    source — and the shuffle key is `source`, identical partitioning
    to the batch window path, so the operator survives a 10^12-doc
    stream."""
    from collections.abc import Iterator as _Iterator

    import pandas as _pd
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    from ..operators import seqpack as _seqpack

    seq_len = _seqpack.SEQ_LEN

    out_schema = (
        "doc_id bigint, source string, tok_count bigint, "
        "start_tok bigint, seq_first bigint, seq_last bigint, "
        "n_seqs bigint, offset_in_seq bigint"
    )

    def _pack_fn(
        key: tuple, pdfs: _Iterator[_pd.DataFrame], state: GroupState
    ) -> _Iterator[_pd.DataFrame]:
        (source,) = key
        frames = [p for p in pdfs if len(p)]
        if not frames:
            return
        pdf = _pd.concat(frames, ignore_index=True)
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        base, last_doc_id = state.get if state.exists else (0, None)
        first = int(pdf["doc_id"].iloc[0])
        if last_doc_id is not None and first <= last_doc_id:
            raise ValueError(
                f"pack_layout_stream: out-of-order input for source "
                f"{source!r}: doc_id {first} arrived after {last_doc_id}"
            )
        tok = (pdf["n_chars"].astype("int64") // 4 + 2).astype("int64")
        start = base + tok.cumsum() - tok
        end = start + tok - 1
        state.update(
            (int(base + int(tok.sum())), int(pdf["doc_id"].iloc[-1]))
        )
        yield _pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "source": source,
                "tok_count": tok,
                "start_tok": start,
                "seq_first": start // seq_len,
                "seq_last": end // seq_len,
                "n_seqs": end // seq_len - start // seq_len + 1,
                "offset_in_seq": start % seq_len,
            }
        )

    stream = file_stream(spark, docs_dir, max_files_per_trigger).select(
        "doc_id", "source", "n_chars"
    )
    packed = stream.groupBy("source").applyInPandasWithState(
        _pack_fn,
        out_schema,
        "tokens_so_far bigint, last_doc_id bigint",
        "append",
        GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(packed, "append", checkpoint)
