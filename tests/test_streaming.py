"""Structured Streaming tests: incremental committed ingest
(exactly-once via checkpoint), watermarked windowed agg, stateful
sessionization.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from fineweb_modal_spark.plans import pipeline as pl
from fineweb_modal_spark.sources import pages as pages_mod
from fineweb_modal_spark.streaming import incremental, sessionize

SF = "/root/testdata/sf0.001"


def test_incremental_pipeline_exactly_once(spark, tmp_path):
    """Two increments over a growing pages dir: the second run must
    commit ONLY the newly arrived file, and the union must equal the
    batch pipeline's result."""
    from fineweb_modal_spark import sinks

    pages_dir = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    full = pages_mod.load_pages(spark, SF, with_html=False)
    full.where("doc_id % 2 = 0").coalesce(1).write.mode("append").parquet(pages_dir)

    n1 = incremental.stream_commit_pages(spark, pages_dir, out, ckpt)
    assert n1 == full.where("doc_id % 2 = 0").count()

    full.where("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(pages_dir)
    n2 = incremental.stream_commit_pages(spark, pages_dir, out, ckpt)
    assert n2 == full.where("doc_id % 2 = 1").count()

    got = sinks.read_output(spark, out)
    assert got.count() == full.count()
    assert got.select("doc_id").distinct().count() == full.count()

    # a third run with nothing new commits nothing
    n3 = incremental.stream_commit_pages(spark, pages_dir, out, ckpt)
    assert n3 == 0

    # streamed results equal the batch plan row-for-row
    want = pl.run_pipeline(spark, SF).select("url", "keep", "scrubbed_text")
    assert got.select("url", "keep", "scrubbed_text").exceptAll(want).count() == 0


def test_hourly_event_counts_matches_batch(spark, tmp_path):
    from fineweb_modal_spark.sources.tables import table_path

    # file-stream sources need a directory, not a bare parquet file
    events_dir = str(tmp_path / "events")
    spark.read.parquet(table_path(SF, "events")).write.parquet(events_dir)
    got = incremental.hourly_event_counts(
        spark, events_dir, str(tmp_path / "ck")
    )
    want = (
        spark.read.parquet(events_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def _batch_attribution(spark, events_dir):
    ev = spark.read.parquet(events_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    v = ev.where("event_type = 'view'").selectExpr(
        "event_id AS view_id", "user_id", "ts AS view_ts"
    )
    p = ev.where("event_type = 'purchase'").selectExpr(
        "event_id AS purchase_id",
        "user_id AS p_user_id",
        "ts AS purchase_ts",
        "value AS purchase_value",
    )
    return (
        v.join(
            p,
            F.expr(
                "user_id = p_user_id AND purchase_ts >= view_ts "
                "AND purchase_ts <= view_ts + interval 30 minutes"
            ),
        )
        .selectExpr(
            "user_id",
            "view_id",
            "purchase_id",
            "CAST(purchase_ts AS LONG) - CAST(view_ts AS LONG) AS lag_s",
            "round(purchase_value, 6) AS purchase_value",
        )
    )


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    from fineweb_modal_spark.sources.tables import table_path

    events_dir = str(tmp_path / "events")
    spark.read.parquet(table_path(SF, "events")).write.parquet(events_dir)
    got = incremental.attribution_join_stream(
        spark, events_dir, str(tmp_path / "ck")
    )
    want = _batch_attribution(spark, events_dir)
    assert want.count() > 0
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_stream_stream_join_matches_across_micro_batches(spark, tmp_path):
    """Views land in micro-batch 1, purchases in micro-batch 2
    (maxFilesPerTrigger=1 over two single-type files): every match
    must come off the join's buffered state across batches, and the
    result must still equal the batch interval join."""
    from fineweb_modal_spark.sources.tables import table_path

    events_dir = str(tmp_path / "events")
    ev = spark.read.parquet(table_path(SF, "events"))
    ev.where("event_type = 'view'").coalesce(1).write.mode(
        "append"
    ).parquet(events_dir)
    ev.where("event_type = 'purchase'").coalesce(1).write.mode(
        "append"
    ).parquet(events_dir)
    got = incremental.attribution_join_stream(
        spark,
        events_dir,
        str(tmp_path / "ck"),
        max_files_per_trigger=1,
    )
    want = _batch_attribution(spark, events_dir)
    assert want.count() > 0
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_stateful_sessionize_matches_batch_closed_sessions(spark, tmp_path):
    """Streamed closed sessions == batch sessions minus each user's
    trailing session (which stays open in state when the single
    AvailableNow batch ends)."""
    from fineweb_modal_spark.sources.tables import load_table, table_path

    events_dir = str(tmp_path / "events")
    spark.read.parquet(table_path(SF, "events")).write.parquet(events_dir)
    schema = spark.read.parquet(events_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(events_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = (
        sessionize.sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("t_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start, r.n_events)
        for r in spark.table("t_sessions").collect()
    }

    ev = load_table(spark, SF, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    g = ev.withColumn(
        "is_new",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)) > 1800),
            1,
        ).otherwise(0),
    ).withColumn("session_id", F.sum("is_new").over(cum))
    batch = (
        g.groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"), F.min("ts").alias("session_start"))
        .collect()
    )
    last_per_user: dict = {}
    for r in batch:
        cur = last_per_user.get(r.user_id)
        if cur is None or r.session_start > cur.session_start:
            last_per_user[r.user_id] = r
    want_all = {(r.user_id, r.session_start, r.n_events) for r in batch}
    want_closed = {
        (r.user_id, r.session_start, r.n_events)
        for r in batch
        if last_per_user[r.user_id].session_id != r.session_id
    }
    # every gap-closed session must stream out; trailing sessions MAY
    # also emit when the final watermark passes their timeout — but
    # nothing may emit that the batch oracle doesn't contain
    assert want_closed <= got
    assert got <= want_all


def test_weekly_hll_sketch_matches_batch(spark, tmp_path):
    """Streaming register build must equal the batch HLL over the same
    rows (max is order/micro-batch-insensitive — the property that
    makes sketches streaming-native), and estimates must land within
    the m=256 error envelope."""
    from fineweb_modal_spark.operators import hll
    from fineweb_modal_spark.sources.tables import table_path

    # sf0.01: ~2.3k distinct per window — above the 2.5·m small-range
    # floor the sketch deliberately does not correct for (hll.py doc)
    ev = spark.read.parquet(table_path("/root/testdata/sf0.01", "events"))
    ev.write.mode("overwrite").parquet(str(tmp_path / "events"))
    est = incremental.weekly_distinct_sketch(
        spark, str(tmp_path / "events"), str(tmp_path / "ckpt"),
    ).collect()
    got = {r.week: r.n_est for r in est}

    batch = ev.withColumn("ts", F.col("ts").cast("timestamp")).select(
        F.window("ts", "7 days").start.cast("date").alias("week"), "event_id"
    )
    regs = hll.build_registers(batch, "event_id", ["week"])
    want = {r.week: r.n_est for r in hll.estimate(regs).collect()}
    assert got == want

    exact = {
        r.week: r.n
        for r in batch.groupBy("week")
        .agg(F.countDistinct("event_id").alias("n"))
        .collect()
    }
    for wk, n in exact.items():
        assert abs(got[wk] - n) / n < 0.25, (wk, got[wk], n)


def test_windowed_token_histogram_matches_batch(spark, tmp_path):
    from fineweb_modal_spark.spec import hashing as H
    from fineweb_modal_spark.streaming import incremental as inc

    rows = [
        (i, f"https://h.example/{i}", "alpha beta beta gamma",
         "2024-01-01 00:%02d:00" % (i % 12))
        for i in range(40)
    ]
    pages = spark.createDataFrame(
        rows, "doc_id long, url string, text string, warc_ts string"
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    pages.write.parquet(str(tmp_path / "pages"))
    got = {
        (r.win_start, r.token): r.n_tokens
        for r in inc.windowed_token_histogram(
            spark, str(tmp_path / "pages"), str(tmp_path / "ckpt"),
        ).collect()
    }
    batch = (
        pages.select(
            F.window("warc_ts", "5 minutes").start.alias("win_start"),
            F.explode(F.expr(H.tokens_lower("text", "spark"))).alias("token"),
        )
        .where(F.col("token") != "")
        .groupBy("win_start", "token")
        .count()
    )
    want = {(r.win_start, r.token): r["count"] for r in batch.collect()}
    assert got == want and len(got) >= 6  # >=2 windows x 3 tokens


def test_edu_score_stream_equals_batch(spark, tmp_path):
    """AvailableNow single batch ⇒ the streamed edu scores must equal
    the batch path under the same frozen centroid."""
    from fineweb_modal_spark.operators import similarity
    from fineweb_modal_spark.streaming import incremental as inc

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb.write.parquet(str(tmp_path / "emb"))
    got = {
        r.doc_id: (r.edu_cosine, r.edu_score, r.keep)
        for r in inc.edu_score_stream(
            spark, str(tmp_path / "emb"), str(tmp_path / "ckpt"),
        ).collect()
    }
    cent = similarity.train_edu_centroid(emb)
    want = {
        r.doc_id: (r.edu_cosine, r.edu_score, r.keep)
        for r in similarity.edu_scores(emb, cent).collect()
    }
    assert got == want and len(got) == 500


def test_sessionize_tws_matches_applyinpandas(spark, tmp_path):
    """transformWithStateInPandas sessionization must emit the SAME
    closed sessions as the applyInPandasWithState form (one emission
    rule, two stateful APIs). Skips offline: the TWS state-server
    protocol needs protobuf, absent in this container."""
    pytest.importorskip("google.protobuf")
    from fineweb_modal_spark.sources.tables import table_path

    events_dir = str(tmp_path / "events")
    spark.read.parquet(table_path(SF, "events")).write.parquet(events_dir)
    schema = spark.read.parquet(events_dir).schema

    def start(fn, name, ck):
        stream = (
            spark.readStream.schema(schema)
            .parquet(events_dir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        q = (
            fn(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {tuple(r) for r in spark.table(name).collect()}

    prov = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(
        prov,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        got = start(sessionize.sessionize_stream_tws, "t_tws", "ck_tws")
    finally:
        spark.conf.unset(prov)
    want = start(sessionize.sessionize_stream, "t_aip", "ck_aip")
    assert got == want and len(want) > 0


def test_drop_duplicates_within_watermark_drops_cross_batch(spark, tmp_path):
    """A recrawl of the SAME key with a DIFFERENT event time arriving
    in a LATER micro-batch must be dropped by
    dropDuplicatesWithinWatermark state — the case the (key, ts)-keyed
    dropDuplicates form cannot drop."""
    import pyspark.sql.functions as F

    feed = str(tmp_path / "feed")
    base = spark.createDataFrame(
        [("a.com/x", "2024-01-01 00:00:00"), ("b.com/y", "2024-01-01 00:00:01")],
        "norm_url string, warc_ts string",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    recrawl = spark.createDataFrame(
        [("a.com/x", "2024-01-01 02:00:00")], "norm_url string, warc_ts string"
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    base.coalesce(1).write.mode("append").parquet(feed)
    recrawl.coalesce(1).write.mode("append").parquet(feed)
    schema = spark.read.parquet(feed).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = (
        stream.withWatermark("warc_ts", "1 day")
        .dropDuplicatesWithinWatermark(["norm_url"])
        .select("norm_url")
        .writeStream.format("memory")
        .queryName("t_wmdd")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r.norm_url for r in spark.table("t_wmdd").collect())
    assert got == ["a.com/x", "b.com/y"]


def test_attrib_left_outer_across_micro_batches(spark, tmp_path):
    """Left-outer stream-stream join with views and purchases split
    across micro-batches: cross-batch matches must pair off the
    buffered state (not be spuriously emitted as unconverted), and
    every null row's view must truly have no in-horizon purchase."""
    from fineweb_modal_spark.sources.tables import table_path

    events_dir = str(tmp_path / "events")
    ev = spark.read.parquet(table_path(SF, "events"))
    ev.where("event_type = 'view'").coalesce(1).write.mode(
        "append"
    ).parquet(events_dir)
    ev.where("event_type = 'purchase'").coalesce(1).write.mode(
        "append"
    ).parquet(events_dir)
    got = incremental.attribution_join_stream(
        spark,
        events_dir,
        str(tmp_path / "ck"),
        max_files_per_trigger=1,
        how="left_outer",
    )
    want_inner = _batch_attribution(spark, events_dir)
    rows = got.collect()
    matched = [r for r in rows if r.purchase_id is not None]
    nulls = [r for r in rows if r.purchase_id is None]
    want = {tuple(r) for r in want_inner.collect()}
    assert {tuple(r) for r in matched} == want and len(matched) == len(want)
    # no view appears both matched and unconverted
    assert {r.view_id for r in nulls}.isdisjoint({r.view_id for r in matched})
    assert len(nulls) > 0


def test_stream_commit_replay_converges(spark, tmp_path):
    """Crash injected AFTER files are published but BEFORE the
    manifest row / checkpoint advance (the nastiest window): the rerun
    replays the batch and must converge on the identical file set —
    no duplicate rows, no orphan files, manifest rows unique per
    (ds, batch)."""
    import pyspark.sql.functions as F

    from fineweb_modal_spark import sinks

    pages_dir = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    full = pages_mod.load_pages(spark, SF, with_html=False)
    full.coalesce(1).write.parquet(pages_dir)

    def boom(phase, epoch_id):
        if phase == "published":
            raise RuntimeError("injected crash after publish")

    import pytest as _pytest

    with _pytest.raises(Exception, match="injected crash"):
        incremental.stream_commit_pages(
            spark, pages_dir, out, ckpt, publish_hook=boom
        )
    n = incremental.stream_commit_pages(spark, pages_dir, out, ckpt)
    assert n == full.count()
    got = sinks.read_output(spark, out)
    assert got.count() == full.count()
    assert got.select("url").distinct().count() == full.count()
    man = spark.read.parquet(f"{out}/{sinks.MANIFEST_DIR}")
    pairs = [(r.ds, r.batch_id) for r in man.select("ds", "batch_id").collect()]
    assert len(pairs) == len(set(pairs))
    # per-ds totals equal the batch pipeline's own partitioning
    want = (
        sinks.with_partition_cols(pl.run_pipeline(spark, SF), granularity="minute")
        .groupBy("ds").count()
    )
    gotc = got.groupBy("ds").count()
    assert {(r.ds, r["count"]) for r in gotc.collect()} == {
        (r.ds, r["count"]) for r in want.collect()
    }


def test_stream_manifest_rows_hold_partition_totals(spark, tmp_path):
    """Two micro-batches land in ONE ds: the manifest row in force for
    that ds must describe the whole partition, not the last batch."""
    from fineweb_modal_spark import sinks

    pages_dir = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    full = pages_mod.load_pages(spark, SF, with_html=False)
    for parity in (0, 1):
        full.where(f"doc_id % 2 = {parity}").coalesce(1).write.mode(
            "append"
        ).parquet(pages_dir)
    n = incremental.stream_commit_pages(
        spark, pages_dir, out, str(tmp_path / "ck"),
        granularity="day", max_files_per_trigger=1,
    )
    assert n == full.count()
    man = spark.read.parquet(f"{out}/{sinks.MANIFEST_DIR}")
    assert man.select("batch_id").distinct().count() == 2
    (got,) = sinks.read_manifest(spark, out).collect()
    (want,) = (
        sinks.read_output(spark, out)
        .groupBy("ds")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
            F.sum(F.length("scrubbed_text").cast("long")).alias("out_chars"),
        )
        .collect()
    )
    assert (got.n_rows, got.n_keep, got.out_chars) == (
        want.n_rows, want.n_keep, want.out_chars
    )
    assert got.n_rows == full.count()


def test_stream_triggers_into_new_ds_keep_manifest_right(spark, tmp_path):
    """Two AvailableNow triggers, each landing in a ds the manifest has
    not seen (the second one while a manifest already exists): every
    ds's manifest row must equal read_output's aggregates."""
    from fineweb_modal_spark import sinks

    pages_dir = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    full = pages_mod.load_pages(spark, SF, with_html=False)
    next_day = full.withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY"))
    for parity, pages in ((0, full), (1, next_day)):
        pages.where(f"doc_id % 2 = {parity}").coalesce(1).write.mode(
            "append"
        ).parquet(pages_dir)
        incremental.stream_commit_pages(spark, pages_dir, out, ckpt, granularity="day")
    # read_output declares ds as the STRING the manifest holds
    want = {
        r.ds: (r.n_rows, r.n_keep, r.out_chars)
        for r in sinks.read_output(spark, out)
        .groupBy("ds")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
            F.sum(F.length("scrubbed_text").cast("long")).alias("out_chars"),
        )
        .collect()
    }
    got = {
        r.ds: (r.n_rows, r.n_keep, r.out_chars)
        for r in sinks.read_manifest(spark, out).collect()
    }
    assert len(want) == 2
    assert got == want
    assert sum(n for n, _, _ in got.values()) == full.count()


def test_stream_commit_scans_each_page_once(spark, tmp_path):
    """Each micro-batch runs the DAG once: summed over the run's
    progress events, numInputRows equals the pages landed, however
    many ds partitions the batch spans."""
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.rows = 0
            self.done = threading.Event()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.rows += event.progress.numInputRows

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.done.set()

    pages_dir = str(tmp_path / "pages")
    full = pages_mod.load_pages(spark, SF, with_html=False)
    full.coalesce(1).write.parquet(pages_dir)
    listener = Progress()
    spark.streams.addListener(listener)
    try:
        incremental.stream_commit_pages(
            spark, pages_dir, str(tmp_path / "out"), str(tmp_path / "ck"),
            granularity="minute",
        )
        # listener events arrive asynchronously; termination comes last
        assert listener.done.wait(60)
    finally:
        spark.streams.removeListener(listener)
    n_ds = full.select(F.date_trunc("minute", "warc_ts")).distinct().count()
    assert n_ds > 1
    assert listener.rows == full.count()


def test_session_window_boundary_semantics(spark):
    """Pin the built-in session window's merge rule at the EXACT gap
    boundary: touching windows MERGE — an event precisely at
    last+30:00.000000 continues the session, and only
    last+30:00.000001 starts a new one. The session_window_agg oracle
    mirrors this with a strict `> INTERVAL 30 MINUTE` split rule."""
    rows = [
        # user 1: second event exactly at the gap boundary -> MERGES
        (1, "2024-01-01 00:00:00.000000"),
        (1, "2024-01-01 00:30:00.000000"),
        # user 2: 1 microsecond inside the gap -> merges
        (2, "2024-01-01 00:00:00.000000"),
        (2, "2024-01-01 00:29:59.999999"),
        # user 3: 1 microsecond past the boundary -> splits
        (3, "2024-01-01 00:00:00.000000"),
        (3, "2024-01-01 00:30:00.000001"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    got = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .count()
        .groupBy("user_id")
        .count()
        .collect()
    )
    n_sessions = {r.user_id: r["count"] for r in got}
    assert n_sessions == {1: 1, 2: 1, 3: 2}


def test_stream_commit_crash_before_publish_converges(spark, tmp_path):
    """Crash while the batch is only STAGED (no files published, no
    manifest row): the rerun must replay cleanly and leave no stage
    debris behind."""
    import os

    from fineweb_modal_spark import sinks

    pages_dir = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    full = pages_mod.load_pages(spark, SF, with_html=False)
    full.coalesce(1).write.parquet(pages_dir)

    def boom(phase, epoch_id):
        if phase == "staged":
            raise RuntimeError("injected crash after staging")

    with pytest.raises(Exception, match="injected crash"):
        incremental.stream_commit_pages(
            spark, pages_dir, out, ckpt, publish_hook=boom
        )
    # nothing published, stage dir still holds the torn attempt
    assert not [
        f for f in os.listdir(out) if f.startswith("ds=")
    ] if os.path.isdir(out) else True
    n = incremental.stream_commit_pages(spark, pages_dir, out, ckpt)
    assert n == full.count()
    got = sinks.read_output(spark, out)
    assert got.count() == full.count()
    assert not os.path.isdir(os.path.join(out, "_stream_stage")) or not any(
        os.scandir(os.path.join(out, "_stream_stage"))
    )


def test_stream_replay_dedup_on_mixed_batch_stream_table(spark, tmp_path):
    """A crash AFTER the manifest rows are appended but BEFORE the
    checkpoint advances forces a full batch replay whose only
    protection is the (ds, batch_id) replay-dedup guard. The target
    table already holds BATCH-sink manifest rows (no batch_id
    column), so the guard's manifest read must mergeSchema — plain
    inference can sample a batch-row file, lose the batch_id column,
    silently disable the guard, and double-append every stream row."""
    import pytest as _pytest

    from fineweb_modal_spark import sinks

    pages_dir = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    full = pages_mod.load_pages(spark, SF, with_html=False)
    full.coalesce(1).write.parquet(pages_dir)

    # seed the table with a BATCH partition first (manifest row shape
    # without batch_id) — the mixed layout the docstring advertises
    part = sinks.with_partition_cols(
        pl.run_pipeline(spark, SF), granularity="minute"
    )
    some_ds = part.select("ds").first().ds
    sinks.write_partition(
        spark, part.where(F.col("ds") == some_ds), out, some_ds
    )
    n_batch_manifest = spark.read.option("mergeSchema", "true").parquet(
        f"{out}/{sinks.MANIFEST_DIR}"
    ).count()

    def boom(phase, epoch_id):
        if phase == "manifested":
            raise RuntimeError("injected crash after manifest append")

    with _pytest.raises(Exception, match="injected crash"):
        incremental.stream_commit_pages(
            spark, pages_dir, out, ckpt, publish_hook=boom
        )
    n_again = incremental.stream_commit_pages(spark, pages_dir, out, ckpt)
    assert n_again == 0  # replay appended NOTHING — guard held
    man = spark.read.option("mergeSchema", "true").parquet(
        f"{out}/{sinks.MANIFEST_DIR}"
    )
    stream_rows = man.where(F.col("batch_id").isNotNull())
    pairs = [
        (r.ds, r.batch_id)
        for r in stream_rows.select("ds", "batch_id").collect()
    ]
    assert len(pairs) == len(set(pairs))  # unique per (ds, batch)
    assert man.count() == n_batch_manifest + len(pairs)


def test_gate_streams_stable_under_forced_multi_batch(spark, tmp_path):
    """AvailableNow may legally split the source into several
    micro-batches in file-list order (the r4-verdict fragility class):
    with the input spread over many files and maxFilesPerTrigger=1
    forced, the watermark advances BETWEEN batches, and any row older
    than (max ts seen − horizon) would be silently dropped. The gate
    streams' horizons exceed the fixture's event-time span, so the
    multi-batch result must equal the single-batch result exactly —
    for the windowed agg, the HLL register sketch, and the token
    histogram."""
    from fineweb_modal_spark.sources.tables import table_path

    # events spread over 8 files, each spanning the full 30 days
    # (hash-partitioned ⇒ every batch carries both old and new rows —
    # the adversarial order for a short watermark)
    events_dir = str(tmp_path / "events")
    spark.read.parquet(table_path(SF, "events")).repartition(8).write.parquet(
        events_dir
    )

    single = incremental.hourly_event_counts(
        spark, events_dir, str(tmp_path / "ck_h1"),
        watermark="90 days",
    )
    multi = incremental.hourly_event_counts(
        spark, events_dir, str(tmp_path / "ck_hN"),
        watermark="90 days",
        max_files_per_trigger=1,
    )
    assert single.count() == multi.count()
    assert single.exceptAll(multi).count() == 0

    hll_single = incremental.weekly_distinct_sketch(
        spark, events_dir, str(tmp_path / "ck_w1"),
        watermark="90 days",
    ).collect()
    hll_multi = incremental.weekly_distinct_sketch(
        spark, events_dir, str(tmp_path / "ck_wN"),
        watermark="90 days",
        max_files_per_trigger=1,
    ).collect()
    assert sorted(map(tuple, hll_single)) == sorted(map(tuple, hll_multi))

    pages_dir = str(tmp_path / "pages")
    pages_mod.load_pages(spark, SF, with_html=False).repartition(
        6
    ).write.parquet(pages_dir)
    th_single = incremental.windowed_token_histogram(
        spark, pages_dir, str(tmp_path / "ck_t1"),
        watermark="30 days",
    )
    th_multi = incremental.windowed_token_histogram(
        spark, pages_dir, str(tmp_path / "ck_tN"),
        watermark="30 days",
        max_files_per_trigger=1,
    )
    assert th_single.count() == th_multi.count()
    assert th_single.exceptAll(th_multi).count() == 0


def test_complete_mode_admits_late_rows_regardless_of_watermark(
    spark, tmp_path
):
    """Pin the mechanism behind the gates' split-invariance: in
    COMPLETE output mode the watermark never filters late input (it
    only bounds state eviction, which complete mode disables) — so
    even the most adversarial batch order (reverse-chronological
    one-file batches: after batch 0 the watermark sits 1 day behind
    the global max and every later row is 'late') with the ORIGINAL
    narrow 1-day horizon still equals the wide-horizon result.
    Measured, not assumed (the r4 verdict flagged this as a possible
    silent-drop path; empirically complete mode is already safe — the
    widened gate horizons are defense-in-depth for any future switch
    to update/append sinks, which DO drop late rows)."""
    import os

    from fineweb_modal_spark.sources.tables import table_path

    ev = spark.read.parquet(table_path(SF, "events"))
    weeks = ev.selectExpr(
        "*",
        "CAST(floor(unix_micros(CAST(ts AS TIMESTAMP)) /"
        " (7*86400*1000000.0)) AS LONG) AS wk",
    )
    wks = sorted(r.wk for r in weeks.select("wk").distinct().collect())
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    # newest week FIRST in file-listing order → every later batch is
    # entirely behind the watermark a narrow horizon would set
    for i, wk in enumerate(reversed(wks)):
        d = str(tmp_path / f"w{i}")
        weeks.where(F.col("wk") == wk).drop("wk").coalesce(1).write.parquet(d)
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                os.rename(
                    os.path.join(d, f), os.path.join(flat, f"{i:02d}.parquet")
                )

    wide = incremental.weekly_distinct_sketch(
        spark, flat, str(tmp_path / "ck_wide"),
        watermark="90 days",
        max_files_per_trigger=1,
    ).collect()
    narrow = incremental.weekly_distinct_sketch(
        spark, flat, str(tmp_path / "ck_narrow"),
        watermark="1 day",
        max_files_per_trigger=1,
    ).collect()
    assert len(wide) == len(wks)
    assert sorted(map(tuple, wide)) == sorted(map(tuple, narrow))
