"""The benchmark's workloads: closed loops over the engine's public
functions, one client, each increment starting after the previous one
committed (how a cron-invoked `jobs/run_pipeline.py` behaves).

Every increment lands one day's crawl slice (new doc ids and text,
all of it inside one `ds`), commits it, then runs the curation
readers over the last `READ_DAYS` committed days. Every slice and the
oracle's expected results are made in set-up, before the first
increment, so no increment pays for its own input.
"""

from __future__ import annotations

import datetime
import os
from contextlib import nullcontext

import checks
import datagen

SLICE_DOCS = 1000
FILES_PER_SLICE = 2  # fewer files than cores: the parallelism exchange fires
# increments after the cold one that are excluded from timing. A run
# has ~50 s in all, ~30 s of it fresh JVM, inputs and cold increment:
# there is no room for the 5-8 increments the warm-up curve needs, so
# the timed increments still carry some warm-up, the same on every run
# (their number is fixed)
WARMUPS = 0
# the reader window: the cold day plus the current one, so it is full
# from the first timed increment (READ_DAYS <= WARMUPS + 2)
READ_DAYS = 2

OUT_COLS = (
    "url", "ds", "salt", "doc_id", "lang_pred", "keep", "drop_reason",
    "scrubbed_text",
)


def ds_of_day(day: int) -> str:
    return (datetime.date(2024, 1, 1) + datetime.timedelta(days=day)).isoformat()


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.out = os.path.join(work, "out")
        self.days: list[str] = []
        self.expected: checks.Expected | None = None

    # -- shared steps ----------------------------------------------------

    def span(self, name: str, trace: str, on: bool = True):
        if self.tracer is None or not on:
            return nullcontext({"attrs": {}})
        return self.tracer.span(name, trace)

    def slice_dir(self, k: int) -> str:
        return os.path.join(self.work, "in", f"day{k:04d}")

    def prepare(self, con, n_slices: int) -> None:
        """Generate slices 0..n_slices-1 (slice k is day k) as
        FILES_PER_SLICE parquet files each, and the oracle's expected
        results for all of them."""
        import pyarrow as pa

        import __spark_entry__ as entry

        docs = []
        for k in range(n_slices):
            docs.append(datagen.slice_documents(self.seed, k, SLICE_DOCS))
            self.days.append(ds_of_day(k))
            pages = datagen.pages_from_documents(con, docs[-1])
            datagen.write_files(pages, self.slice_dir(k), FILES_PER_SLICE, f"day{k:04d}")
        rows = checks.oracle_rows(
            con, pa.concat_tables(docs), entry.oracle_sql()["pipeline_scored"]
        )
        self.expected = checks.Expected.from_rows(
            rows, lambda doc_id: ds_of_day(doc_id // datagen.DAY_S)
        )

    def land(self, k: int) -> None:
        """Make slice k visible to the job (not timed: landing is the
        crawler's work)."""

    def window(self, k: int) -> list[str]:
        return self.days[max(0, k + 1 - READ_DAYS) : k + 1]

    def read(self, k: int, traced: bool) -> dict:
        """The curation readers over the last READ_DAYS days: per-day
        keep counts and out_chars from the manifest, and the committed
        rows grouped by predicted language and drop reason."""
        from pyspark.sql import functions as F

        from fineweb_modal_spark import sinks

        window = self.window(k)
        tid = f"inc{k}"
        with self.span("sinks.read_manifest", tid, traced):
            man = [
                r.asDict()
                for r in sinks.read_manifest(self.spark, self.out)
                .where(F.col("ds").isin(window))
                .select("ds", "n_rows", "n_keep", "out_chars")
                .collect()
            ]
        with self.span("sinks.read_output", tid, traced):
            groups = [
                (r["lang_pred"], r["drop_reason"], r["count"])
                for r in sinks.read_output(self.spark, self.out)
                .where(F.col("ds").isin(window))
                .groupBy("lang_pred", "drop_reason")
                .count()
                .collect()
            ]
        return {"window": window, "manifest": man, "groups": groups}

    def committed_doc_ids(self) -> list[int]:
        from fineweb_modal_spark import sinks

        return [
            r.doc_id
            for r in sinks.read_output(self.spark, self.out).select("doc_id").collect()
        ]

    def out_bytes(self) -> int:
        """Committed parquet bytes under ds=* (manifest excluded)."""
        total = 0
        for d in os.listdir(self.out):
            if d.startswith("ds="):
                for f in os.listdir(os.path.join(self.out, d)):
                    if f.endswith(".parquet"):
                        total += os.path.getsize(os.path.join(self.out, d, f))
        return total

    def partition_stats(self, ds: str) -> tuple[int, int]:
        """(files, bytes) of one committed partition."""
        from fineweb_modal_spark import sinks

        files = sinks.partition_files(self.out, ds)
        size = sum(os.path.getsize(os.path.join(self.out, f"ds={ds}", f)) for f in files)
        return len(files), size


class DailyCommit(Workload):
    """One day's crawl per increment through the batch job's body:
    pipeline_df -> with_partition_cols -> write_partition per ds."""

    name = "daily_commit"

    def commit(self, k: int, traced: bool) -> dict:
        src = self.slice_dir(k)
        rows = self._traced_commit(src, k) if traced else self._commit(src)
        return {"manifest": rows, "docs": SLICE_DOCS}

    def _commit(self, src: str) -> list[dict]:
        from pyspark.sql import functions as F

        from fineweb_modal_spark import sinks
        from fineweb_modal_spark.plans import pipeline as pl

        df = sinks.with_partition_cols(
            pl.pipeline_df(self.spark.read.parquet(src))
        ).select(*OUT_COLS)
        return [
            sinks.write_partition(self.spark, df.where(F.col("ds") == F.lit(ds)), self.out, ds)
            for ds in sinks.list_partitions(df)
        ]

    def _traced_commit(self, src: str, k: int) -> list[dict]:
        """The same DAG, each layer's input materialized first
        (localCheckpoint), so each span is that layer's self time."""
        from pyspark.sql import functions as F

        from fineweb_modal_spark import sinks
        from fineweb_modal_spark.functions.parallelism import ensure_parallelism
        from fineweb_modal_spark.operators import quality, scoring, scrub

        tid = f"inc{k}"
        with self.span("sources", tid):
            raw = self.spark.read.parquet(src)
            raw.localCheckpoint()
        with self.span("parallelism", tid) as sp:
            spread = ensure_parallelism(raw)
            sp["attrs"]["fired"] = spread is not raw
            p = spread.localCheckpoint()
        with self.span("scoring", tid):
            s = scoring.with_scores(p).localCheckpoint()
        with self.span("quality", tid):
            q = quality.with_keep(quality.with_signals(s), lang_col="lang_pred").localCheckpoint()
        with self.span("scrub", tid):
            r = scrub.with_scrubbed(q).localCheckpoint()
        part = sinks.with_partition_cols(r).select(*OUT_COLS)
        with self.span("sinks.list_partitions", tid):
            parts = sinks.list_partitions(part)
        with self.span("sinks.write", tid):
            return [
                sinks.write_partition(self.spark, part.where(F.col("ds") == F.lit(ds)), self.out, ds)
                for ds in parts
            ]


class StreamIngest(Workload):
    """Per increment, FILES_PER_SLICE files land in the watched
    directory, then one AvailableNow trigger of stream_commit_pages."""

    name = "stream_ingest"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.watch = os.path.join(self.work, "watch")
        self.ckpt = os.path.join(self.work, "ckpt")
        os.makedirs(self.watch, exist_ok=True)

    def land(self, k: int) -> None:
        src = self.slice_dir(k)
        for f in sorted(os.listdir(src)):
            os.replace(os.path.join(src, f), os.path.join(self.watch, f))
        os.rmdir(src)

    def commit(self, k: int, traced: bool) -> dict:
        from fineweb_modal_spark.streaming import incremental

        with self.span("streaming.trigger", f"inc{k}", traced):
            n = incremental.stream_commit_pages(
                self.spark, self.watch, self.out, self.ckpt, granularity="day"
            )
        return {"manifest": None, "docs": SLICE_DOCS, "committed": n}


WORKLOADS = {w.name: w for w in (DailyCommit, StreamIngest)}
