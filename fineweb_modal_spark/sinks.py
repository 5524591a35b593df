"""Committed partitioned writes + checkpoint/resume (north rule).

The reference's fault-tolerance story is per-shard idempotent writes
plus `volume.commit()` (chunker.py:155-161, SURVEY.md §1.3): same
input file → same output file, rerun only what failed. The Spark
engine generalizes that to *partition-granular snapshot commits*:

* output is a parquet table partitioned by a date-ish key (`ds` from
  `warc_ts`); `commit` is its one write path — batch, resume and
  stream commits all stage the frame with ONE partitioned write, take
  the per-ds metrics from one scan of the staged files, then publish
  each ds by rename (a batch replaces the ds directory through the
  move-aside swap, a stream micro-batch adds deterministically named
  files). The Iceberg mapping is one `writeTo(...).overwritePartitions()`
  from the staged files;
* a MANIFEST parquet table records one row per committed partition
  (partition value, row/keep counts, output chars, commit stamp) — these are
  the "per-partition lineage + metrics rows", written and read on the
  driver with pyarrow (no Spark job); each ds's row is appended right
  after its publish as one parquet file, published by rename;
* `resume_run` recomputes only partitions missing from the manifest —
  the kill-and-resume contract (tests/test_resume.py kills mid-run
  and completes on the second invocation without redoing work);
* a stream commit is replay-safe under the foreachBatch batchId
  contract.

This module is the only one that knows the committed-table format:
the committed row shape (COMMITTED_COLS), the partition directory and
stage file names, the three partition metrics (n_rows / n_keep /
out_chars), the manifest row shape and the parquet codec (CODEC, zstd
as in Iceberg's default): the staged write that batch, resume and
stream commits publish, the compaction rewrite and every manifest file
use it. `read_output` declares the row schema Spark recorded in a
committed file's footer instead of inferring it, so building the
reader starts no Spark job and ds reads back as the STRING the files
and the manifest hold.

The salt column spreads a skewed host across `n_salts` write tasks
(host-level skew, north rule) while `partitionBy` on ds keeps the
table layout query-prunable.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from collections.abc import Callable

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

N_SALTS = 16
# parquet codec of every file the sink writes (staged/published data,
# compacted data, manifest), at the codec library's default level
CODEC = "zstd"
# footer key under which Spark records a parquet file's row schema
_SPARK_ROW_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"
MANIFEST_DIR = "_manifest"
STREAM_STAGE_DIR = "_stream_stage"
# the stage is partitioned on a COPY of ds, so the staged (and then
# published) files keep their in-file ds column
_STAGE_KEY = "stage_ds"
_METRICS = ("n_rows", "n_keep", "out_chars")
# the pipeline's committed row, in file column order — batch, resume
# and stream commits into one table all write this shape
COMMITTED_COLS = (
    "url", "ds", "salt", "doc_id", "lang_pred", "ppl",
    "keep", "drop_reason", "scrubbed_text",
)

# When set (e.g. spark.conf.set(ICEBERG_TABLE_CONF, "cat.db.docs")), a
# batch commit goes through Iceberg's `writeTo(...).overwritePartitions()`
# — a real snapshot commit — instead of the parquet-directory overwrite.
# The table must exist and be partitioned by ds. Offline (no Iceberg
# catalog/jars) the branch degrades gracefully to the parquet path; the
# manifest row records which sink actually committed.
ICEBERG_TABLE_CONF = "spark.fineweb.iceberg.table"


def with_partition_cols(
    df: DataFrame,
    ts_col: str = "warc_ts",
    key_col: str = "url",
    n_salts: int = N_SALTS,
    granularity: str = "day",
) -> DataFrame:
    """ds (crawl ts truncated to `granularity`, as string) + salt.

    Production partitions by day; tests pass granularity="minute" so
    the minutes-wide fixture corpus still yields many partitions. The
    salt is NOT a layout column — it only shapes the shuffle so one
    hot host cannot pin a whole write task (pages.py constructs ~1/3
    of urls on host h0 to exercise exactly this)."""
    fmt = "yyyy-MM-dd" if granularity == "day" else "yyyy-MM-dd-HH-mm"
    return df.withColumn(
        "ds", F.date_format(F.date_trunc(granularity, F.col(ts_col)), fmt)
    ).withColumn("salt", F.pmod(F.xxhash64(key_col), F.lit(n_salts)))


def committed_rows(df: DataFrame, granularity: str = "day") -> DataFrame:
    """The pipeline frame `df` in the committed row shape: partition
    columns added, COMMITTED_COLS selected."""
    return with_partition_cols(df, granularity=granularity).select(*COMMITTED_COLS)


def list_partitions(df: DataFrame) -> list[str]:
    return [str(r.ds) for r in df.select("ds").distinct().collect()]


def committed_partitions(spark: SparkSession, out_dir: str) -> set[str]:
    m = _manifest_table(out_dir)
    return set() if m is None else set(m.column("ds").to_pylist())


def _partition_metrics() -> list[Column]:
    """The aggregates behind every manifest row's _METRICS."""
    return [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        F.sum(F.length("scrubbed_text").cast("long")).alias("out_chars"),
    ]


def _metric_values(m) -> dict:
    """_METRICS of an aggregated row as ints (empty sums → 0)."""
    return {k: int(m[k] or 0) for k in _METRICS}


def _commit_stamp() -> dict:
    """committed_at is ISO-8601 UTC with microseconds (one commit
    publishes many ds within a second, and as-of reads must still
    order them); commit_seq (time_ns) breaks ties between rows of one
    ds."""
    ns = time.time_ns()
    second = time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(ns // 10**9))
    return {"committed_at": f"{second}.{ns // 1000 % 10**6:06d}Z", "commit_seq": ns}


def _append_manifest(out_dir: str, rows: list[dict]) -> None:
    """Append manifest rows (all of one shape) as ONE parquet file."""
    _write_manifest_file(os.path.join(out_dir, MANIFEST_DIR), pa.Table.from_pylist(rows))


def _write_manifest_file(mpath: str, table: pa.Table) -> None:
    """One new manifest file, written hidden and renamed into place;
    columns in name order, as Spark's row inference wrote them. No
    schema metadata: a stale Spark row schema hides columns from Spark."""
    os.makedirs(mpath, exist_ok=True)
    name = f"part-{time.time_ns():020d}-{uuid.uuid4().hex[:8]}.parquet"
    tmp = os.path.join(mpath, "." + name)
    table = table.select(sorted(table.column_names)).replace_schema_metadata()
    pq.write_table(table, tmp, compression=CODEC)
    os.replace(tmp, os.path.join(mpath, name))


def _data_files(d: str) -> list[str]:
    """Parquet files of `d`, minus `_`/`.`-prefixed names (as Spark)."""
    try:
        return sorted(
            f for f in os.listdir(d) if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    except OSError:
        return []


def commit(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    batch_id: int | None = None,
    publish_hook: Callable[[str, object], None] | None = None,
) -> list[dict]:
    """Commit every ds of `df` to the ds=... table — the one write
    path of batch, resume and stream commits.

    `df` carries ds/salt/keep/scrubbed_text (with_partition_cols over
    the pipeline). A batch commit (batch_id None) REPLACES each ds it
    holds; a stream commit ADDS micro-batch `batch_id` to its ds, and
    under the foreachBatch batchId contract a crash at ANY point
    replays to the identical on-disk state.

    1. STAGE — ONE write of `df` (repartition(salt), partitioned on a
       copy of ds) under out_dir/_stream_stage/batch=N, or batch=replace
       for a batch commit (no batch id renders to it), overwritten on a
       rerun; the DAG behind `df` runs once.
    2. METRICS — one scan of the staged files grouped by ds (ds read
       back as a string): the same jobs whatever the number of ds.
    3. PUBLISH, each ds in sorted order. Batch: the staged stage_ds=X
       directory replaces ds=X by rename (`_swap_dir`). Stream: each
       staged file moves to ds=X/stream-b{N:06d}-{i:04d}.parquet;
       names are deterministic per (batch, position), and stream-b{N}-*
       leftovers of a torn earlier attempt are deleted first, so replay
       converges on the identical file set.
    4. MANIFEST — the ds's row is appended right after its publish, so
       a kill between partitions leaves each published ds committed
       and a rerun (resume_run) redoes only the rest. A batch row holds
       the ds's metrics and wall_s (seconds from the commit's start to
       this row); a stream row (op='stream_append', batch_id) holds the
       partition's totals AFTER the batch (the ds's latest row + this
       batch's counts), and a (ds, batch) already in the manifest
       (crash between manifest append and checkpoint advance) is
       skipped.

    With ICEBERG_TABLE_CONF set, a batch commit makes ONE
    `writeTo(tbl).overwritePartitions()` from the staged files instead
    of the renames, and its rows record sink='iceberg' + iceberg_table.
    Analysis failures (catalog/jars/table absent) surface before any
    job runs and fall back to the parquet path; a runtime failure
    propagates — a parquet retry would hide a half-committed snapshot.

    `publish_hook(phase, key)` is a crash-injection point, called with
    ('staged', batch_id) once, ('publishing', ds) and ('published', ds)
    around each ds's publish, and ('manifested', batch_id) after the
    last manifest row. Returns one row per ds this call committed: its
    manifest row, except that a stream row's metrics are the batch's
    own counts (none for a fully replayed batch)."""
    hook = publish_hook or (lambda phase, key: None)
    t0 = time.monotonic()
    stream = batch_id is not None
    stage = os.path.join(
        out_dir, STREAM_STAGE_DIR, f"batch={batch_id}" if stream else "batch=replace"
    )
    staged = df.withColumn(_STAGE_KEY, F.col("ds"))
    staged.repartition(F.col("salt")).write.mode("overwrite").option(
        "compression", CODEC
    ).partitionBy(_STAGE_KEY).parquet(stage)
    back = spark.read.schema(staged.schema).parquet(stage)
    added = {
        r.ds: _metric_values(r)
        for r in back.groupBy("ds").agg(*_partition_metrics()).collect()
    }
    hook("staged", batch_id)
    sink = "parquet"
    tbl = None if stream else spark.conf.get(ICEBERG_TABLE_CONF, None)
    if tbl and added:
        try:
            back.drop(_STAGE_KEY).writeTo(tbl).overwritePartitions()
            sink = "iceberg"
        except AnalysisException:
            pass
    seen, before = _stream_manifest_state(out_dir, sorted(added)) if stream else (set(), {})
    rows = []
    for ds in sorted(added):
        hook("publishing", ds)
        src, tgt = os.path.join(stage, f"{_STAGE_KEY}={ds}"), os.path.join(out_dir, f"ds={ds}")
        if stream:
            prefix = f"stream-b{batch_id:06d}-"
            os.makedirs(tgt, exist_ok=True)
            for old in glob.glob(os.path.join(tgt, f"{prefix}*.parquet")):
                os.remove(old)
            for i, f in enumerate(_data_files(src)):
                os.replace(os.path.join(src, f), os.path.join(tgt, f"{prefix}{i:04d}.parquet"))
        elif sink == "parquet":
            _swap_dir(src, tgt)
        hook("published", ds)
        if (ds, batch_id) in seen:
            continue
        row = {"ds": ds, "sink": sink, **added[ds], **_commit_stamp()}
        if stream:
            row.update(op="stream_append", batch_id=batch_id)
            row.update({k: before.get(ds, {}).get(k, 0) + v for k, v in added[ds].items()})
        else:
            row["wall_s"] = round(time.monotonic() - t0, 3)
        if sink == "iceberg":
            # iceberg partitions have no parquet directory under out_dir:
            # read_output locates them by this column
            row["iceberg_table"] = tbl
        _append_manifest(out_dir, [row])
        rows.append({**row, **added[ds]})
    hook("manifested", batch_id)
    shutil.rmtree(stage, ignore_errors=True)
    return rows


def _swap_dir(src: str, dst: str) -> None:
    """Put directory `src` at `dst` by rename (same filesystem). An
    existing `dst` is moved aside first and deleted last: a crash
    mid-swap leaves the old copy either in place or recoverable at the
    `_`-prefixed aside path (hidden from readers) — never zero copies."""
    aside = os.path.join(os.path.dirname(dst), f"_old_{uuid.uuid4().hex[:8]}")
    if os.path.exists(dst):
        os.rename(dst, aside)
    os.rename(src, dst)
    shutil.rmtree(aside, ignore_errors=True)


def write_partition(
    spark: SparkSession, df_partition: DataFrame, out_dir: str, ds: str
) -> dict:
    """`commit` of a frame holding only `ds`; returns its row. Raises
    (before publishing it) on any other ds."""
    def only_ds(phase, key):
        if phase == "publishing" and key != ds:
            raise ValueError(f"write_partition(ds={ds!r}) got rows of ds={key!r}")

    return commit(spark, df_partition, out_dir, publish_hook=only_ds)[0]


def resume_run(
    spark: SparkSession,
    build_df: Callable[[SparkSession], DataFrame],
    out_dir: str,
    fail_after: int | None = None,
) -> list[dict]:
    """Commit every ds partition not yet in the manifest.

    build_df returns the full pipeline DataFrame (must already carry
    ds/salt/keep/scrubbed_text). The pending rows go through ONE
    `commit`, which appends each ds's manifest row right after its
    publish: checkpoint granularity IS the partition, exactly the
    reference's rerun-failed-shards model (SURVEY.md §1.3).

    fail_after: test hook — raise after N partitions (kill simulation).
    """
    df = build_df(spark)
    done = committed_partitions(spark, out_dir)
    if done:
        df = df.where(~F.col("ds").isin(sorted(done)))
    started: list[str] = []

    def kill(phase, ds):
        if phase == "publishing":
            if len(started) == fail_after:
                raise RuntimeError(f"injected failure before partition {ds}")
            started.append(ds)

    return commit(spark, df, out_dir, publish_hook=None if fail_after is None else kill)


def _stream_manifest_state(
    out_dir: str, ds_list: list[str]
) -> tuple[set[tuple[str, int]], dict[str, dict]]:
    """One manifest read for a stream commit over `ds_list`: the
    (ds, batch_id) pairs already committed (the replay guard) and each
    ds's latest _METRICS (the totals the batch adds to)."""
    m = _manifest_table(out_dir)
    if m is None:
        return set(), {}
    m = m.filter(pc.is_in(m["ds"], pa.array(ds_list, pa.string())))
    # batch-sink-only manifests have no batch_id column
    seen = {
        (r["ds"], r["batch_id"]) for r in m.to_pylist()
        if r.get("batch_id") is not None
    }
    return seen, {r["ds"]: _metric_values(r) for r in _latest_per_ds(m).to_pylist()}


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """All committed partitions, across sinks.

    The manifest's latest row per ds says which partitions are
    committed and where each lives: parquet partitions are read from
    exactly the ds=X directories it names (basePath keeps ds a
    partition column, so a ds filter still prunes); a published ds
    with no manifest row yet (a crash between publish and manifest
    append) is not committed and is not read. Only a table with no
    manifest at all falls back to every ds=X directory on disk.
    Partitions committed through the Iceberg branch leave no parquet
    directory under out_dir: they are read from their table and
    unioned by name. An iceberg manifest row whose table can no longer
    be resolved raises instead of returning partial data.

    The parquet scan declares the row schema Spark recorded in the
    footer of the first committed file (read with pyarrow) instead of
    inferring it: building the reader starts no Spark job, and ds
    stays the STRING the files and the manifest hold at every
    granularity (partition inference makes a day-granular ds a DATE).
    Columns keep the files' order."""
    def _parquet_scan(ds_list) -> DataFrame:
        dirs = [os.path.join(out_dir, f"ds={ds}") for ds in ds_list]
        reader = spark.read.option("basePath", out_dir)
        schema = _file_schema(dirs)
        if schema is None:  # no committed file: Spark reports the paths
            return reader.parquet(*dirs)
        # Spark appends a declared partition column; re-select file order
        return reader.schema(schema).parquet(*dirs).select(*schema.names)

    m = _manifest_table(out_dir)
    if m is None:
        return _parquet_scan(
            sorted(d[3:] for d in os.listdir(out_dir) if d.startswith("ds="))
        )
    latest = _latest_per_ds(m).to_pylist()
    ice_rows = [r for r in latest if r.get("sink") == "iceberg"]
    parquet_ds = [r["ds"] for r in latest if r.get("sink") != "iceberg"]
    out = _parquet_scan(parquet_ds) if parquet_ds else None
    by_table: dict[str, list[str]] = {}
    for r in ice_rows:
        tbl = r.get("iceberg_table")
        if not tbl:
            raise RuntimeError(
                f"manifest records ds={r['ds']} committed to iceberg but no "
                "iceberg_table column — cannot locate the data; refusing "
                "to return partial output"
            )
        by_table.setdefault(tbl, []).append(r["ds"])
    for tbl, ds_list in by_table.items():
        try:
            ice = spark.table(tbl).where(F.col("ds").isin(ds_list))
        except Exception as e:  # noqa: BLE001
            raise RuntimeError(
                f"manifest records partitions {ds_list} committed to "
                f"iceberg table {tbl!r}, which is not resolvable in this "
                "session — refusing to return partial output"
            ) from e
        out = ice if out is None else out.unionByName(
            ice, allowMissingColumns=True
        )
    return out


def _file_schema(dirs: list[str]) -> StructType | None:
    """The row schema Spark recorded in the footer of the first data
    file under `dirs`, read with pyarrow: no Spark job infers it.
    None when the dirs hold no data file."""
    first = next((os.path.join(d, f) for d in dirs for f in _data_files(d)), None)
    if first is None:
        return None
    return StructType.fromJson(json.loads(pq.read_schema(first).metadata[_SPARK_ROW_SCHEMA]))


def _manifest_table(out_dir: str) -> pa.Table | None:
    """Every manifest row, or None when there is no manifest yet.
    Stream, compaction and iceberg rows widen the schema over time:
    the files' schemas are unified (the mergeSchema analog)."""
    mpath = os.path.join(out_dir, MANIFEST_DIR)
    files = [os.path.join(mpath, f) for f in _data_files(mpath)]
    if not files:
        return None
    schema = pa.unify_schemas([pq.read_schema(f) for f in files])
    m = pq.read_table(files, schema=schema, partitioning=None)
    if "commit_seq" not in m.column_names:  # pre-upgrade manifests
        m = m.append_column("commit_seq", pa.nulls(m.num_rows, pa.int64()))
    return m


def _latest_per_ds(m: pa.Table | None) -> pa.Table:
    """The manifest row in force for each ds (rewrites supersede older
    rows); raises when there is no manifest. commit_seq (time_ns)
    breaks committed_at ties (second-granular stamps of older rows);
    rows from pre-upgrade manifests have null seq and lose ties, the
    correct supersedence order."""
    if m is None:
        raise FileNotFoundError(f"no {MANIFEST_DIR} to read")
    m = m.sort_by(  # nulls sort last
        [("ds", "ascending"), ("committed_at", "descending"), ("commit_seq", "descending")]
    )
    ds = m["ds"].to_pylist()
    first = [i for i in range(len(ds)) if i == 0 or ds[i] != ds[i - 1]]
    # typed: an empty (filtered) manifest must still take cleanly
    return m.take(pa.array(first, pa.int64()))


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    """Latest manifest row per ds, as a local relation: filters and
    collects over it start no Spark job."""
    return spark.createDataFrame(_latest_per_ds(_manifest_table(out_dir)))


def read_output_asof(spark: SparkSession, out_dir: str, as_of: str) -> DataFrame:
    """Snapshot read: only partitions whose manifest commit is ≤ as_of
    (ISO-8601 UTC string) — the parquet-manifest analog of Iceberg
    time travel (`VERSION AS OF` / `TIMESTAMP AS OF`)."""
    man = _latest_per_ds(_manifest_table(out_dir))
    ds_list = man.filter(pc.less_equal(man["committed_at"], as_of))["ds"].to_pylist()
    if not ds_list:
        return read_output(spark, out_dir).limit(0)
    return read_output(spark, out_dir).where(F.col("ds").isin(ds_list))


# ---------------------------------------------------------------------------
# Table maintenance — the operations a 100-TB partitioned table needs
# between writes (the parquet-manifest analogs of Iceberg's
# rewrite_data_files / expire_snapshots).
# ---------------------------------------------------------------------------


def partition_files(out_dir: str, ds: str) -> list[str]:
    return _data_files(os.path.join(out_dir, f"ds={ds}"))


def compact_partition(
    spark: SparkSession, out_dir: str, ds: str, target_files: int = 1
) -> dict:
    """Rewrite one ds partition into `target_files` files (small-file
    compaction: every salted write leaves up to N_SALTS files per
    partition; streams of incremental runs accumulate them until scan
    planning is dominated by file-open overhead). Reads the partition,
    coalesces, overwrites the SAME directory via a temp dir + atomic
    rename, and appends a superseding manifest row (op='compact') so
    time-travel reads stay consistent; the row re-derives the
    partition's metrics from the compacted files. Both reads declare
    their schema, so no Spark job only infers one. Returns the row."""
    pdir = os.path.join(out_dir, f"ds={ds}")
    n_before = len(partition_files(out_dir, ds))
    t0 = time.monotonic()
    schema = _file_schema([pdir])
    if schema is None:
        raise FileNotFoundError(f"ds={ds} has no committed file under {out_dir}")
    df = spark.read.schema(schema).parquet(pdir)
    # compacted copy is written NEXT TO the partition (same filesystem,
    # so the swap below is two cheap renames, never a cross-fs copy)
    tag = uuid.uuid4().hex[:8]
    tmp = os.path.join(out_dir, f"_compact_{tag}")
    df.coalesce(target_files).write.mode("overwrite").option("compression", CODEC).parquet(tmp)
    metrics = _metric_values(
        spark.read.schema(df.schema).parquet(tmp).agg(*_partition_metrics()).first()
    )
    _swap_dir(tmp, pdir)
    row = {
        "ds": ds,
        "sink": "parquet",
        "op": "compact",
        **metrics,
        "n_files_before": n_before,
        "n_files_after": len(partition_files(out_dir, ds)),
        "wall_s": round(time.monotonic() - t0, 3),
        **_commit_stamp(),
    }
    _append_manifest(out_dir, [row])
    return row


def vacuum_manifest(spark: SparkSession, out_dir: str) -> int:
    """Drop superseded manifest rows (every row except the latest per
    ds) — the expire-snapshots analog. Time-travel reads older than the
    vacuum horizon stop resolving, exactly like Iceberg retention.
    Returns the number of rows removed."""
    mpath = os.path.join(out_dir, MANIFEST_DIR)
    full = _manifest_table(out_dir)
    latest = _latest_per_ds(full)
    tmp = mpath + "__vacuum"
    shutil.rmtree(tmp, ignore_errors=True)  # a torn earlier vacuum
    _write_manifest_file(tmp, latest)
    _swap_dir(tmp, mpath)
    return full.num_rows - latest.num_rows
