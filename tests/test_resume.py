"""Kill-and-resume contract of the committed write layer (north rule).

Run the full pipeline partition-by-partition, inject a failure after
two commits, then resume: the second run must (a) complete, (b) NOT
rewrite the already-committed partitions, (c) produce exactly the
rows a straight-through run produces, and (d) leave one manifest
metrics row per partition.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from fineweb_modal_spark import sinks
from fineweb_modal_spark.plans import pipeline as pl

SF = "/root/testdata/sf0.001"


def _build(spark):
    df = pl.run_pipeline(spark, SF)
    return sinks.with_partition_cols(df, granularity="minute").select(
        "url", "ds", "salt", "doc_id", "keep", "drop_reason", "scrubbed_text"
    )


def test_kill_and_resume(spark, tmp_path):
    out = str(tmp_path / "out")

    with pytest.raises(RuntimeError, match="injected failure"):
        sinks.resume_run(spark, _build, out, fail_after=2)

    committed_first = sinks.committed_partitions(spark, out)
    assert len(committed_first) == 2

    # record commit fingerprints (file mtimes) of the first two dirs
    def part_mtime(ds: str) -> float:
        d = os.path.join(out, f"ds={ds}")
        return max(os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d))

    mtimes = {ds: part_mtime(ds) for ds in committed_first}

    rows = sinks.resume_run(spark, _build, out)
    assert {r["ds"] for r in rows}.isdisjoint(committed_first)

    # previously committed partitions untouched by the resume
    for ds, mt in mtimes.items():
        assert part_mtime(ds) == mt

    # output complete and exactly equal to a straight-through plan
    got = sinks.read_output(spark, out)
    want = _build(spark)
    assert got.count() == want.count()
    assert (
        got.select("url", "keep", "scrubbed_text")
        .exceptAll(want.select("url", "keep", "scrubbed_text"))
        .count()
        == 0
    )

    # one manifest metrics row per partition, counts consistent
    man = sinks.read_manifest(spark, out).collect()
    assert len(man) == len(sinks.committed_partitions(spark, out))
    per_ds = {
        r.ds: r.n
        for r in got.groupBy("ds").agg(F.count("*").alias("n")).collect()
    }
    for r in man:
        assert r.n_rows == per_ds[r.ds]
        assert 0 <= r.n_keep <= r.n_rows


def test_rerun_is_noop(spark, tmp_path):
    out = str(tmp_path / "out2")
    first = sinks.resume_run(spark, _build, out)
    assert first
    second = sinks.resume_run(spark, _build, out)
    assert second == []


def test_salt_spreads_hot_host(spark):
    """~1/3 of urls share host h0; the salt must spread them across
    (nearly) all write buckets."""
    df = sinks.with_partition_cols(
        pl.run_pipeline(spark, SF), granularity="day"
    )
    hot = df.where(F.col("url").like("https://h0.%"))
    n_buckets = hot.select("salt").distinct().count()
    assert n_buckets >= sinks.N_SALTS - 2


def test_partition_pruning_on_output(spark, tmp_path):
    """Reading one ds partition of the committed output must prune at
    the source (PartitionFilters in the scan), not post-filter — the
    property that makes per-day queries O(day) not O(corpus)."""
    out = str(tmp_path / "out3")
    sinks.resume_run(spark, _build, out)
    some_ds = sorted(sinks.committed_partitions(spark, out))[0]
    q = sinks.read_output(spark, out).where(F.col("ds") == some_ds)
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "ds" in m.group(1)
    assert q.count() > 0


def test_time_travel_read(spark, tmp_path):
    """Snapshot-as-of read returns exactly the partitions committed at
    or before the chosen manifest timestamp."""
    out = str(tmp_path / "out4")
    sinks.resume_run(spark, _build, out)
    man = sorted(sinks.read_manifest(spark, out).collect(), key=lambda r: (r.committed_at, r.ds))
    cut = man[1].committed_at  # after the second commit (ties included)
    expected_ds = {r.ds for r in man if r.committed_at <= cut}
    got = sinks.read_output_asof(spark, out, cut)
    assert {r.ds for r in got.select("ds").distinct().collect()} == expected_ds
    # full read sees strictly more partitions than the snapshot
    assert len(expected_ds) < len(man)


def test_iceberg_branch_falls_back_gracefully_offline(spark, tmp_path):
    """With spark.fineweb.iceberg.table set but no Iceberg catalog
    configured (this container), write_partition must degrade to the
    parquet+manifest path, record sink='parquet', and produce
    identical output to an unconfigured run."""
    out = str(tmp_path / "out_ice")
    spark.conf.set(sinks.ICEBERG_TABLE_CONF, "nosuchcat.db.docs")
    try:
        sinks.resume_run(spark, _build, out)
    finally:
        spark.conf.unset(sinks.ICEBERG_TABLE_CONF)
    man = sinks.read_manifest(spark, out).collect()
    assert man and all(r.sink == "parquet" for r in man)
    got = sinks.read_output(spark, out)
    want = _build(spark)
    assert got.count() == want.count()


def test_compaction_preserves_data_and_supersedes_manifest(spark, tmp_path):
    """Compacting a salted partition reduces its file count to 1,
    leaves the row set byte-identical, and appends a superseding
    manifest row; vacuum then drops the superseded history."""
    import os
    import shutil
    import tempfile

    out = str(tmp_path / "out_compact")
    sinks.resume_run(spark, _build, out)
    ds = sorted(sinks.committed_partitions(spark, out))[0]
    # simulate small-file accumulation from incremental runs (AQE
    # coalesces the salted shuffle to one file at fixture scale):
    # split the partition into 4 files, byte-identical row set
    pdir = os.path.join(out, f"ds={ds}")
    tmp = tempfile.mkdtemp(prefix="split_") + "/part"
    spark.read.parquet(pdir).repartition(4).write.parquet(tmp)
    shutil.rmtree(pdir)
    shutil.move(tmp, pdir)
    before_rows = sorted(
        map(tuple, sinks.read_output(spark, out).where(F.col("ds") == ds).collect())
    )
    n_files_before = len(sinks.partition_files(out, ds))
    assert n_files_before > 1

    row = sinks.compact_partition(spark, out, ds, target_files=1)
    assert row["n_files_after"] == 1
    assert row["n_rows"] == len(before_rows)
    after_rows = sorted(
        map(tuple, sinks.read_output(spark, out).where(F.col("ds") == ds).collect())
    )
    assert after_rows == before_rows
    # manifest: compact row supersedes the original write row for ds
    man = {r.ds: r for r in sinks.read_manifest(spark, out).collect()}
    assert man[ds].op == "compact"
    # resume is still a no-op (partition remains committed)
    assert sinks.resume_run(spark, _build, out) == []

    removed = sinks.vacuum_manifest(spark, out)
    assert removed >= 1
    man2 = {r.ds: r for r in sinks.read_manifest(spark, out).collect()}
    assert set(man2) == set(man)


def test_manifest_schema_evolution_reads_merged(spark, tmp_path):
    """Maintenance rows widen the manifest schema (op, file counts);
    read_manifest must surface old and new row shapes together."""
    out = str(tmp_path / "out_evolve")
    sinks.resume_run(spark, _build, out)
    ds = sorted(sinks.committed_partitions(spark, out))[0]
    sinks.compact_partition(spark, out, ds)
    man = sinks.read_manifest(spark, out)
    cols = set(man.columns)
    assert {"ds", "n_rows", "committed_at", "op", "n_files_after"} <= cols
    # non-compacted partitions still carry their write metrics
    other = [r for r in man.collect() if r.ds != ds]
    assert other and all(r.n_keep is not None for r in other)


def test_read_output_refuses_partial_when_iceberg_unresolvable(spark, tmp_path):
    """A manifest recording an iceberg-committed partition whose table
    cannot be resolved must make read_output RAISE, not silently return
    only the parquet partitions (reader blindness to iceberg commits)."""
    import pytest

    out = str(tmp_path / "out_mixed")
    sinks.resume_run(spark, _build, out)
    n_parquet_ds = sinks.read_manifest(spark, out).count()
    # forge an iceberg-committed partition row (a ds with no parquet dir)
    sinks._append_manifest(
        out,
        [{
            "ds": "9999-01-01-00-00",
            "sink": "iceberg",
            "iceberg_table": "nosuchcat.db.docs",
            "n_rows": 1,
            "n_keep": 1,
            "out_chars": 1,
            "wall_s": 0.0,
            "committed_at": "2099-01-01T00:00:00Z",
            "commit_seq": 1,
        }],
    )
    with pytest.raises(RuntimeError, match="refusing to return partial"):
        sinks.read_output(spark, out).count()
    # resume must also treat the iceberg ds as committed (not rerun it)
    assert "9999-01-01-00-00" in sinks.committed_partitions(spark, out)
    assert sinks.read_manifest(spark, out).count() == n_parquet_ds + 1


def test_vacuum_survives_and_is_crash_safe_layout(spark, tmp_path):
    """vacuum keeps exactly the latest row per ds and leaves no
    aside/temp directories behind (the crash-safe swap cleans up)."""
    import os

    out = str(tmp_path / "out_vac")
    sinks.resume_run(spark, _build, out)
    ds0 = sorted(sinks.committed_partitions(spark, out))[0]
    sinks.compact_partition(spark, out, ds0)  # superseding row
    removed = sinks.vacuum_manifest(spark, out)
    assert removed >= 1
    man = sinks.read_manifest(spark, out)
    assert man.groupBy("ds").count().where("count > 1").count() == 0
    leftovers = [
        f for f in os.listdir(out)
        if f.startswith("_manifest__vacuum")
    ]
    assert leftovers == []


def _tiny_df(spark, ds_list=("2024-01-01-00-00", "2024-01-01-00-01")):
    """A few committed-shape rows per ds, without the pipeline."""
    return spark.createDataFrame(
        [
            (f"http://t.example/{ds}/{i}", ds, i, n * 10 + i, i % 2 == 0,
             None, f"text {i}")
            for n, ds in enumerate(ds_list)
            for i in range(3)
        ],
        "url string, ds string, salt long, doc_id long, keep boolean, "
        "drop_reason string, scrubbed_text string",
    )


def test_unreadable_manifest_fails_loudly(spark, tmp_path):
    """A corrupt manifest file must raise, not read as "no manifest":
    otherwise resume_run silently recommits every partition and
    read_output silently drops iceberg-committed partitions."""
    import pyarrow as pa

    out = str(tmp_path / "out_corrupt")
    assert len(sinks.resume_run(spark, _tiny_df, out)) == 2
    with open(os.path.join(out, sinks.MANIFEST_DIR, "part-x.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(pa.ArrowInvalid):
        sinks.resume_run(spark, _tiny_df, out)
    with pytest.raises(pa.ArrowInvalid):
        sinks.read_output(spark, out)


def test_hidden_files_stay_hidden(spark, tmp_path):
    """`.`-prefixed files (a torn manifest temp file, a stray hidden
    file in a ds= or stage dir) are never listed, published or read
    as manifest rows — the rule Spark and Arrow readers apply."""
    out = str(tmp_path / "out_hidden")
    ds0, ds1 = "2024-01-01-00-00", "2024-01-01-00-01"
    sinks.commit(spark, _tiny_df(spark, [ds0]), out)
    junk = b"torn write"
    with open(os.path.join(out, sinks.MANIFEST_DIR, ".part-torn.parquet"), "wb") as f:
        f.write(junk)
    with open(os.path.join(out, f"ds={ds0}", ".part-stray.parquet"), "wb") as f:
        f.write(junk)
    assert all(not f.startswith(".") for f in sinks.partition_files(out, ds0))
    assert sinks.committed_partitions(spark, out) == {ds0}

    def stray_in_stage(phase, batch_id):
        if phase == "staged":
            stage = os.path.join(out, sinks.STREAM_STAGE_DIR, f"batch={batch_id}")
            for d in os.listdir(stage):
                if d.startswith("stage_ds="):
                    with open(os.path.join(stage, d, ".part-stray.parquet"), "wb") as f:
                        f.write(junk)

    rows = sinks.commit(spark, _tiny_df(spark, [ds1]), out, 0, stray_in_stage)
    assert [(r["ds"], r["n_rows"]) for r in rows] == [(ds1, 3)]
    assert all(not f.startswith(".") for f in os.listdir(os.path.join(out, f"ds={ds1}")))
    assert {r.ds: r.n_rows for r in sinks.read_manifest(spark, out).collect()} == {
        ds0: 3, ds1: 3,
    }
    assert sinks.read_output(spark, out).count() == 6


def test_commit_jobs_independent_of_ds_count(spark, tmp_path, jobs_of):
    """One staged write and one metrics scan, then renames: a commit
    over 6 ds starts no more Spark jobs than one over 2 ds."""
    ds6 = [f"2024-01-01-00-0{i}" for i in range(6)]
    jobs = {
        n: jobs_of(
            f"commit-{n}-ds",
            lambda n=n: sinks.commit(spark, _tiny_df(spark, ds6[:n]), str(tmp_path / f"o{n}")),
        )
        for n in (2, 6)
    }
    assert jobs[2] == jobs[6] > 0, jobs
    assert sinks.committed_partitions(spark, str(tmp_path / "o6")) == set(ds6)


def test_read_output_declares_committed_schema(spark, tmp_path, jobs_of):
    """read_output takes its schema from a committed file's footer:
    building it starts no Spark job, the columns keep the files'
    order, and a day-granular ds reads back as the string it was
    written as (partition inference would make it a DATE)."""
    out = str(tmp_path / "out_schema")
    ds2 = ["2024-01-01", "2024-01-02"]
    rows = _tiny_df(spark, ds2)
    sinks.commit(spark, rows, out)
    built = []
    assert jobs_of("read-output", lambda: built.append(sinks.read_output(spark, out))) == 0
    got = built[0]
    assert got.columns == rows.columns
    assert got.schema["ds"].dataType.simpleString() == "string"
    committed = got.collect()
    assert sorted(committed) == sorted(rows.collect())
    assert {type(r.ds) for r in committed} == {str}
    assert got.where(F.col("ds") == ds2[1]).count() == 3


def test_compact_partition_infers_no_schema(spark, tmp_path, jobs_of):
    """compact_partition declares both of its read schemas (the
    committed footer, then the frame it just wrote): it starts 3
    Spark jobs — the rewrite and the metrics scan — where inferring
    the partition's and the temp dir's schemas started 5."""
    out = str(tmp_path / "out_compact_jobs")
    ds0 = "2024-01-01-00-00"
    rows = _tiny_df(spark, [ds0])
    sinks.commit(spark, rows, out)
    got = []
    assert jobs_of("compact", lambda: got.append(sinks.compact_partition(spark, out, ds0))) == 3
    assert got[0]["n_rows"] == 3
    assert sorted(sinks.read_output(spark, out).collect()) == sorted(rows.collect())


def test_every_written_file_is_zstd(spark, tmp_path):
    """Batch commit, stream commit, compaction and their manifest
    appends all write zstd column chunks, and read_output returns the
    committed rows unchanged."""
    import pyarrow.parquet as pq

    out = str(tmp_path / "out_codec")
    ds0, ds1 = "2024-01-01-00-00", "2024-01-01-00-01"
    batch, stream = _tiny_df(spark, [ds0]), _tiny_df(spark, [ds1])
    sinks.commit(spark, batch, out)
    sinks.commit(spark, stream, out, batch_id=0)
    assert sinks.compact_partition(spark, out, ds0)["op"] == "compact"
    files = [
        os.path.join(out, d, f)
        for d in (f"ds={ds0}", f"ds={ds1}", sinks.MANIFEST_DIR)
        for f in os.listdir(os.path.join(out, d))
        if f.endswith(".parquet") and not f.startswith(".")
    ]
    assert len(os.listdir(os.path.join(out, sinks.MANIFEST_DIR))) == 3
    codecs = set()
    for path in files:
        meta = pq.ParquetFile(path).metadata
        codecs |= {
            meta.row_group(g).column(c).compression
            for g in range(meta.num_row_groups)
            for c in range(meta.num_columns)
        }
    assert codecs == {"ZSTD"}, codecs
    want = sorted(batch.union(stream).collect())
    assert sorted(sinks.read_output(spark, out).collect()) == want


def test_batch_commit_replaces_stream_files(spark, tmp_path):
    """A batch commit over a ds that holds stream files replaces them:
    no duplicate rows, and the manifest row in force has the new
    totals."""
    out = str(tmp_path / "out_replace")
    ds0 = "2024-01-01-00-00"
    sinks.commit(spark, _tiny_df(spark, [ds0]), out, batch_id=0)
    assert any(f.startswith("stream-b") for f in sinks.partition_files(out, ds0))
    new = _tiny_df(spark, [ds0]).where(F.col("salt") != 1)
    (row,) = sinks.commit(spark, new, out)
    assert not any(f.startswith("stream-b") for f in sinks.partition_files(out, ds0))
    got = sinks.read_output(spark, out).select("url", "keep", "scrubbed_text")
    assert sorted(got.collect()) == sorted(new.select("url", "keep", "scrubbed_text").collect())
    man = sinks.read_manifest(spark, out).collect()
    assert [(r.ds, r.n_rows, r.n_keep, r.out_chars) for r in man] == [
        (ds0, 2, 2, 12)
    ] == [(row["ds"], row["n_rows"], row["n_keep"], row["out_chars"])]


def test_crash_between_partitions_leaves_table_readable(spark, tmp_path):
    """A publish_hook that raises after the first ds of a 3-ds batch
    commit: the first ds is committed, the others absent, the table
    readable; a rerun converges on the straight-through output."""
    out, straight = str(tmp_path / "out_crash"), str(tmp_path / "out_straight")
    ds3 = ["2024-01-01-00-00", "2024-01-01-00-01", "2024-01-01-00-02"]

    def boom(phase, key):
        if phase == "publishing" and key != ds3[0]:
            raise RuntimeError("injected crash after the first ds")

    with pytest.raises(RuntimeError, match="injected crash"):
        sinks.commit(spark, _tiny_df(spark, ds3), out, publish_hook=boom)
    assert sinks.committed_partitions(spark, out) == {ds3[0]}
    assert sorted(f for f in os.listdir(out) if f.startswith("ds=")) == [f"ds={ds3[0]}"]
    assert {r.ds for r in sinks.read_output(spark, out).collect()} == {ds3[0]}

    sinks.commit(spark, _tiny_df(spark, ds3), out)
    sinks.commit(spark, _tiny_df(spark, ds3), straight)

    def table(d):
        rows = sinks.read_output(spark, d).select("url", "ds", "keep", "scrubbed_text")
        man = sinks.read_manifest(spark, d).select("ds", "n_rows", "n_keep", "out_chars")
        return sorted(rows.collect()), sorted(man.collect())

    assert table(out) == table(straight)
    assert len(table(out)[0]) == 9


def test_read_output_skips_published_ds_without_manifest_row(spark, tmp_path):
    """A crash after a ds's rename but before its manifest row leaves a
    ds=X directory on disk that is not committed: read_output returns
    only the ds the manifest names."""
    out = str(tmp_path / "out_torn")
    ds3 = ["2024-01-01-00-00", "2024-01-01-00-01", "2024-01-01-00-02"]

    def boom(phase, key):
        if (phase, key) == ("published", ds3[1]):
            raise RuntimeError("injected crash before the manifest row")

    with pytest.raises(RuntimeError, match="injected crash"):
        sinks.commit(spark, _tiny_df(spark, ds3), out, publish_hook=boom)
    assert os.path.isdir(os.path.join(out, f"ds={ds3[1]}"))
    assert sinks.committed_partitions(spark, out) == {ds3[0]}
    assert sorted(r.ds for r in sinks.read_output(spark, out).collect()) == [ds3[0]] * 3


def test_write_partition_commits_exactly_one_ds(spark, tmp_path):
    """write_partition returns its ds's row, and refuses a frame that
    holds another ds before publishing anything."""
    out = str(tmp_path / "out_one")
    ds0, ds1 = "2024-01-01-00-00", "2024-01-01-00-01"
    row = sinks.write_partition(spark, _tiny_df(spark, [ds0]), out, ds0)
    assert (row["ds"], row["n_rows"], row["sink"]) == (ds0, 3, "parquet")
    with pytest.raises(ValueError, match="got rows of ds"):
        sinks.write_partition(spark, _tiny_df(spark, [ds0, ds1]), out, ds1)
    assert sinks.committed_partitions(spark, out) == {ds0}


def test_manifest_path_starts_no_spark_job(spark, tmp_path):
    """The manifest is written and read on the driver: an append, a
    filtered read_manifest collect and committed_partitions start no
    Spark job."""
    out = str(tmp_path / "out_nojob")
    sc = spark.sparkContext
    group = "manifest-no-job"
    sc.setJobGroup(group, "manifest append + reads")
    try:
        for i, ds in enumerate(["2024-01-01", "2024-01-02", "2024-01-01"]):
            sinks._append_manifest(out, [{
                "ds": ds, "sink": "parquet", "n_rows": i, "n_keep": i,
                "out_chars": i, "committed_at": f"2024-01-0{i + 1}T00:00:00Z",
                "commit_seq": i,
            }])
        got = (
            sinks.read_manifest(spark, out)
            .where(F.col("ds").isin(["2024-01-01"]))
            .select("ds", "n_rows")
            .collect()
        )
        done = sinks.committed_partitions(spark, out)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert [(r.ds, r.n_rows) for r in got] == [("2024-01-01", 2)]
    assert done == {"2024-01-01", "2024-01-02"}
    assert jobs == []


def test_pre_upgrade_manifest_reads_merged(spark, tmp_path):
    """A manifest first written by Spark (no commit_seq column), then
    appended to on the driver, reads as one table; the old rows'
    null commit_seq loses a same-second tie to a new row."""
    out = str(tmp_path / "out_upgrade")
    mpath = os.path.join(out, sinks.MANIFEST_DIR)
    stamp = "2024-01-01T00:00:00Z"
    old = [
        {"ds": ds, "sink": "parquet", "n_rows": n, "n_keep": n,
         "out_chars": n, "wall_s": 0.5, "committed_at": stamp}
        for ds, n in (("a", 1), ("b", 2))
    ]
    spark.createDataFrame(old).coalesce(1).write.parquet(mpath)
    sinks._append_manifest(out, [{
        "ds": "a", "sink": "parquet", "op": "compact", "n_rows": 10,
        "n_keep": 10, "out_chars": 10, "committed_at": stamp, "commit_seq": 1,
    }])
    assert sinks.committed_partitions(spark, out) == {"a", "b"}
    man = {r.ds: r for r in sinks.read_manifest(spark, out).collect()}
    assert (man["a"].n_rows, man["a"].op, man["a"].commit_seq) == (10, "compact", 1)
    assert (man["b"].n_rows, man["b"].op, man["b"].commit_seq) == (2, None, None)
    # the mixed file set stays readable by Spark itself
    merged = spark.read.option("mergeSchema", "true").parquet(mpath)
    assert merged.count() == 3
    assert {"op", "commit_seq", "wall_s"} <= set(merged.columns)
