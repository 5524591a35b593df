"""Arrow IPC shard source: a directory of `.arrow` files as a DataFrame.

The reference's chunker consumes HF-saved Arrow shards
(`data-00000-of-00138.arrow`, chunker.py:55,124) by assigning one file
per container. Spark has no built-in Arrow IPC reader, so this
connector re-expresses that fan-out Spark-side:

* the DRIVER touches only file NAMES (os.listdir) and ONE schema
  (first shard's header) — metadata-sized, never row data;
* the file list becomes one task per shard (`shards.scan`, shared
  with the WARC/CDX readers) — the Spark analog of the reference's
  one-file-per-container map;
* each task opens its shard with pyarrow and yields ONE pandas frame
  PER RECORD BATCH, so peak task memory is a batch, not a file.

Scale notes: parallelism is file-granular (an IPC *file*-format shard
is random-accessible per record batch, but a *stream*-format shard —
what HF writes — is not splittable), matching the reference's own
sharding contract: throughput scales with shard count. Column pruning
happens at the pyarrow layer via `columns=`; pass the projection down
rather than select()ing after the scan when reading wide shards.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from . import shards

ARROW_EXT = (".arrow",)


def _open_reader(path: str):
    """IPC file format (magic 'ARROW1') or stream format — both occur
    in the wild; HF `save_to_disk` writes stream-format `.arrow`."""
    import pyarrow as pa

    with open(path, "rb") as f:
        magic = f.read(6)
    if magic == b"ARROW1":
        return pa.ipc.open_file(pa.memory_map(path))
    return pa.ipc.open_stream(pa.input_stream(path))


def iter_batches(path: str, columns: list[str] | None = None):
    """Every record batch of one shard, in order, pruned to `columns`."""
    r = _open_reader(path)
    batches = (
        (r.get_batch(i) for i in range(r.num_record_batches))
        if hasattr(r, "num_record_batches")
        else iter(r)
    )
    for batch in batches:
        yield batch if columns is None else batch.select(columns)


def _spark_schema(path: str, columns: list[str] | None = None):
    """Spark schema from one shard's header (metadata-sized)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    schema = _open_reader(path).schema
    if columns is not None:
        schema = pa.schema([schema.field(c) for c in columns])
    return from_arrow_schema(schema)


def read_arrow_ipc(
    spark: SparkSession,
    shard_dir: str,
    columns: list[str] | None = None,
) -> DataFrame:
    """Distributed scan over every `.arrow` shard in `shard_dir`: one
    pandas frame per record batch."""
    return shards.scan(
        spark,
        shard_dir,
        ARROW_EXT,
        lambda path: (b.to_pandas() for b in iter_batches(path, columns)),
        lambda first: _spark_schema(first, columns),
    )


def make_arrow_ipc_datasource():
    """The same shard scan as a REAL Spark data source (PySpark 4
    Python Data Source API): `spark.dataSource.register(...)`, then

        spark.read.format("arrow_ipc").load(shard_dir)

    One `InputPartition` per shard file (the splittability contract of
    stream-format IPC — parallelism is file-granular, identical to
    `read_arrow_ipc`), and `read()` yields pyarrow RecordBatches
    directly — the Arrow-native fast path; no pandas hop, no row
    materialization. The driver touches only file names + one schema
    header. Built inside a factory so importing this module never
    requires the pyspark.sql.datasource symbols at module load."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _Reader(DataSourceReader):
        def __init__(self, paths: list[str]):
            self._paths = paths

        def partitions(self):
            return [InputPartition(p) for p in self._paths]

        def read(self, partition):
            yield from iter_batches(partition.value)

    from pyspark.sql.datasource import (
        DataSourceArrowWriter,
        WriterCommitMessage,
    )

    class _ShardCommit(WriterCommitMessage):
        def __init__(self, tmp_path: str | None, n_rows: int):
            self.tmp_path = tmp_path
            self.n_rows = n_rows

    class _Writer(DataSourceArrowWriter):
        """Task-local stream-format shard + driver-side commit rename:
        each task streams its RecordBatches into a `.tmp` shard
        (batch-at-a-time memory, no row materialization), returns the
        tmp path + row count as its commit message, and the driver's
        commit() publishes the survivors as HF-style
        `data-{i:05d}-of-{n:05d}.arrow` (`shards.publish`: overwrite
        replaces the shard set, append renumbers it) — torn runs leave
        only `.tmp` files that no listing matches, so readers never
        observe a partial write (the same discipline as sinks.commit)."""

        def __init__(self, out_dir: str, overwrite: bool):
            self._out = out_dir
            self._overwrite = overwrite

        def write(self, batches):
            import pyarrow as pa

            os.makedirs(self._out, exist_ok=True)
            tmp, writer, n = None, None, 0
            for batch in batches:
                if writer is None:
                    tmp = shards.tmp_path(self._out, "data")
                    writer = pa.ipc.new_stream(tmp, batch.schema)
                writer.write_batch(batch)
                n += batch.num_rows
            if writer is not None:
                writer.close()
            return _ShardCommit(tmp, n)

        def commit(self, messages):
            tmps = [
                m.tmp_path
                for m in messages
                if m is not None and m.tmp_path
            ]
            shards.publish(
                tmps, self._out, "data", ".arrow", ARROW_EXT,
                append=not self._overwrite,
            )

        def abort(self, messages):
            for m in messages:
                if m is not None and getattr(m, "tmp_path", None):
                    try:
                        os.remove(m.tmp_path)
                    except OSError:
                        pass

    class _ArrowIPC(DataSource):
        @classmethod
        def name(cls) -> str:
            return "arrow_ipc"

        def schema(self):
            path = self.options.get("path")
            if not path:
                raise ValueError("arrow_ipc requires .load(<shard_dir>)")
            return _spark_schema(shards.require_shards(path, ARROW_EXT)[0])

        def reader(self, schema):
            path = self.options["path"]
            return _Reader(shards.require_shards(path, ARROW_EXT))

        def writer(self, schema, overwrite: bool):
            path = self.options.get("path")
            if not path:
                raise ValueError("arrow_ipc requires .save(<shard_dir>)")
            return _Writer(path, overwrite)

    return _ArrowIPC


def register_arrow_ipc_datasource(spark: SparkSession) -> str:
    spark.dataSource.register(make_arrow_ipc_datasource())
    return "arrow_ipc"


def write_arrow_shards(
    parquet_path: str, out_dir: str, n_shards: int = 4
) -> list[str]:
    """Test-fixture generator: parquet table → HF-style stream-format
    shards `data-{i:05d}-of-{n:05d}.arrow`, rows round-robin by
    position (deterministic). Driver-side by design — it builds small
    local fixtures; at scale the shards already exist."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    table = pq.read_table(parquet_path)
    out = []
    for i in range(n_shards):
        shard = table.take(list(range(i, table.num_rows, n_shards)))
        path = os.path.join(out_dir, f"data-{i:05d}-of-{n_shards:05d}.arrow")
        with pa.ipc.new_stream(path, table.schema) as w:
            w.write_table(shard)
        out.append(path)
    return out
