"""Shard I/O shared by the container sources (WARC/WET/WAT, CDX, Arrow IPC).

The reference maps one container over each shard file of a static
list (chunker.py:55,176). Every container source here makes the same
three decisions, and they are made once, in this module:

* **Listing** — `list_shards(dir, suffixes)`: the published shards of
  one product, name-sorted. Writers stage into `*.tmp`, which no
  product suffix matches, so a torn write is never listed.
* **Per-shard scan** — `scan`: the DRIVER touches only file NAMES; the
  list becomes a one-path-per-row DataFrame repartitioned one shard per
  task (gzip members and stream-format IPC are not splittable, so
  file-granular parallelism is the honest contract: throughput scales
  with shard count). `scan_rows` is the row-tuple form: rows are
  grouped into pandas frames of `BATCH_ROWS`, so peak task memory is a
  batch, not a file.
* **Publish-by-rename** — `publish`: tasks stream to `tmp_path` files;
  the driver renames them into the `{prefix}-{i:05d}-of-{n:05d}{ext}`
  contract, after removing (overwrite) or renumbering (append) the
  shards already published there.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

BATCH_ROWS = 512


def list_shards(shard_dir: str, suffixes: tuple[str, ...]) -> list[str]:
    """Published shards only: names ending in one of `suffixes`."""
    if not os.path.isdir(shard_dir):
        return []
    return sorted(
        os.path.join(shard_dir, f)
        for f in os.listdir(shard_dir)
        if f.endswith(suffixes)
    )


def require_shards(shard_dir: str, suffixes: tuple[str, ...]) -> list[str]:
    """`list_shards`, but an empty listing is an error, not an empty scan."""
    paths = list_shards(shard_dir, suffixes)
    if not paths:
        raise FileNotFoundError(
            f"no {'/'.join(suffixes)} shards under {shard_dir}"
        )
    return paths


def batched(rows, n: int):
    """Row tuples → pandas frames of at most `n` rows (none empty).

    Frames carry positional column labels, which mapInPandas assigns
    to the output schema by position."""
    import pandas as pd

    batch: list[tuple] = []
    for row in rows:
        batch.append(row)
        if len(batch) >= n:
            yield pd.DataFrame(batch)
            batch = []
    if batch:
        yield pd.DataFrame(batch)


def scan(
    spark: SparkSession,
    shard_dir: str,
    suffixes: tuple[str, ...],
    shard_frames,
    schema,
) -> DataFrame:
    """One task per shard; each task yields `shard_frames(path)`.

    `schema` is the output schema, or a function of the first shard's
    path for formats that carry their schema in the file."""
    paths = require_shards(shard_dir, suffixes)
    if callable(schema):
        schema = schema(paths[0])

    def task(frames):
        for pdf in frames:
            for path in pdf["path"]:
                yield from shard_frames(path)

    files = spark.createDataFrame(
        [(p,) for p in paths], "path string"
    ).repartition(len(paths))
    return files.mapInPandas(task, schema=schema)


def scan_rows(
    spark: SparkSession,
    shard_dir: str,
    suffixes: tuple[str, ...],
    shard_rows,
    schema,
) -> DataFrame:
    """`scan` over a row generator, `shard_rows(path)` → row tuples."""
    n = BATCH_ROWS  # read here, on the driver: the closure carries it

    return scan(
        spark, shard_dir, suffixes,
        lambda path: batched(shard_rows(path), n), schema,
    )


def tmp_path(out_dir: str, prefix: str) -> str:
    """A task's staging file; `.tmp` matches no product suffix."""
    return os.path.join(out_dir, f"{prefix}-{uuid.uuid4().hex}.tmp")


def publish(
    tmps: list[str],
    out_dir: str,
    prefix: str,
    ext: str,
    suffixes: tuple[str, ...],
    append: bool = False,
) -> list[str]:
    """Rename staged `tmps` into `{prefix}-{i:05d}-of-{n:05d}{ext}`.

    The product's shards already in `out_dir` (any of `suffixes`) are
    removed BEFORE the renames (overwrite: a rerun with fewer shards
    must not leave stale `-of-N` shards that readers would
    double-count), or, with `append`, slot ahead of the new ones and
    are renamed to the new of-N so the naming contract stays true (n
    grows, so a new name never collides with an old one)."""
    old = list_shards(out_dir, suffixes)
    if not append:
        for f in old:
            os.remove(f)
        old = []
    seq = old + sorted(tmps)
    out = []
    for i, src in enumerate(seq):
        dst = os.path.join(out_dir, f"{prefix}-{i:05d}-of-{len(seq):05d}{ext}")
        if src != dst:
            os.rename(src, dst)
        out.append(dst)
    return out
