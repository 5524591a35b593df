"""CDX-style URL index over WARC shards + ranged point fetch.

Common Crawl ships a CDX index (url → shard name, member byte offset,
member byte length) precisely so a consumer can pull ONE page out of a
~100 TB crawl with a single ranged read of a single gzip member — the
per-record-gzip-member layout exists to make those spans addressable.
This module reproduces that contract Spark-side:

* `build_cdx` — distributed (one task per shard, the same
  `shards.scan_rows` as warc.read_warc): walks each shard's members
  ONCE with a streaming per-member `zlib.decompressobj` (peak task
  memory is a chunk plus one record, never the file) and emits
  (url, warc_ts, shard, offset, length) for every response record.
  Plain `.warc` shards index the record's byte span the same way.
* `fetch_records` — the read side of the contract: takes any subset of
  index rows, co-locates them per shard sorted by offset, and
  seek+reads exactly the indexed spans — bytes touched are
  sum(length), not the corpus. At scale this is the difference between
  "grab these 10k urls" costing kilobytes-per-url and costing a full
  100 TB scan.

Reference analog: the reference fetches single parquet row groups for
its sample UI (fineweb-modal README.md:49); CDX is the same
random-access idea applied one level down, at the crawl container.
"""

from __future__ import annotations

import gzip
import io
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import sinks
from . import shards
from . import warc as warc_mod

_CHUNK = 1 << 20

CDX_SCHEMA = (
    "url string, warc_ts timestamp, shard string, "
    "offset bigint, length bigint"
)


def _iter_gzip_member_spans(f):
    """(offset, length, record_bytes) per gzip member, streaming —
    decompressobj(31) stops at member end; unused_data marks the
    boundary, so offsets are exact with no second pass."""
    buf = b""
    offset = 0
    while True:
        if not buf:
            buf = f.read(_CHUNK)
            if not buf:
                return
        d = zlib.decompressobj(31)
        start = offset
        rec = bytearray()
        while True:
            rec += d.decompress(buf)
            if d.eof:
                consumed = len(buf) - len(d.unused_data)
                offset += consumed
                buf = d.unused_data
                break
            offset += len(buf)
            buf = f.read(_CHUNK)
            if not buf:
                raise ValueError("truncated gzip member")
        yield start, offset - start, bytes(rec)


def _iter_plain_record_spans(f):
    """(offset, length, record_bytes) per record in an uncompressed
    shard — the span is version line through body end (trailing
    inter-record CRLFs are padding either way)."""
    while True:
        line = f.readline()
        while line in (b"\r\n", b"\n"):
            line = f.readline()
        if not line:
            return
        if not line.startswith(b"WARC/"):
            raise ValueError(f"expected WARC version line, got {line[:40]!r}")
        start = f.tell() - len(line)
        head = bytearray(line)
        n = None
        while True:
            line = f.readline()
            head += line
            if line in (b"\r\n", b"\n", b""):
                break
            k, _, v = line.decode("utf-8", "replace").partition(":")
            if k.strip().lower() == "content-length":
                n = int(v.strip())
        if n is None:
            raise ValueError("record missing Content-Length")
        body = f.read(n)
        if len(body) != n:
            raise ValueError("truncated WARC record body")
        yield start, f.tell() - start, bytes(head) + body


def iter_member_spans(path: str):
    """Unified span walk for one shard (gzip or plain)."""
    with open(path, "rb") as f:
        it = (
            _iter_gzip_member_spans(f)
            if path.endswith(".gz")
            else _iter_plain_record_spans(f)
        )
        yield from it


def _parse_record(rec: bytes):
    """record bytes → (headers, body) via the shared WARC parser."""
    return next(warc_mod.iter_warc_records(io.BytesIO(rec)))


def _index_rows(path: str):
    """One streaming pass over a shard's members → an index row per
    response record (warcinfo/request members stay addressable but
    nobody looks pages up by them)."""
    for off, length, rec in iter_member_spans(path):
        headers, _ = _parse_record(rec)
        if headers.get("warc-type") == "response":
            yield (
                headers["warc-target-uri"],
                warc_mod._parse_warc_date(headers["warc-date"]),
                path,
                off,
                length,
            )


def build_cdx(spark: SparkSession, warc_dir: str) -> DataFrame:
    """Distributed index build: one task per shard."""
    return shards.scan_rows(
        spark, warc_dir, warc_mod.WARC_EXT, _index_rows, CDX_SCHEMA
    )


def fetch_one(shard: str, offset: int, length: int):
    """One ranged read → (headers, body). The only bytes touched are
    [offset, offset+length)."""
    with open(shard, "rb") as f:
        f.seek(offset)
        raw = f.read(length)
    if len(raw) != length:
        raise ValueError(f"short read at {shard}:{offset}+{length}")
    rec = gzip.decompress(raw) if shard.endswith(".gz") else raw
    return _parse_record(rec)


def fetch_records(index: DataFrame) -> DataFrame:
    """Index rows → the response records they point at.

    Rows co-locate per shard and sort by offset so each task's reads
    sweep its shard forward (sequential-ish I/O on spinning object
    stores); total bytes read is sum(length) — point lookups, not a
    scan."""
    n_shards = max(1, int(index.select("shard").distinct().count()))
    n = shards.BATCH_ROWS  # read here, on the driver: the closure carries it

    def fetched(frames):
        for pdf in frames:
            for url, shard, off, length in zip(
                pdf["url"], pdf["shard"], pdf["offset"], pdf["length"]
            ):
                headers, body = fetch_one(shard, int(off), int(length))
                if headers.get("warc-target-uri") != url:
                    raise ValueError(
                        f"index/record mismatch at {shard}:{off} "
                        f"({headers.get('warc-target-uri')} != {url})"
                    )
                yield warc_mod.response_row(headers, body)

    co = index.repartition(n_shards, "shard").sortWithinPartitions(
        "shard", "offset"
    )
    return co.mapInPandas(
        lambda frames: shards.batched(fetched(frames), n),
        schema=warc_mod.WARC_SCHEMA,
    )


def surt_sql(col: str, dialect: str) -> str:
    """SURT key (Sort-friendly URI Reordering Transform) — the CDX
    sort key: lowercase, host labels REVERSED comma-joined, then ')'
    + path, so all pages of a host (and all hosts of a domain) are
    lexicographically adjacent: `https://h3.example.com/p/42` →
    `com,example,h3)/p/42`. Minimal spec (no port/userinfo handling —
    the synthetic corpus has neither), rendered for both engines."""
    host = f"regexp_extract(lower({col}), 'https?://([^/]+)', 1)"
    path = f"regexp_replace(lower({col}), '^https?://[^/]+', '')"
    if dialect == "spark":
        rev = f"array_join(reverse(split({host}, '\\\\.')), ',')"
    else:
        rev = f"array_to_string(list_reverse(string_split({host}, '.')), ',')"
    return f"{rev} || ')' || {path}"


def with_surt(index: DataFrame, url_col: str = "url") -> DataFrame:
    return index.withColumn("surt", F.expr(surt_sql(url_col, "spark")))


def write_cdx(index: DataFrame, out_dir: str) -> None:
    """Persist the index sorted by SURT key — the CDX publication
    shape (CC sorts by SURT so lookups can binary-search the flat
    file and per-domain slices are contiguous; parquet gets the same
    effect from min/max pruning on the sort)."""
    n = max(1, index.sparkSession.sparkContext.defaultParallelism // 4)
    sinks.publish(
        out_dir,
        with_surt(index).repartitionByRange(n, "surt").sortWithinPartitions("surt"),
    )


def read_cdx(spark: SparkSession, cdx_dir: str) -> DataFrame:
    return spark.read.parquet(cdx_dir)
