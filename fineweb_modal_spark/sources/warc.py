"""WARC / WET container source + sink (ISO 28500 — the Common Crawl
wire format).

The north rule's corpus is "Common-Crawl-style web pages"; on a real
cluster that corpus arrives as `.warc.gz` shards (response records:
WARC headers + an HTTP response whose body is the html), and the
extracted-text product ships as `.warc.wet.gz` (conversion records).
This module closes that loop Spark-side:

* `read_warc` / `read_wet` / `read_wat` — distributed scans, one
  task per shard (`shards.scan_rows`; gzip members are not
  splittable — exactly how Common Crawl shards are consumed in
  practice: throughput scales with shard count, and CC publishes ~72k
  shards per crawl). Records stream through a Content-Length-driven
  parser (payloads may contain `\\r\\n\\r\\n`; only the length field
  delimits); each reader is a per-record row function.
* `write_wet_shards` / `write_wat_shards` — DISTRIBUTED export
  sinks (WET = extracted text as conversion records; WAT = per-page
  JSON metadata envelopes carrying the outlinks extracted Spark-side
  by linkgraph.with_links): each task streams
  its partition into a `.tmp` shard and returns (tmp_path, n_rows);
  the driver's commit renames survivors to
  `wet-{i:05d}-of-{n:05d}.warc.wet[.gz]` (`shards.publish`, shared
  with the arrow_ipc writer; the same discipline as sinks.commit), so
  a torn run leaves only `.tmp` files that readers ignore.
* `write_warc_shards` — driver-side FIXTURE generator (at scale the
  WARCs already exist; nobody writes Common Crawl). It derives the
  deterministic pages corpus (sources/pages.derive_page_py) from the
  driver-generated documents parquet and serializes spec-shaped
  response records, optionally as per-record gzip members (the CC
  convention: each record its own gzip member, members concatenated).

Reference analog: the reference consumes FineWeb *after* HuggingFace
has done WARC→parquet (fineweb-modal README.md:7); this source makes
the engine able to start one step earlier, at the crawl itself.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from . import shards

WARC_DATE_FMT = "%Y-%m-%dT%H:%M:%SZ"
_CRLF = b"\r\n"

# product suffixes, plain then gzip: a suffix match alone keeps the
# three CC products apart in one directory
WARC_EXT = (".warc", ".warc.gz")
WET_EXT = (".warc.wet", ".warc.wet.gz")
WAT_EXT = (".warc.wat", ".warc.wat.gz")

WARC_SCHEMA = "url string, warc_ts timestamp, http_status int, html binary"
WET_SCHEMA = "url string, warc_ts timestamp, text string"
WAT_SCHEMA = (
    "url string, warc_ts timestamp, "
    "links array<struct<url: string, text: string>>"
)


def _record_id(url: str) -> str:
    """Deterministic spec-shaped record id (md5(url) as a UUID)."""
    return f"<urn:uuid:{uuid.UUID(hashlib.md5(url.encode()).hexdigest())}>"


def _warc_record(rtype: str, headers: list[tuple[str, str]], body: bytes) -> bytes:
    head = [b"WARC/1.0"]
    head += [f"{k}: {v}".encode() for k, v in headers]
    head.append(b"WARC-Type: " + rtype.encode())
    head.append(b"Content-Length: " + str(len(body)).encode())
    return _CRLF.join(head) + _CRLF * 2 + body + _CRLF * 2


def _response_record(url: str, date_s: str, html: bytes) -> bytes:
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n"
        + b"Content-Length: " + str(len(html)).encode() + _CRLF * 2 + html
    )
    return _warc_record(
        "response",
        [
            ("WARC-Record-ID", _record_id(url)),
            ("WARC-Date", date_s),
            ("WARC-Target-URI", url),
            ("Content-Type", "application/http; msgtype=response"),
        ],
        http,
    )


def _warcinfo_record(filename: str) -> bytes:
    body = b"software: fineweb-modal-spark\r\nformat: WARC File Format 1.0\r\n"
    return _warc_record(
        "warcinfo",
        [
            ("WARC-Record-ID", _record_id("warcinfo:" + filename)),
            ("WARC-Date", "2024-01-01T00:00:00Z"),
            ("WARC-Filename", filename),
            ("Content-Type", "application/warc-fields"),
        ],
        body,
    )


def _gzip_member(record: bytes) -> bytes:
    """One record per gzip member (mtime pinned → byte-deterministic)."""
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(record)
    return buf.getvalue()


# ---------------------------------------------------------------------------
# Fixture writer (driver-side by design — CC WARCs pre-exist at scale)
# ---------------------------------------------------------------------------


def write_warc_shards(
    documents_parquet: str,
    out_dir: str,
    n_shards: int = 4,
    compress: bool = False,
    linked: bool = False,
) -> list[str]:
    """documents parquet → deterministic WARC response shards.

    Shard assignment `doc_id % n_shards`, doc_id-ascending within a
    shard; record ids/dates are pure functions of the row — the same
    fixture bytes on every run. `linked=True` swaps the page html for
    the planted-outlink decoration (`linkgraph.linked_html_py`) so the
    crawl carries the link graph the WAT gates re-derive.
    """
    import pyarrow.parquet as pq

    from . import pages as pages_mod

    os.makedirs(out_dir, exist_ok=True)
    tbl = pq.read_table(
        documents_parquet, columns=["doc_id", "text", "lang", "n_chars"]
    )
    rows = sorted(
        zip(
            tbl.column("doc_id").to_pylist(),
            tbl.column("text").to_pylist(),
            tbl.column("lang").to_pylist(),
            tbl.column("n_chars").to_pylist(),
        )
    )
    ext = ".warc.gz" if compress else ".warc"
    paths = []
    for i in range(n_shards):
        name = f"crawl-{i:05d}-of-{n_shards:05d}{ext}"
        path = os.path.join(out_dir, name)
        with open(path, "wb") as f:
            recs = [_warcinfo_record(name)]
            for doc_id, text, lang, n_chars in rows:
                if doc_id % n_shards != i:
                    continue
                page = pages_mod.derive_page_py(doc_id, text, lang, n_chars)
                html = page["html"]
                if linked:
                    from ..operators.linkgraph import linked_html_py

                    html = linked_html_py(doc_id).encode("utf-8")
                recs.append(
                    _response_record(
                        page["url"],
                        page["warc_ts"].strftime(WARC_DATE_FMT),
                        html,
                    )
                )
            for rec in recs:
                f.write(_gzip_member(rec) if compress else rec)
        paths.append(path)
    return paths


# ---------------------------------------------------------------------------
# Parser + distributed scans
# ---------------------------------------------------------------------------


def _open_stream(path: str):
    raw = open(path, "rb")
    if path.endswith(".gz"):
        # gzip transparently walks concatenated members (CC layout)
        return gzip.GzipFile(fileobj=raw)
    return raw


def _read_headers(stream) -> dict[str, str] | None:
    """Header block up to the blank line; None at end-of-stream."""
    headers: dict[str, str] = {}
    line = stream.readline()
    while line in (_CRLF, b"\n"):  # tolerate inter-record padding
        line = stream.readline()
    if not line:
        return None
    if not line.startswith(b"WARC/"):
        raise ValueError(f"expected WARC version line, got {line[:40]!r}")
    while True:
        line = stream.readline()
        if line in (_CRLF, b"\n", b""):
            return headers
        k, _, v = line.decode("utf-8", "replace").partition(":")
        headers[k.strip().lower()] = v.strip()


def iter_warc_records(stream):
    """Yield (headers_dict, body_bytes). Content-Length-driven — the
    body may itself contain header-like bytes or CRLFCRLF."""
    while True:
        headers = _read_headers(stream)
        if headers is None:
            return
        n = int(headers["content-length"])
        body = stream.read(n)
        if len(body) != n:
            raise ValueError("truncated WARC record body")
        yield headers, body


def _parse_http_response(body: bytes) -> tuple[int, bytes]:
    """(status, payload) from an HTTP response block."""
    head, _, payload = body.partition(_CRLF * 2)
    status_line = head.split(_CRLF, 1)[0].decode("ascii", "replace")
    parts = status_line.split(None, 2)
    status = int(parts[1]) if len(parts) >= 2 and parts[1].isdigit() else 0
    return status, payload


def _parse_warc_date(s: str):
    import datetime

    # naive datetime: Spark renders it back in session time, so the
    # WARC-Date string round-trips byte-identically regardless of tz
    return datetime.datetime.strptime(s, WARC_DATE_FMT)


def response_row(headers: dict[str, str], body: bytes) -> tuple:
    """One response record → (url, warc_ts, http_status, html)."""
    status, payload = _parse_http_response(body)
    return (
        headers["warc-target-uri"],
        _parse_warc_date(headers["warc-date"]),
        status,
        payload,
    )


def _wet_row(headers: dict[str, str], body: bytes) -> tuple:
    return (
        headers["warc-target-uri"],
        _parse_warc_date(headers["warc-date"]),
        body.decode("utf-8"),
    )


def _wat_row(headers: dict[str, str], body: bytes) -> tuple:
    env = json.loads(body)["Envelope"]
    links = env["Payload-Metadata"]["HTTP-Response-Metadata"][
        "HTML-Metadata"
    ]["Links"]
    return (
        headers["warc-target-uri"],
        _parse_warc_date(headers["warc-date"]),
        [{"url": l["url"], "text": l["text"]} for l in links],
    )


def _rows(warc_type: str, row):
    """path → `row(headers, body)` for each `warc_type` record of that
    shard; every other record type (warcinfo, request, ...) is skipped."""

    def shard_rows(path: str):
        with _open_stream(path) as f:
            for headers, body in iter_warc_records(f):
                if headers.get("warc-type") == warc_type:
                    yield row(headers, body)

    return shard_rows


_response_rows = _rows("response", response_row)


def read_warc(spark: SparkSession, warc_dir: str) -> DataFrame:
    """Distributed response-record scan over every WARC shard."""
    return shards.scan_rows(
        spark, warc_dir, WARC_EXT, _response_rows, WARC_SCHEMA
    )


def read_wet(spark: SparkSession, wet_dir: str) -> DataFrame:
    """Distributed conversion-record scan (extracted-text product)."""
    return shards.scan_rows(
        spark, wet_dir, WET_EXT, _rows("conversion", _wet_row), WET_SCHEMA
    )


def read_wat(spark: SparkSession, wat_dir: str) -> DataFrame:
    """Distributed metadata-record scan → (url, warc_ts, links)."""
    return shards.scan_rows(
        spark, wat_dir, WAT_EXT, _rows("metadata", _wat_row), WAT_SCHEMA
    )


# ---------------------------------------------------------------------------
# Distributed WET export sink
# ---------------------------------------------------------------------------


def _conversion_record(url: str, date_s: str, text: str) -> bytes:
    body = text.encode("utf-8")
    return _warc_record(
        "conversion",
        [
            ("WARC-Record-ID", _record_id("conversion:" + url)),
            ("WARC-Refers-To", _record_id(url)),
            ("WARC-Date", date_s),
            ("WARC-Target-URI", url),
            ("Content-Type", "text/plain"),
        ],
        body,
    )


def _export_shards(
    df: DataFrame,
    cols: list[str],
    make_record,
    out_dir: str,
    prefix: str,
    suffixes: tuple[str, str],
    compress: bool,
) -> list[str]:
    """Distributed record-container export: each task streams its
    partition to a `.tmp` shard and reports (tmp_path, n_rows); the
    driver's commit (one bounded row per PARTITION, never row data)
    publishes the survivors (`shards.publish`, overwrite). Torn runs
    leave only `.tmp`, which readers ignore."""
    import pandas as pd

    os.makedirs(out_dir, exist_ok=True)

    def dump(frames):
        tmp, f, n = None, None, 0
        for pdf in frames:
            if len(pdf) and f is None:
                tmp = shards.tmp_path(out_dir, prefix)
                f = open(tmp, "wb")
            for vals in zip(*(pdf[c] for c in cols)):
                rec = make_record(*vals)
                f.write(_gzip_member(rec) if compress else rec)
                n += 1
        if f is not None:
            f.close()
            yield pd.DataFrame({"tmp": [tmp], "n": [n]})

    commits = (
        df.select(*cols)
        .mapInPandas(dump, schema="tmp string, n long")
        .collect()  # bounded: one row per non-empty partition
    )
    ext = suffixes[1] if compress else suffixes[0]
    return shards.publish(
        [r["tmp"] for r in commits], out_dir, prefix, ext, suffixes
    )


def write_wet_shards(
    df: DataFrame, out_dir: str, compress: bool = True
) -> list[str]:
    """(url, warc_ts, text) DataFrame → published WET shards."""
    import pandas as pd

    def rec(url, ts, text):
        return _conversion_record(
            url, pd.Timestamp(ts).strftime(WARC_DATE_FMT), text
        )

    return _export_shards(
        df, ["url", "warc_ts", "text"], rec, out_dir,
        "wet", WET_EXT, compress,
    )


# ---------------------------------------------------------------------------
# WAT metadata records (per-response JSON envelope with extracted links)
# ---------------------------------------------------------------------------


def _metadata_record(url: str, date_s: str, links) -> bytes:
    """CC-shaped WAT metadata record: a JSON envelope whose
    HTML-Metadata carries the extracted outlinks in document order.
    Canonical json.dumps (sorted keys, no whitespace) makes the bytes
    a pure function of the row."""
    env = {
        "Envelope": {
            "WARC-Header-Metadata": {
                "WARC-Date": date_s,
                "WARC-Target-URI": url,
                "WARC-Type": "response",
            },
            "Payload-Metadata": {
                "HTTP-Response-Metadata": {
                    "HTML-Metadata": {
                        "Links": [
                            {"text": l["text"], "url": l["url"]}
                            for l in links
                        ]
                    }
                }
            },
        }
    }
    body = json.dumps(env, sort_keys=True, separators=(",", ":")).encode()
    return _warc_record(
        "metadata",
        [
            ("WARC-Record-ID", _record_id("metadata:" + url)),
            ("WARC-Refers-To", _record_id(url)),
            ("WARC-Date", date_s),
            ("WARC-Target-URI", url),
            ("Content-Type", "application/json"),
        ],
        body,
    )


def write_wat_shards(
    df: DataFrame, out_dir: str, compress: bool = True
) -> list[str]:
    """(url, warc_ts, links array<struct<url,text>>) → WAT shards.

    The link EXTRACTION happens Spark-side (linkgraph.with_links, one
    codegen regex pass) — this sink only serializes; same
    publish-by-rename contract as the WET sink."""
    import pandas as pd

    def rec(url, ts, links):
        return _metadata_record(
            url,
            pd.Timestamp(ts).strftime(WARC_DATE_FMT),
            list(links) if links is not None else [],
        )

    return _export_shards(
        df, ["url", "warc_ts", "links"], rec, out_dir,
        "wat", WAT_EXT, compress,
    )


def make_warc_datasource():
    """WARC as a REAL Spark data source (PySpark 4 Python Data Source
    API): `spark.dataSource.register(make_warc_datasource())`, then

        spark.read.format("warc").load(warc_dir)          # batch
        spark.readStream.format("warc").load(warc_dir)    # stream

    Batch: one InputPartition per shard (the gzip-member
    splittability contract — identical parallelism to read_warc), rows
    yielded straight off the Content-Length parser. Stream: the
    offset is the COUNT of consumed shards over the name-sorted
    listing — crawl shards publish with sortable names
    (`crawl-00042-of-72000`), so "new data" is a suffix of the
    listing; a shard appearing BEFORE the consumed prefix would mean
    out-of-order publication and fails loudly rather than being
    silently skipped. Each micro-batch reads only the new shards —
    continuous crawl ingestion with exactly-once file granularity,
    checkpoint-resumable like any Structured Streaming source."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceStreamReader,
        InputPartition,
    )

    class _BatchReader(DataSourceReader):
        def __init__(self, paths: list[str]):
            self._paths = paths

        def partitions(self):
            return [InputPartition(p) for p in self._paths]

        def read(self, partition):
            yield from _response_rows(partition.value)

    class _StreamReader(DataSourceStreamReader):
        def __init__(self, warc_dir: str):
            self._dir = warc_dir

        def initialOffset(self):
            return {"n": 0}

        def latestOffset(self):
            return {"n": len(shards.list_shards(self._dir, WARC_EXT))}

        def partitions(self, start, end):
            paths = shards.list_shards(self._dir, WARC_EXT)
            if len(paths) < end["n"]:
                raise ValueError(
                    "warc stream: shard listing shrank below the "
                    f"committed offset ({len(paths)} < {end['n']}) — "
                    "shards must be append-only"
                )
            return [InputPartition(p) for p in paths[start["n"]:end["n"]]]

        def read(self, partition):
            yield from _response_rows(partition.value)

        def commit(self, end):
            pass

    class WarcDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "warc"

        def schema(self):
            return WARC_SCHEMA

        def reader(self, schema):
            path = self.options.get("path")
            if not path:
                raise ValueError("warc requires .load(<shard_dir>)")
            return _BatchReader(shards.require_shards(path, WARC_EXT))

        def streamReader(self, schema):
            path = self.options.get("path")
            if not path:
                raise ValueError("warc requires .load(<shard_dir>)")
            return _StreamReader(path)

    return WarcDataSource


def register_warc_datasource(spark: SparkSession) -> str:
    spark.dataSource.register(make_warc_datasource())
    return "warc"
