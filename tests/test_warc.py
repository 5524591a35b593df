"""WARC/WET container source+sink: parser edge cases and publish
discipline (the gate queries cover end-to-end hash parity; these pin
the corners the fixture can't reach)."""

from __future__ import annotations

import gzip
import io
import os

import pytest

from fineweb_modal_spark.sources import shards
from fineweb_modal_spark.sources import warc as W

from .conftest import SF_ORACLE

DOCS = os.path.join(SF_ORACLE, "documents.parquet")


def _record_bytes(**over):
    url = over.get("url", "https://h1.example.com/p/1")
    html = over.get("html", b"<p>hi</p>")
    return W._response_record(url, "2024-01-01T00:00:01Z", html)


def test_content_length_delimits_not_crlfcrlf():
    """A payload containing CRLFCRLF (and header-looking bytes) must
    not end the record early — only Content-Length delimits."""
    evil = b"<pre>WARC/1.0\r\n\r\nWARC-Type: response\r\n\r\n</pre>"
    stream = io.BytesIO(_record_bytes(html=evil) + _record_bytes())
    recs = list(W.iter_warc_records(stream))
    assert len(recs) == 2
    status, payload = W._parse_http_response(recs[0][1])
    assert status == 200
    assert payload == evil


def test_non_response_records_skipped(spark, tmp_path):
    shard = tmp_path / "x-00000-of-00001.warc"
    shard.write_bytes(
        W._warcinfo_record("x.warc")
        + _record_bytes()
        + W._warc_record(
            "request",
            [
                ("WARC-Record-ID", "<urn:uuid:0>"),
                ("WARC-Date", "2024-01-01T00:00:00Z"),
                ("WARC-Target-URI", "https://h1.example.com/p/1"),
            ],
            b"GET / HTTP/1.1\r\n\r\n",
        )
    )
    df = W.read_warc(spark, str(tmp_path))
    assert df.count() == 1


def test_truncated_body_raises():
    rec = _record_bytes()
    with pytest.raises(ValueError, match="truncated"):
        list(W.iter_warc_records(io.BytesIO(rec[:-10])))


def test_garbage_leader_raises():
    with pytest.raises(ValueError, match="WARC version"):
        list(W.iter_warc_records(io.BytesIO(b"HTTP/1.1 200 OK\r\n\r\n")))


def test_empty_dir_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        W.read_warc(spark, str(tmp_path))
    with pytest.raises(FileNotFoundError):
        W.read_wet(spark, str(tmp_path))


def test_listing_ignores_tmp_and_separates_wet(tmp_path):
    (tmp_path / "a-00000-of-00001.warc").write_bytes(b"")
    (tmp_path / "wet-00000-of-00001.warc.wet.gz").write_bytes(b"")
    (tmp_path / "wet-deadbeef.tmp").write_bytes(b"")
    assert [
        os.path.basename(p) for p in shards.list_shards(str(tmp_path), W.WARC_EXT)
    ] == ["a-00000-of-00001.warc"]
    assert [
        os.path.basename(p) for p in shards.list_shards(str(tmp_path), W.WET_EXT)
    ] == ["wet-00000-of-00001.warc.wet.gz"]


def test_fixture_bytes_deterministic(tmp_path):
    a = W.write_warc_shards(DOCS, str(tmp_path / "a"), n_shards=2, compress=True)
    b = W.write_warc_shards(DOCS, str(tmp_path / "b"), n_shards=2, compress=True)
    for pa_, pb in zip(a, b):
        assert open(pa_, "rb").read() == open(pb, "rb").read()


def test_gzip_members_individually_addressable(tmp_path):
    """CC layout: each record its own gzip member — a single member
    must decompress standalone (range-request addressability)."""
    [path] = W.write_warc_shards(DOCS, str(tmp_path), n_shards=1, compress=True)
    raw = open(path, "rb").read()
    # second member starts at the next gzip magic after the first
    second = raw.index(b"\x1f\x8b", 2)
    first = gzip.decompress(raw[:second])
    assert first.startswith(b"WARC/1.0\r\n")
    assert b"WARC-Type: warcinfo" in first


def test_job_crawl_mode(spark, tmp_path):
    """--mode crawl: WARC shards in → extract → hygiene → committed
    partitioned output, with the admitted scrubbed text mirrored as
    WET conversion shards whose bytes match the committed table."""
    import jobs.run_pipeline as job

    from fineweb_modal_spark import sinks

    warc_dir = str(tmp_path / "warc")
    W.write_warc_shards(DOCS, warc_dir, n_shards=3, compress=True)
    out = str(tmp_path / "crawl_out")
    wet_dir = str(tmp_path / "wet")
    wat_dir = str(tmp_path / "wat")
    rc = job.main(
        ["--input", warc_dir, "--output", out, "--mode", "crawl",
         "--granularity", "minute", "--wet-output", wet_dir,
         "--wat-output", wat_dir]
    )
    assert rc == 0
    # WAT sidecar covers EVERY fetched page (link extraction itself is
    # hash-gated by wat_export_roundtrip; base-fixture pages carry none)
    wat = W.read_wat(spark, wat_dir)
    n_pages = W.read_warc(spark, warc_dir).count()
    assert wat.count() == n_pages
    got = sinks.read_output(spark, out)
    assert {"url", "ds", "salt", "doc_id", "keep", "drop_reason",
            "n_removed", "scrubbed_text"} <= set(got.columns)
    rows = got.collect()
    assert len(rows) > 0 and any(r.keep for r in rows)
    for r in rows:
        assert (r.scrubbed_text is not None) == bool(r.keep)
    # the WET mirror carries exactly the admitted text, byte-identical
    wet = {r.url: r.text for r in W.read_wet(spark, wet_dir).collect()}
    admitted = {r.url: r.scrubbed_text for r in rows if r.keep}
    assert wet == admitted


def test_linked_html_matches_sql_derivation(spark):
    """linked_html_py (fixture mirror) ≡ linked_pages_sql (Spark) for
    every doc — the parity the WAT gates lean on, pinned directly."""
    from fineweb_modal_spark.functions import sqldialect as sd
    from fineweb_modal_spark.operators import linkgraph as lg
    from fineweb_modal_spark.sources import pages as pages_mod

    pages = pages_mod.load_pages(spark, SF_ORACLE, with_html=False)
    pages.createOrReplaceTempView("pages_lhp")
    sql_rows = spark.sql(
        lg.linked_pages_sql(sd.SPARK, "pages_lhp")
    ).select("doc_id", "html").collect()
    assert sql_rows and all(
        r.html == lg.linked_html_py(r.doc_id) for r in sql_rows
    )


def test_wat_roundtrip_preserves_link_structs(spark, tmp_path):
    """Links survive the JSON envelope with order, url, AND anchor
    text intact (incl. a link-free page → empty array, not null)."""
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [
            Row(
                url="https://h1.example.com/p/1",
                warc_ts=__import__("datetime").datetime(2024, 1, 1),
                links=[
                    Row(url="https://h2.example.com/a", text="alpha beta"),
                    Row(url="https://h3.example.com/b", text=""),
                ],
            ),
            Row(
                url="https://h4.example.com/p/2",
                warc_ts=__import__("datetime").datetime(2024, 1, 2),
                links=[],
            ),
        ],
        schema=W.WAT_SCHEMA,
    )
    W.write_wat_shards(df, str(tmp_path), compress=True)
    back = {r.url: r for r in W.read_wat(spark, str(tmp_path)).collect()}
    assert [(x.url, x.text) for x in back["https://h1.example.com/p/1"].links] == [
        ("https://h2.example.com/a", "alpha beta"),
        ("https://h3.example.com/b", ""),
    ]
    assert list(back["https://h4.example.com/p/2"].links) == []


def test_wet_rerun_with_fewer_partitions_leaves_no_stale_shards(
    spark, tmp_path
):
    """Republishing into the same dir must replace the shard set —
    a stale `-of-N` shard from a wider first run would double-count."""
    import datetime

    from pyspark.sql import Row

    def df(n_parts):
        rows = [
            Row(
                url=f"https://h{i}.example.com/p/{i}",
                warc_ts=datetime.datetime(2024, 1, 1, 0, 0, i),
                text=f"doc {i}",
            )
            for i in range(8)
        ]
        return spark.createDataFrame(rows, W.WET_SCHEMA).repartition(n_parts)

    out = str(tmp_path)
    W.write_wet_shards(df(4), out)
    assert len(shards.list_shards(out, W.WET_EXT)) == 4
    W.write_wet_shards(df(2), out)
    names = [os.path.basename(p) for p in shards.list_shards(out, W.WET_EXT)]
    assert names == [
        "wet-00000-of-00002.warc.wet.gz", "wet-00001-of-00002.warc.wet.gz"
    ]
    assert W.read_wet(spark, out).count() == 8


def test_wat_listing_separate_from_warc(tmp_path):
    (tmp_path / "a-00000-of-00001.warc.gz").write_bytes(b"")
    (tmp_path / "wat-00000-of-00001.warc.wat.gz").write_bytes(b"")
    (tmp_path / "wat-cafebabe.tmp").write_bytes(b"")
    assert [
        os.path.basename(p) for p in shards.list_shards(str(tmp_path), W.WARC_EXT)
    ] == ["a-00000-of-00001.warc.gz"]
    assert [
        os.path.basename(p) for p in shards.list_shards(str(tmp_path), W.WAT_EXT)
    ] == ["wat-00000-of-00001.warc.wat.gz"]


def _run_warc_stream(spark, warc_dir, out, ck):
    q = (
        spark.readStream.format("warc").load(warc_dir)
        .selectExpr("url", "http_status")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()


def test_warc_stream_incremental_arrival(spark, tmp_path):
    """New shards published between runs are the ONLY thing the next
    run reads (shard-count offsets + checkpoint = exactly-once at
    file granularity)."""
    W.register_warc_datasource(spark)
    d = str(tmp_path / "crawl")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    W.write_warc_shards(DOCS, d, n_shards=4, compress=True)
    _run_warc_stream(spark, d, out, ck)
    assert spark.read.parquet(out).count() == 500
    # two more shards arrive, sorted after the existing prefix
    extra = tmp_path / "extra"
    W.write_warc_shards(DOCS, str(extra), n_shards=2, compress=True)
    for f in sorted(os.listdir(extra)):
        os.rename(extra / f, os.path.join(d, "z-" + f))
    _run_warc_stream(spark, d, out, ck)
    got = spark.read.parquet(out)
    assert got.count() == 1000  # 500 old (not re-read) + 500 new
    assert got.select("url").distinct().count() == 500


def test_warc_stream_shrunk_listing_fails_loudly(spark, tmp_path):
    """Deleting shards below the committed offset must error, never
    silently skip data."""
    from fineweb_modal_spark.sources.warc import make_warc_datasource

    ds = make_warc_datasource()(options={"path": str(tmp_path)})
    r = ds.streamReader(None)
    with pytest.raises(ValueError, match="append-only"):
        r.partitions({"n": 0}, {"n": 3})


def test_wet_shard_contract_and_counts(spark, tmp_path):
    warc_dir = tmp_path / "warc"
    W.write_warc_shards(DOCS, str(warc_dir), n_shards=3)
    crawl = W.read_warc(spark, str(warc_dir))
    from pyspark.sql import functions as F

    from fineweb_modal_spark.operators import extract

    ex = extract.with_extracted_text(crawl).select(
        "url", "warc_ts", F.col("extracted_text").alias("text")
    )
    out = W.write_wet_shards(ex, str(tmp_path / "wet"), compress=True)
    assert [os.path.basename(p) for p in out] == [
        f"wet-{i:05d}-of-{len(out):05d}.warc.wet.gz" for i in range(len(out))
    ]
    assert W.read_wet(spark, str(tmp_path / "wet")).count() == crawl.count()


def test_batch_boundary_loses_no_row(spark, tmp_path, monkeypatch):
    """A 2-row batch forces flushes mid-shard and 1-row tails (4 shards
    of 125 records; 3 WET/WAT shards of 166-167): every scan and the
    CDX fetch must still return exactly the fixture's records."""
    import pyarrow.parquet as pq

    from fineweb_modal_spark.sources import cdx as C
    from fineweb_modal_spark.sources import pages as pages_mod

    rows = [(i,) for i in range(5)]
    assert [len(f) for f in shards.batched(rows, 2)] == [2, 2, 1]
    monkeypatch.setattr(shards, "BATCH_ROWS", 2)

    cols = ["doc_id", "text", "lang", "n_chars"]
    pages = [
        pages_mod.derive_page_py(r["doc_id"], r["text"], r["lang"], r["n_chars"])
        for r in pq.read_table(DOCS, columns=cols).to_pylist()
    ]
    want = sorted((p["url"], p["warc_ts"], 200, p["html"]) for p in pages)

    warc_dir = str(tmp_path / "warc")
    W.write_warc_shards(DOCS, warc_dir, n_shards=4, compress=True)
    assert sorted(map(tuple, W.read_warc(spark, warc_dir).collect())) == want
    index = C.build_cdx(spark, warc_dir)
    idx = index.collect()
    assert sorted((r.url, r.warc_ts) for r in idx) == [w[:2] for w in want]
    assert len({(r.shard, r.offset) for r in idx}) == len(want)
    assert sorted(map(tuple, C.fetch_records(index).collect())) == want

    wet = sorted((p["url"], p["warc_ts"], p["text"]) for p in pages)
    wet_dir = str(tmp_path / "wet")
    W.write_wet_shards(
        spark.createDataFrame(wet, W.WET_SCHEMA).repartition(3), wet_dir
    )
    assert sorted(map(tuple, W.read_wet(spark, wet_dir).collect())) == wet

    wat = sorted(
        (p["url"], p["warc_ts"], [(p["url"] + "/a", p["lang"])] * (i % 3))
        for i, p in enumerate(pages)
    )
    wat_dir = str(tmp_path / "wat")
    W.write_wat_shards(
        spark.createDataFrame(wat, W.WAT_SCHEMA).repartition(3), wat_dir
    )
    got = sorted(
        (r.url, r.warc_ts, [(l.url, l.text) for l in r.links])
        for r in W.read_wat(spark, wat_dir).collect()
    )
    assert got == wat
