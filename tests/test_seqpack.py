"""Sequence packing: window path vs distributed prefix-sum equality,
layout invariants, shard-stats consistency."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fineweb_modal_spark.operators import seqpack
from fineweb_modal_spark.sources.tables import load_table

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents")


def _key(rows):
    return sorted(tuple(r) for r in rows)


def test_distributed_equals_window(spark, docs):
    """The 10^12-doc prefix-sum path must produce the identical
    layout as the oracle-grain window path."""
    win = seqpack.sequence_layout(docs).collect()
    dist = seqpack.sequence_layout_distributed(docs).collect()
    assert _key(win) == _key(dist)


def test_distributed_equals_window_few_partitions(spark, docs):
    """Partition-count independence: 3 partitions forces multiple
    sources per partition AND one source spanning partitions."""
    win = seqpack.sequence_layout(docs).collect()
    dist = seqpack.sequence_layout_distributed(
        docs, num_partitions=3
    ).collect()
    assert _key(win) == _key(dist)


def test_layout_invariants(spark, docs):
    lay = seqpack.sequence_layout(docs).collect()
    by_source: dict[str, list] = {}
    for r in lay:
        by_source.setdefault(r["source"], []).append(r)
    for rows in by_source.values():
        rows.sort(key=lambda r: r["doc_id"])
        expect_start = 0
        for r in rows:
            # contiguity: no gaps, no overlap in the token stream
            assert r["start_tok"] == expect_start
            expect_start += r["tok_count"]
            # coordinates are self-consistent
            assert r["seq_first"] == r["start_tok"] // seqpack.SEQ_LEN
            end = r["start_tok"] + r["tok_count"] - 1
            assert r["seq_last"] == end // seqpack.SEQ_LEN
            assert r["n_seqs"] == r["seq_last"] - r["seq_first"] + 1
            assert 0 <= r["offset_in_seq"] < seqpack.SEQ_LEN


def test_stats_consistency(spark, docs):
    stats = {r["source"]: r for r in seqpack.pack_stats(docs).collect()}
    lay = seqpack.sequence_layout(docs).collect()
    for src, s in stats.items():
        rows = [r for r in lay if r["source"] == src]
        assert s["n_docs"] == len(rows)
        total = sum(r["tok_count"] for r in rows)
        assert s["total_tokens"] == total
        # ceil-division: last doc's seq_last + 1 covers all tokens
        assert s["n_sequences"] == -(-total // seqpack.SEQ_LEN)
        assert s["tail_padding"] == (
            s["n_sequences"] * seqpack.SEQ_LEN - total
        )
        assert s["docs_crossing"] == sum(
            1 for r in rows if r["n_seqs"] > 1
        )
        assert 0 < s["fill_ratio"] <= 1.0


def test_small_custom_frame(spark):
    """Hand-checked micro case: L=10, three docs of 4/9/3 tokens
    (n_chars 8/28/4 -> 4, 9, 3)."""
    df = spark.createDataFrame(
        [(1, "s", 8), (2, "s", 28), (3, "s", 4)],
        "doc_id long, source string, n_chars long",
    )
    rows = {
        r["doc_id"]: r
        for r in seqpack.sequence_layout(df, seq_len=10).collect()
    }
    assert rows[1]["tok_count"] == 4 and rows[1]["start_tok"] == 0
    assert rows[1]["seq_first"] == 0 and rows[1]["seq_last"] == 0
    # doc2: start 4, 9 tokens -> spans tokens 4..12 => seqs 0..1
    assert rows[2]["start_tok"] == 4 and rows[2]["n_seqs"] == 2
    assert rows[2]["offset_in_seq"] == 4
    # doc3: start 13 -> seq 1 only
    assert rows[3]["seq_first"] == 1 and rows[3]["seq_last"] == 1
    assert rows[3]["offset_in_seq"] == 3


def test_incremental_equals_full_repack(spark, docs):
    """Appending the delta batch against stored per-source totals
    must reproduce exactly the rows a full repack assigns to it."""
    split = 250
    prior = seqpack.source_totals(docs.where(F.col("doc_id") < split))
    inc = seqpack.sequence_layout_incremental(
        docs.where(F.col("doc_id") >= split), prior
    ).collect()
    full = [
        r
        for r in seqpack.sequence_layout(docs).collect()
        if r["doc_id"] >= split
    ]
    assert _key(inc) == _key(full)


def test_incremental_unseen_source_starts_at_zero(spark):
    """A source with no stored state begins its stream at offset 0."""
    old = spark.createDataFrame(
        [(1, "a", 40)], "doc_id long, source string, n_chars long"
    )
    new = spark.createDataFrame(
        [(2, "a", 40), (3, "b", 40)],
        "doc_id long, source string, n_chars long",
    )
    rows = {
        r["doc_id"]: r
        for r in seqpack.sequence_layout_incremental(
            new, seqpack.source_totals(old)
        ).collect()
    }
    assert rows[2]["start_tok"] == 12  # 40//4+2 from the stored batch
    assert rows[3]["start_tok"] == 0


def test_hydrate_covers_sequence_exactly(spark, docs):
    """Per source, the hydrated slices of sequence 1 tile exactly
    [L, 2L) in sequence coordinates with no gaps or overlaps."""
    L = seqpack.SEQ_LEN
    lay = seqpack.sequence_layout(docs).collect()
    hyd = seqpack.hydrate_sequence(docs, seq_id=1).collect()
    starts = {r["doc_id"]: r["start_tok"] for r in lay}
    by_source: dict[str, list] = {}
    for r in hyd:
        by_source.setdefault(r["source"], []).append(r)
    for src, rows in by_source.items():
        rows.sort(key=lambda r: r["seq_pos"])
        cursor = 0
        for r in rows:
            assert r["seq_pos"] == cursor
            assert r["doc_tok_from"] >= 0
            n = r["doc_tok_to"] - r["doc_tok_from"] + 1
            assert n >= 1
            # slice coordinates agree with the layout's global offset
            assert (
                starts[r["doc_id"]] + r["doc_tok_from"] == L + r["seq_pos"]
            )
            cursor += n
        # full tile unless the source stream ends inside sequence 1
        total = max(
            starts[r["doc_id"]] for r in lay if r["source"] == src
        )
        if total >= 2 * L:
            assert cursor == L


def test_stream_single_batch_equals_batch_layout(spark, docs, tmp_path):
    """AvailableNow over one fixture dir must reproduce the batch
    layout exactly (the gate contract)."""
    from fineweb_modal_spark.streaming import incremental as si

    d = str(tmp_path / "docs")
    docs.select("doc_id", "source", "n_chars").write.parquet(d)
    out = si.pack_layout_stream(
        spark, d, str(tmp_path / "ckpt")
    ).collect()
    batch = seqpack.sequence_layout(docs).collect()
    assert _key(out) == _key(batch)


def test_stream_state_continues_across_batches(spark, docs, tmp_path):
    """Forced multi-batch execution (two files partitioning the
    doc_id range in arrival order, maxFilesPerTrigger=1): per-source
    offsets must CONTINUE across micro-batches and the combined
    emission must equal the batch layout."""
    import time as _time

    from fineweb_modal_spark.streaming import incremental as si

    d = tmp_path / "docs"
    d.mkdir()
    lo = docs.where(F.col("doc_id") < 250).select(
        "doc_id", "source", "n_chars"
    )
    hi = docs.where(F.col("doc_id") >= 250).select(
        "doc_id", "source", "n_chars"
    )
    # availableNow processes files in modification-time order; the
    # sleep guards against coarse (1 s) mtime granularity
    lo.coalesce(1).write.parquet(str(d / "batch_a"))
    _time.sleep(1.1)
    hi.coalesce(1).write.parquet(str(d / "batch_b"))

    out = si.pack_layout_stream(
        spark,
        str(d / "*"),
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    ).collect()
    batch = seqpack.sequence_layout(docs).collect()
    assert _key(out) == _key(batch)


def test_stream_rejects_out_of_order_doc_ids(spark, docs, tmp_path):
    """The high doc_id range lands FIRST (earlier mtime), the low range
    after it: the second micro-batch would pack docs behind offsets
    already emitted, so the stream must fail instead of returning a
    layout that differs from the batch one."""
    import time as _time

    from fineweb_modal_spark.streaming import incremental as si

    d = tmp_path / "docs"
    d.mkdir()
    cols = ("doc_id", "source", "n_chars")
    docs.where(F.col("doc_id") >= 250).select(*cols).coalesce(1).write.parquet(
        str(d / "batch_a")
    )
    _time.sleep(1.1)
    docs.where(F.col("doc_id") < 250).select(*cols).coalesce(1).write.parquet(
        str(d / "batch_b")
    )
    with pytest.raises(Exception, match="out-of-order input"):
        si.pack_layout_stream(
            spark,
            str(d / "*"),
            str(tmp_path / "ckpt"),
            max_files_per_trigger=1,
        ).collect()


def test_plan_has_no_global_sort(spark, docs):
    """The distributed path must not contain a global Sort/Window over
    a single partition — its exchange is the range partitioning only."""
    plan = seqpack.sequence_layout_distributed(
        docs
    )._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # a global sort renders as `Sort [...], true, 0` (global flag);
    # the path's only sort must be the within-partition one
    assert "], true, 0" not in plan
