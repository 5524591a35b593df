"""Encoding-anomaly detection/repair: signal exactness on known
damage, repair idempotency, flag semantics, report consistency."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fineweb_modal_spark.operators import encodingfix as ef
from fineweb_modal_spark.sources.tables import load_table

SF = "/root/testdata/sf0.01"

MOJ = ef.MOJIBAKE_PAIRS[0][0]  # U+00C3 U+00A9
QUOTE3 = ef.MOJIBAKE_PAIRS[4][0]  # 3-char CP1252 right-quote render


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents")


def _frame(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )


def test_signals_exact_counts(spark):
    df = _frame(
        spark,
        [
            (1, "s", f"caf{MOJ} ol{MOJ}"),  # 2 mojibake pairs
            (2, "s", "a" + ef.REPLACEMENT_CHAR * 3),  # 3 U+FFFD
            (3, "s", "clean text"),
            (4, "s", "x" + ef.NEL_CHAR + "y"),  # 1 C1 stray
            (5, "s", f"it{QUOTE3}s fine"),  # 3-char quote render
        ],
    )
    sig = {
        r["doc_id"]: r
        for r in ef.anomaly_signals(df, text_col="text").collect()
    }
    assert sig[1]["n_mojibake"] == 2 and sig[1]["enc_flagged"]
    assert sig[2]["n_replacement"] == 3 and sig[2]["enc_flagged"]
    assert not sig[3]["enc_flagged"]
    assert sig[4]["n_c1"] == 1 and sig[4]["enc_flagged"]
    assert sig[5]["n_mojibake"] == 1 and sig[5]["enc_flagged"]


def test_single_replacement_char_not_flagged(spark):
    """One lone U+FFFD is below FLAG_MIN_REPLACEMENT (common in
    legitimately-truncated pages); two are not."""
    df = _frame(
        spark,
        [
            (1, "s", "x" + ef.REPLACEMENT_CHAR),
            (2, "s", "x" + ef.REPLACEMENT_CHAR * 2),
        ],
    )
    sig = {
        r["doc_id"]: r
        for r in ef.anomaly_signals(df, text_col="text").collect()
    }
    assert not sig[1]["enc_flagged"]
    assert sig[2]["enc_flagged"]


def test_repair_folds_and_is_idempotent(spark):
    df = _frame(
        spark,
        [(1, "s", f"caf{MOJ} {ef.REPLACEMENT_CHAR}x {QUOTE3}")],
    )
    once = ef.repair(df, text_col="text").collect()[0]["rtext"]
    assert once == "caf" + chr(0xE9) + " x " + chr(0x2019)
    df2 = _frame(spark, [(1, "s", once)])
    twice = ef.repair(df2, text_col="text").collect()[0]["rtext"]
    assert twice == once
    # repaired text carries zero signals
    sig = ef.anomaly_signals(df2, text_col="text").collect()[0]
    assert sig["n_mojibake"] == 0 and sig["n_replacement"] == 0


def test_report_matches_handcount(spark, docs):
    """repair_char_delta == mojibake pairs folded (2->1: +1 each) +
    replacement chars dropped. The identity holds because the only
    damage present is the in-query injected kind (2-char pair +
    U+FFFD) — asserted as a precondition: if the fixture ever gains
    natural non-ASCII text (3-char quote renders fold 3->1, delta 2
    per count, and C1 strays are counted but not repaired), recompute
    the expectation instead of relying on this identity."""
    n_non_ascii = docs.where(
        F.col("text").rlike("[^\\x20-\\x7e]")
    ).count()
    assert n_non_ascii == 0, "fixture gained non-ASCII text"
    rep = ef.anomaly_report(docs).collect()
    assert len(rep) > 0
    for r in rep:
        assert r["repair_char_delta"] == (
            r["total_mojibake"] + r["total_replacement"]
        )
        assert 0 <= r["n_flagged"] <= r["n_docs"]
    # the deterministic corruption guarantees some damage exists
    assert sum(r["total_mojibake"] for r in rep) > 0
    assert sum(r["total_replacement"] for r in rep) > 0


def test_corruption_is_deterministic(spark, docs):
    a = ef.anomaly_report(docs).collect()
    b = ef.anomaly_report(docs).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
