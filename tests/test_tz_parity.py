"""Timezone immunity of the gate registry (round-4 driver hash-FAIL).

The r4 driver ran `hll_distinct_stream` from a session that inherited
the host timezone; the gate's NTZ→LTZ cast + epoch-aligned 7-day
window + date cast shifted week starts by one day and the hash
mismatched the DuckDB oracle. The registry dispatch now applies the
engine's settings (`session.configure`, which always sets
`spark.sql.session.timeZone=UTC`) to the CALLER's session at gate-call
time, so every gate must hash-green no matter what timezone the
driver's session starts in.

These tests simulate hostile driver sessions for every gate that
emits a temporal column (the sensitivity class, enumerated by the
`temporal_cols` audit in CORRECTNESS_local_r05_tz_nyc.json — the
committed full-registry sweep under America/New_York).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from fineweb_modal_spark import session
from tools.compare_oracle import frame_fingerprint

from .conftest import SF_ORACLE

# Batch gates emitting date/timestamp columns (fast; the full list of
# temporal batch gates from the audit minus the streaming ones, which
# are covered separately because each costs a streaming query).
TEMPORAL_BATCH_GATES = [
    "distinct_users_daily",
    "events_rollup_2level",
    "events_hourly",
    "sessionize",
    "session_window_agg",
    "url_dedup_latest",
    "crawl_budget_enforce",
    "tpch_q3_shipping_priority",
    "tpch_q18_large_volume_customer",
]

HOSTILE_TZS = [
    "America/New_York",  # the r4 failure environment (negative offset)
    "Asia/Kolkata",      # +05:30 — a half-hour offset
    "Pacific/Kiritimati",  # +14 — the maximal offset
]


def _assert_gate_green(spark, duck, name: str) -> None:
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    sdf = qs[name](spark, SF_ORACLE)
    # the dispatch wrapper must have re-pinned the session
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(oracles[name])
    orows = res.fetchall()
    ocols = [c[0] for c in res.description]
    assert frame_fingerprint(sdf.columns, srows) == frame_fingerprint(
        ocols, orows
    ), f"{name} hash-mismatch under hostile session tz"


@pytest.fixture
def hostile_tz(spark, request):
    """Set a non-UTC session timezone; restore the engine's settings
    afterwards."""
    spark.conf.set("spark.sql.session.timeZone", request.param)
    yield request.param
    session.configure(spark)


@pytest.mark.parametrize("hostile_tz", HOSTILE_TZS, indirect=True)
@pytest.mark.parametrize("name", TEMPORAL_BATCH_GATES)
def test_temporal_batch_gates_tz_immune(name, hostile_tz, spark, duck):
    _assert_gate_green(spark, duck, name)


@pytest.mark.parametrize("hostile_tz", HOSTILE_TZS, indirect=True)
def test_hll_distinct_stream_tz_immune(hostile_tz, spark, duck):
    """The exact r4 failure: 7-day epoch-aligned streaming window +
    date cast under a non-UTC driver session."""
    _assert_gate_green(spark, duck, "hll_distinct_stream")


def test_dispatch_pins_utc_without_restoring(spark):
    """The wrapper must leave the session pinned to UTC (NOT restore
    the hostile tz): the returned DataFrame is lazy, so the conf must
    still be UTC when the driver collects it later."""
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = entrymod.queries()["lang_counts"](spark, SF_ORACLE)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        df.collect()
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        session.configure(spark)


def test_entry_pins_utc(spark):
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        entrymod.entry(spark)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        session.configure(spark)
