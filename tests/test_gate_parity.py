"""Every __spark_entry__ gate query vs its DuckDB oracle (the same
comparison the driver runs for CORRECTNESS_r{N}.json)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tools.compare_oracle import frame_fingerprint

from .conftest import SF_ORACLE

_QUERIES = entrymod.queries()
_ORACLES = entrymod.oracle_sql()


def test_every_oracle_has_a_query():
    assert set(_ORACLES) <= set(_QUERIES)


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_gate_query(name, spark, duck):
    sdf = _QUERIES[name](spark, SF_ORACLE)
    srows = [tuple(r) for r in sdf.collect()]
    assert len(srows) > 0, f"{name}: empty result"
    if name not in _ORACLES:
        pytest.skip(f"{name}: rows-only (no SQL oracle)")
    res = duck.execute(_ORACLES[name])
    orows = res.fetchall()
    ocols = [c[0] for c in res.description]
    assert frame_fingerprint(sdf.columns, srows) == frame_fingerprint(ocols, orows)


def test_registry_counts_match_docs():
    """README/COVERAGE/BASELINE registry counts must track the live
    registry — the count-drift failure mode the round-2 review
    flagged, now machine-checked."""
    n_q, n_o = len(_QUERIES), len(_ORACLES)
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    readme = open(os.path.join(root, "README.md")).read()
    coverage = open(os.path.join(root, "COVERAGE.md")).read()
    baseline = open(os.path.join(root, "BASELINE.md")).read()
    assert f"{n_o} of {n_q} gate queries" in readme
    assert f"**{n_q} queries, {n_o} oracled — {n_o}/{n_o} hash-green" in coverage
    assert f"**{n_q} queries — {n_o} oracle-checked" in baseline


def test_fixed_gate_order_reads_no_files():
    """The registry order is one committed front list, then
    registration order: the stream HLL gate and its batch twin lead,
    the first 50 gates all carry oracles, and a stray result file in
    the repo root changes nothing."""
    import json
    import os

    from fineweb_modal_spark.plans import queries as Q

    before = list(Q.queries())
    assert before[:2] == ["hll_distinct_stream", "hll_distinct_events"]
    oracles = Q.oracles()
    assert all(n in oracles for n in before[:50])
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    forged = os.path.join(root, "CORRECTNESS_r98.json")
    with open(forged, "w") as f:
        json.dump({"queries": {n: {"hash_match": True} for n in before}}, f)
    try:
        assert list(Q.queries()) == before
        assert list(Q.oracles()) == [n for n in before if n in oracles]
    finally:
        os.remove(forged)


def test_gate_scratch_root_removed_at_exit():
    """Gate scratch dirs live under one per-process root that outlives
    every gate (their lazy results read from it) and is gone once the
    process exits."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import os\n"
        "from fineweb_modal_spark.plans import queries as Q\n"
        "d = Q._scratch_dir()\n"
        "assert os.path.isdir(d) and os.path.isdir(Q._scratch_dir())\n"
        "print(d)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=root, capture_output=True, text=True, check=True,
    ).stdout.split()[-1]
    assert os.path.basename(os.path.dirname(out)).startswith("gate_scratch_")
    assert not os.path.exists(os.path.dirname(out))
