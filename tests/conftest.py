from __future__ import annotations

import sys
from pathlib import Path

import pytest

# the checkout this file lives in, not whatever copy is installed
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from fineweb_modal_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="pytest")
    yield s


@pytest.fixture
def jobs_of(spark):
    """jobs_of(group, fn): Spark jobs started while fn() runs, counted
    through a job group."""

    def count(group: str, fn) -> int:
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            fn()
            return len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    return count


@pytest.fixture
def run_job(capsys):
    """run_job(*argv): the stdout JSON line of one successful
    `jobs/run_pipeline.py` run."""
    import json

    import jobs.run_pipeline as job

    def run(*argv: str) -> dict:
        assert job.main(list(argv)) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    return run


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_ORACLE}/{t}.parquet'"
        )
    return con
