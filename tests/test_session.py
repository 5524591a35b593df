"""One session configuration: every entry point applies `session.SQL_CONF`.

Each entry point (the spark-submit job, `__spark_entry__.entry`, the
gate registry's dispatch) is handed a session whose every table key
holds some other value, and must leave the table's values behind. A
session launched with its own values keeps them, except the timezone.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import __spark_entry__ as entrymod
from fineweb_modal_spark import session

from .conftest import SF_ORACLE, SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _table(spark) -> dict[str, str]:
    return {
        session.SHUFFLE_PARTITIONS: str(spark.sparkContext.defaultParallelism),
        **session.SQL_CONF,
    }


def _other(v: str) -> str:
    if v in ("true", "false"):
        return "false" if v == "true" else "true"
    if v == "UTC":
        return "America/New_York"
    return str(int(v) + 1)


def _run_job(spark, tmp_path):
    import jobs.run_pipeline as job

    assert job.main(
        ["--input", SF_SMOKE, "--output", str(tmp_path / "out"),
         "--mode", "batch", "--granularity", "minute"]
    ) == 0


ENTRY_POINTS = {
    "job": _run_job,
    "entry": lambda spark, tmp_path: entrymod.entry(spark),
    "gate": lambda spark, tmp_path: entrymod.queries()["lang_counts"](spark, SF_ORACLE),
}


@pytest.mark.parametrize("entry_point", sorted(ENTRY_POINTS))
def test_entry_point_applies_table(entry_point, spark, tmp_path):
    table = _table(spark)
    launch = spark.sparkContext.getConf()
    assert not [k for k in table if launch.contains(k)]
    try:
        for k, v in table.items():
            spark.conf.set(k, _other(v))
        ENTRY_POINTS[entry_point](spark, tmp_path)
        assert {k: spark.conf.get(k) for k in table} == table
    finally:
        session.configure(spark)


_LAUNCHED = """
import json, sys
sys.path.insert(0, sys.argv[1])
from fineweb_modal_spark import session
spark = session.get_spark(master="local[1]", extra_conf={
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.session.timeZone": "America/New_York",
})
print(json.dumps({k: spark.conf.get(k) for k in session.SQL_CONF}
                 | {"p": spark.conf.get(session.SHUFFLE_PARTITIONS)}))
spark.stop()
"""


def test_launch_values_win_except_timezone():
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _LAUNCHED, ROOT],
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got.pop("p") == "7"
    assert got == session.SQL_CONF
