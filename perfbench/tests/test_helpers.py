"""Unit tests for the benchmark's own helpers (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import procstat  # noqa: E402
import stats  # noqa: E402
import steadiness  # noqa: E402
from eventlog import EventLog  # noqa: E402

# -- percentile rule ----------------------------------------------------


def test_p75_reported_only_with_ten_samples_above():
    assert stats.reportable_percentile(range(1, 41), 75) == 30  # 31..40 lie above
    assert stats.reportable_percentile(range(1, 40), 75) is None  # 9 above
    assert stats.reportable_percentile([2.0] * 50, 75) is None  # ties are not above


def test_spread_matches_statistics_quantiles():
    vals = [3.1, 2.9, 3.4, 3.0, 3.3, 2.8, 3.2, 3.05, 2.95, 3.15]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert stats.spread(vals) == pytest.approx((q3 - q1) / statistics.median(vals))
    assert stats.worse_share(10.0, 11.0, "lower") == pytest.approx(0.1)
    assert stats.worse_share(10.0, 11.0, "higher") == pytest.approx(-0.1)


def _runs(values):
    return [{"metrics": {"x_s": {"value": v}}} for v in values]


def test_steadiness_gap_fails_either_way():
    bench = {"end_to_end": [{"name": "x_s", "unit": "s", "better": "lower", "bound": 0.1}]}
    a = _runs([10.0, 10.1, 9.9, 10.0, 10.05])
    rows, ok = steadiness.report(bench, [a, _runs([10.2, 10.1, 10.3, 10.2, 10.25])])
    assert ok and rows[0]["gap"] == pytest.approx(0.02)
    # one odd run in set B: the pooled spread stays 0, only the gap shows
    rows, ok = steadiness.report(bench, [_runs([10.0] * 9), _runs([12.0])])
    assert rows[0]["pooled_spread"] == 0 and rows[0]["gap"] == pytest.approx(0.2) and not ok
    rows, ok = steadiness.report(bench, [_runs([10.0] * 9), _runs([8.0])])
    assert rows[0]["pooled_spread"] == 0 and rows[0]["gap"] == pytest.approx(-0.2)
    assert not ok  # set B faster: the sets disagree just the same


# -- /proc process-tree sampler ------------------------------------------


def _fake_stat(proc, pid, ppid, comm="python3", utime=0, stime=0, cutime=0, cstime=0, rss=0):
    os.makedirs(proc / str(pid))
    # fields 3..24 of proc(5); unused ones are 0
    f = ["S", ppid] + [0] * 9 + [utime, stime, cutime, cstime] + [0] * 4 + [1000, 0, rss]
    (proc / str(pid) / "stat").write_text(f"{pid} ({comm}) " + " ".join(map(str, f)) + "\n")


def test_tree_cpu_and_rss_from_fake_proc(tmp_path):
    proc = tmp_path / "proc"
    _fake_stat(proc, 100, 1, utime=100, stime=50, cutime=20, cstime=10, rss=1000)
    _fake_stat(proc, 101, 100, comm="java", utime=300, stime=100, rss=5000)
    _fake_stat(proc, 102, 101, comm="a) b (c", utime=40, stime=10, rss=200)  # hostile comm
    _fake_stat(proc, 200, 1, utime=9999, rss=9999)  # not in the tree
    (proc / "self").mkdir()
    t = procstat.tree(100, str(proc))
    assert sorted(t) == [100, 101, 102]
    assert t[102]["ppid"] == 101
    ticks = 100 + 50 + 20 + 10 + 300 + 100 + 40 + 10
    assert procstat.cpu_seconds(t) == pytest.approx(ticks / procstat.CLK_TCK)
    assert procstat.rss_mb(t) == pytest.approx(6200 * procstat.PAGE / 2**20)
    (proc / "stat").write_text("cpu  10 1 5 70 2 0 2 10 4 0\ncpu0 10 1 5 70 2 0 2 10 4 0\n")
    assert procstat.host_cpu_ticks(str(proc)) == (10, 100)  # guest time is inside user


def test_sampler_counts_reaped_children(tmp_path):
    s = procstat.TreeSampler(interval_s=0.05).start()
    try:
        before = s.cpu()
        busy = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.4: pass\n"
        subprocess.run([sys.executable, "-c", busy], check=True, timeout=30)
        time.sleep(0.1)
        after = s.cpu()  # the child is gone; its CPU sits in our cutime/cstime
    finally:
        s.stop()
    assert after - before >= 0.3
    assert s.peak_rss_mb > 0
    assert 0 <= procstat.process_age_s() < 3600


def test_wait_gone_stops_a_stubborn_process():
    p = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    signalled = procstat.wait_gone([p.pid], timeout_s=2.0)
    assert signalled == [p.pid]
    assert p.poll() is not None


# -- event-log parser --------------------------------------------------------

SMALL_LOG = os.path.join(HERE, "data", "eventlog_small.jsonl")


def test_eventlog_parser_attributes_metrics_to_job_groups():
    ev = EventLog.read(SMALL_LOG)
    assert {"t/scan", "t/spread", "t/score", "t/write"} <= ev.groups()
    # 40 rows from one parquet file in the scan group
    assert ev.op({"t/scan"}, "Scan parquet", "number of output rows") == 40
    assert ev.op({"t/scan"}, "Scan parquet", "size of files read") > 0
    # the round-robin repartition is told apart from other exchanges
    assert ev.op({"t/spread"}, "Exchange(RoundRobin)", "shuffle records written") == 40
    assert ev.op({"t/spread"}, "Exchange(RoundRobin)", "shuffle bytes written") > 0
    # Arrow UDF: every row went to Python; timings are converted to seconds
    assert ev.op({"t/score"}, "ArrowEvalPython", "number of output rows") == 40
    run_s = ev.op({"t/score"}, "ArrowEvalPython", "time to run Python workers")
    assert 0 < run_s < 60
    assert ev.task({"t/score"}, "tasks") >= 1
    assert ev.task({"t/score"}, "run_ms") > 0
    assert ev.jobs({"t/scan"}) == 2
    assert ev.jobs({"t/score", "t/write"}) == 3


def test_eventlog_parser_finds_write_executions():
    ev = EventLog.read(SMALL_LOG)
    writes = [e for e in ev.executions_in({"t/write"}) if e.writes]
    assert writes and all(e.wall_s > 0 for e in writes)
    assert any(e.touches("/_manifest") for e in writes)
    assert not any(e.writes for e in ev.executions_in({"t/scan"}))


# -- result checker ------------------------------------------------------------


def _expected():
    rows = [
        {"doc_id": 0, "lang_pred": "en", "keep": True, "drop_reason": None, "scrubbed_text": "abc"},
        {"doc_id": 1, "lang_pred": "fr", "keep": False, "drop_reason": "too_few_words", "scrubbed_text": None},
        {"doc_id": 86400, "lang_pred": "en", "keep": True, "drop_reason": float("nan"), "scrubbed_text": "de"},
    ]
    return checks.Expected.from_rows(rows, lambda d: f"day{d // 86400}")


def test_checker_accepts_the_right_result():
    exp = _expected()
    man = [{"ds": "day0", "n_rows": 2, "n_keep": 1, "out_chars": 3},
           {"ds": "day1", "n_rows": 1, "n_keep": 1, "out_chars": 2}]
    assert checks.check_window(exp, ["day0", "day1"], man) == []
    groups = [("en", None, 2), ("fr", "too_few_words", 1)]
    assert checks.check_groups(exp, ["day0", "day1"], groups) == []
    assert checks.check_doc_ids(exp, ["day0", "day1"], [0, 1, 86400]) == []


def test_checker_rejects_a_corrupted_result():
    exp = _expected()
    bad_keep = [{"ds": "day0", "n_rows": 2, "n_keep": 2, "out_chars": 3}]
    assert checks.check_manifest(exp, bad_keep)
    missing_day = [{"ds": "day0", "n_rows": 2, "n_keep": 1, "out_chars": 3}]
    assert checks.check_window(exp, ["day0", "day1"], missing_day)
    assert checks.check_groups(exp, ["day0", "day1"], [("en", None, 3), ("fr", "too_few_words", 1)])
    assert checks.check_doc_ids(exp, ["day0", "day1"], [0, 1, 1, 86400])  # duplicate
    assert checks.check_doc_ids(exp, ["day0", "day1"], [0, 86400])  # missing
