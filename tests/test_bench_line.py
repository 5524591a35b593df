"""The round line `bench.py` prints last, checked against canned
perfbench results (no Spark): it fits in the last 2,048 bytes of
stdout, which is all a caller that parses it may keep; it carries
every BENCHMARK.json end-to-end metric for every workload; and the
exit code follows each run's verdict.

`bench.py` runs from a copy beside a BENCHMARK.json whose command is a
stand-in that prints a canned perfbench stdout per workload.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TAIL_BUDGET = 2048
# the widest JSON number a metric can render to
WORST_VALUE = -1.2345678901234567e300

STAND_IN = """\
import json, sys
canned = json.load(open(sys.argv[1]))[sys.argv[sys.argv.index("--workload") + 1]]
print(json.dumps({"nproc": 4096, "increments": []}))
print(canned["stdout"])
sys.exit(canned["code"])
"""


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def result(bench: dict, correct: bool = True, value: float = WORST_VALUE) -> str:
    return json.dumps({
        "correct": correct, "attempted": 4, "failed": 0 if correct else 4,
        "metrics": {m["name"]: {"value": value, "unit": m["unit"]} for m in bench["end_to_end"]}
        if correct else {},
    })


def run_bench(tmp_path, canned: dict) -> tuple[int, str]:
    bench = load_benchmark()
    bench["command"] = [sys.executable, "stand_in.py", "canned.json"]
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(bench))
    (tmp_path / "canned.json").write_text(json.dumps(canned))
    (tmp_path / "stand_in.py").write_text(STAND_IN)
    shutil.copy(os.path.join(ROOT, "bench.py"), tmp_path)
    p = subprocess.run([sys.executable, "bench.py"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=120)
    return p.returncode, p.stdout.splitlines()[-1]


def test_round_line_fits_tail_budget_with_every_metric(tmp_path):
    bench = load_benchmark()
    names = {m["name"] for m in bench["end_to_end"]}
    canned = {w["name"]: {"code": 0, "stdout": result(bench)} for w in bench["workloads"]}
    code, last = run_bench(tmp_path, canned)
    assert code == 0
    assert len(last.encode()) <= TAIL_BUDGET
    line = json.loads(last)
    assert line["metric"] == "increment_p50_s" and line["unit"] == "s"
    assert line["value"] == WORST_VALUE
    assert line["correct"] is True and line["nproc"] == os.cpu_count()
    assert set(line["workloads"]) == {w["name"] for w in bench["workloads"]}
    for metrics in line["workloads"].values():
        assert metrics == {n: WORST_VALUE for n in names}
    assert "best_of" not in last


@pytest.mark.parametrize(
    "bad",
    [
        {"code": 1, "correct": False},  # perfbench's own verdict
        {"code": 0, "correct": False},  # a result that says incorrect
        {"code": 2, "stdout": "perfbench: the engine's sources are not beside perfbench/"},
    ],
)
def test_failed_or_incorrect_run_exits_nonzero(tmp_path, bad):
    bench = load_benchmark()
    good, failing = (w["name"] for w in bench["workloads"])
    canned = {
        good: {"code": 0, "stdout": result(bench, value=1.5)},
        failing: {"code": bad["code"], "stdout": bad.get("stdout") or result(bench, correct=False)},
    }
    code, last = run_bench(tmp_path, canned)
    assert code != 0
    line = json.loads(last)
    assert line["correct"] is False
    assert line["workloads"][good]["increment_p50_s"] == 1.5
    assert set(line["workloads"][failing].values()) == {None}
