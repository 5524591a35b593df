#!/usr/bin/env python3
"""Round benchmark: `python bench.py` runs every BENCHMARK.json workload once.

Each run is BENCHMARK.json's `command` with perfbench's default run
length; its own stdout goes to stderr. The last stdout line is one JSON
object: the daily_commit median increment as the headline, each
workload's end-to-end metrics and the host's nproc. Exits 1 unless
every run exited 0 with a correct result. Method: BASELINE.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.abspath(__file__))
HEADLINE = ("daily_commit", "increment_p50_s")


def last_json(stdout: str) -> dict | None:
    """perfbench's result: the last stdout line, or None if it is not JSON."""
    try:
        return json.loads(stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        return None


def summary(bench: dict, runs: dict) -> tuple[dict, int]:
    """The round line and exit code from {workload: (exit code, result or None)}."""
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    ok = all(code == 0 and (res or {}).get("correct") is True for code, res in runs.values())
    workloads = {
        w: {n: (res or {}).get("metrics", {}).get(n, {}).get("value") for n in e2e}
        for w, (_, res) in runs.items()
    }
    wl, metric = HEADLINE
    line = {"metric": metric, "value": workloads.get(wl, {}).get(metric), "unit": e2e[metric],
            "workloads": workloads, "correct": ok, "nproc": os.cpu_count()}
    return line, 0 if ok else 1


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    runs = {}
    for w in bench["workloads"]:
        p = subprocess.run([*bench["command"], "--workload", w["name"]],
                           cwd=ROOT, stdout=subprocess.PIPE, text=True)
        sys.stderr.write(p.stdout)
        runs[w["name"]] = (p.returncode, last_json(p.stdout))
    line, code = summary(bench, runs)
    print(json.dumps(line), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
