"""Steadiness report: one workload as two sets of runs.

Each run is a separate `run.py` process with its own seed (set A takes
seeds FIRST_SEED .. FIRST_SEED+runs-1, set B the next `runs` seeds).
For every end-to-end metric the report prints each set's median and
quartile spread, the spread over all runs together, and how much worse
set B's median is than set A's (negative: better), against the
metric's bound from BENCHMARK.json. A metric passes when the pooled
spread and the size of the gap, either way, both stay within its
bound.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import stats

FIRST_SEED = 101


def one_run(workload: str, seed: int, seconds: float) -> dict:
    cmd = [
        sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed}: exit {out.returncode}\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")
    return json.loads(lines[-1])


def report(bench: dict, sets: list[list[dict]]) -> tuple[list[dict], bool]:
    rows, ok = [], True
    for spec in bench["end_to_end"]:
        name = spec["name"]
        a = [r["metrics"][name]["value"] for r in sets[0]]
        b = [r["metrics"][name]["value"] for r in sets[1]]
        pooled = stats.spread(a + b)
        gap = stats.worse_share(stats.median(a), stats.median(b), spec["better"])
        passed = abs(gap) <= spec["bound"] and pooled <= spec["bound"]
        ok &= passed
        rows.append({
            "metric": name, "unit": spec["unit"], "bound": spec["bound"],
            "a_median": stats.median(a), "a_spread": stats.spread(a),
            "b_median": stats.median(b), "b_spread": stats.spread(b),
            "pooled_spread": pooled, "gap": gap, "ok": passed,
        })
    return rows, ok


def main(args, bench: dict) -> int:
    sets: list[list[dict]] = [[], []]
    seed = FIRST_SEED
    for s in range(2):
        for _ in range(args.runs):
            res = one_run(args.workload, seed, args.seconds)
            print(f"set {'AB'[s]} seed {seed}: " + json.dumps(
                {k: round(v["value"], 4) for k, v in res["metrics"].items()}), flush=True)
            if not res["correct"]:
                print(f"seed {seed}: incorrect result", file=sys.stderr)
                return 1
            sets[s].append(res)
            seed += 1
    rows, ok = report(bench, sets)
    print(f"\n{args.workload}: {args.runs} + {args.runs} runs, {args.seconds:g} s each")
    print(f"{'metric':<18}{'unit':<8}{'A median':>11}{'A IQR':>8}{'B median':>11}{'B IQR':>8}"
          f"{'pooled':>8}{'gap':>8}{'bound':>7}  ok")
    for r in rows:
        print(f"{r['metric']:<18}{r['unit']:<8}{r['a_median']:>11.4g}{r['a_spread']:>8.3f}"
              f"{r['b_median']:>11.4g}{r['b_spread']:>8.3f}{r['pooled_spread']:>8.3f}"
              f"{r['gap']:>+8.3f}{r['bound']:>7.2f}  {'yes' if r['ok'] else 'NO'}")
    print(json.dumps({"workload": args.workload, "runs_per_set": args.runs, "rows": rows, "ok": ok}))
    return 0 if ok else 1
