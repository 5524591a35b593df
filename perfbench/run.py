#!/usr/bin/env python3
"""The engine's benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload daily_commit --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --steadiness --workload stream_ingest --runs 5

Run from the repository root. A run starts a fresh local Spark session
on local[$SPARK_GRAFT_CPUS] (default: the CPUs this process may use),
generates every input slice and the DuckDB oracle's expected results,
runs one cold increment and the warm-up increments (set-up), then a
fixed number of timed increments, ceil(--seconds / NOMINAL_INCREMENT_S),
so every commit's medians cover the same increments. Every increment
is checked against the oracle as soon as it has run, outside the
timed window. A traced daily_commit run then also times the heavy
query families (battery.py).

stdout ends with one JSON line {"correct", "attempted", "failed",
"metrics"}; the line before it stamps the run (nproc, cpus, commit)
and holds the per-increment detail. --trace 0 reports the end-to-end
metrics, --trace 1 the per-layer ones (see DESIGN.md). The exit code
is 0 only when every result was correct; without the engine's
sources beside this directory it exits 2 and prints no result.

Everything the run writes lives in a temporary directory under
.perfbench/ at the root, removed at exit; a traced run also leaves
its spans in .perfbench/spans-<workload>-<seed>.json.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import layers  # noqa: E402
import procstat  # noqa: E402
import stats  # noqa: E402

WORKLOAD_NAMES = ("daily_commit", "stream_ingest")
# the increment time --seconds is divided by to give the number of
# timed increments (about one warm increment with its readers)
NOMINAL_INCREMENT_S = 5.0
# times the reader set runs after each untraced timed commit (as
# several curators would); read_p50_s is the median over all of them
READ_REPEATS = 5
# stop starting increments at this process age: a run must end in 180 s
DEADLINE_S = 120.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOAD_NAMES, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="sets the timed increments, ceil(seconds / 5) (default: run_seconds in BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steadiness", action="store_true",
                    help="run the workload as two sets of runs and compare them")
    ap.add_argument("--runs", type=int, default=5, help="runs per set (--steadiness)")
    return ap.parse_args(argv)


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def source_stamp() -> str:
    """The commit, or a digest of the engine's sources when the checkout
    is not a git repository."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for base in ("fineweb_modal_spark", "jobs"):
        for dirpath, dirnames, files in os.walk(os.path.join(ROOT, base)):
            dirnames.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(dirpath, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return "src-" + h.hexdigest()[:12]


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def spark_conf(work: str, traced: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if traced:
        os.makedirs(os.path.join(work, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": os.path.join(work, "events"),
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 -- the JVM may already be gone
            pass
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def timed_increments(seconds: float) -> int:
    return max(2, math.ceil(seconds / NOMINAL_INCREMENT_S))


def step(wl, k: int, traced: bool, listener, n_stream: list, cpu, reads: int = 1) -> dict:
    """One increment: land (untimed), commit, then the reader set
    `reads` times, then the checks (untimed). `cpu()` reads the
    process tree's CPU seconds around the commit and the first reader
    set. Any exception or failed check is recorded as a failed
    increment."""
    rec = {"k": k, "traced": traced, "ds": None, "error": None}
    try:
        wl.land(k)
        c0 = cpu()
        with wl.span("increment", f"inc{k}"):
            t0 = time.monotonic()
            inc = wl.commit(k, traced)
            t1 = time.monotonic()
            rd = wl.read(k, traced)
            t2 = time.monotonic()
        rec["cpu_s"] = cpu() - c0
        rec.update(inc, commit_s=t1 - t0, read_s=t2 - t1, read=rd, ds=wl.days[k])
        rec["reads"], rec["read_samples"] = [rd], [t2 - t1]
        for _ in range(reads - 1):
            t = time.monotonic()
            rec["reads"].append(wl.read(k, False))
            rec["read_samples"].append(time.monotonic() - t)
        rec["part_files"], rec["part_bytes"] = wl.partition_stats(rec["ds"])
        if listener is not None and wl.name == "stream_ingest":
            n_stream[0] += 1
            rec["run_id"] = listener.wait_run(n_stream[0])
        rec["error"] = "; ".join(check_increment(wl.expected, rec)) or None
    except Exception as e:  # noqa: BLE001 -- a failed increment is a counted result
        rec["error"] = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
    return rec


def check_increment(exp, r) -> list[str]:
    """One increment's observed results against the oracle's."""
    from workloads import SLICE_DOCS

    errs = []
    if r.get("manifest") is not None:
        errs += checks.check_manifest(exp, r["manifest"])
    if r.get("committed") is not None and r["committed"] != SLICE_DOCS:
        errs.append(f"trigger committed {r['committed']} rows, want {SLICE_DOCS}")
    for rd in r["reads"]:
        errs += checks.check_window(exp, rd["window"], rd["manifest"])
        errs += checks.check_groups(exp, rd["window"], rd["groups"])
    return errs


def end_to_end(records, timed_from, setup_s, peak_rss_mb, out_bytes) -> dict:
    timed = [r for r in records if r["k"] >= timed_from]
    clock = sum(r["commit_s"] + r["read_s"] for r in timed)
    docs = sum(r["docs"] for r in timed)
    committed = sum(r["docs"] for r in records)
    return {
        "setup_s": setup_s,
        "cold_increment_s": records[0]["commit_s"],
        "docs_per_s": docs / clock,
        "increment_p50_s": stats.median(r["commit_s"] for r in timed),
        "read_p50_s": stats.median(s for r in timed for s in r["read_samples"]),
        "cpu_s_per_kdoc": sum(r["cpu_s"] for r in timed) / (docs / 1000),
        "peak_rss_mb": peak_rss_mb,
        "out_bytes_per_doc": out_bytes / committed,
    }


def run_battery(spark, work: str, seed: int, tracer) -> tuple[list[str], int]:
    """The heavy families over a small seeded corpus: a cold rotation
    (checked, not reported), then the warm one the metrics read.
    Returns the failed calls and the number of calls."""
    import duckdb

    import battery

    sf_dir = os.path.join(work, "battery")
    battery.write_corpus(seed, sf_dir)
    with duckdb.connect() as con:
        want = battery.expected(con, sf_dir)
    errs = []
    for trace in (battery.COLD, battery.WARM):
        errs += battery.rotation(spark, sf_dir, tracer.span, trace, want)
    return errs, 2 * len(battery.FAMILIES)


def run(args, work: str) -> tuple[dict, dict]:
    traced_run = bool(args.trace)
    os.makedirs(os.path.join(work, "tmp"))
    n = cpus()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(n))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM the run starts (launcher and driver) keeps its temp files
    # in the work root; -UsePerfData: no /tmp/hsperfdata_<user> entry
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    tempfile.tempdir = None  # pick up TMPDIR

    import duckdb

    from spans import Tracer
    from workloads import WARMUPS, WORKLOADS

    sampler = procstat.TreeSampler().start()
    tracer = Tracer() if traced_run else None
    spark = listener = None
    records: list[dict] = []
    run_errors: list[str] = []
    battery_errors: list[str] = []
    battery_calls = 0
    # a traced run times one more increment, so its traced increment
    # sits between two untraced ones (trace_overhead)
    n_slices = WARMUPS + 1 + timed_increments(args.seconds) + traced_run
    info: dict = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "cpus": n,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"], "commit": source_stamp(),
    }
    pids: list[int] = []
    try:
        from fineweb_modal_spark.session import get_spark

        t0 = time.monotonic()
        spark = get_spark(extra_conf=spark_conf(work, traced_run))
        session_s = time.monotonic() - t0
        spark.sparkContext.setLogLevel("ERROR")
        if tracer is not None:
            tracer.sc = spark.sparkContext
            listener = layers.progress_listener()
            spark.streams.addListener(listener)
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        with duckdb.connect() as con:
            wl.prepare(con, n_slices)
        t_prepared = procstat.process_age_s()
        n_stream = [0]
        for k in range(WARMUPS + 1):
            records.append(step(wl, k, False, listener, n_stream, sampler.cpu))
            if records[-1]["error"]:
                break
        setup_s = procstat.process_age_s()
        # peak RSS of the timed phase only
        sampler.reset_peak()
        steal0 = procstat.host_cpu_ticks()
        for k in range(WARMUPS + 1, n_slices):
            if records[-1]["error"] or procstat.process_age_s() >= DEADLINE_S:
                break
            traced = traced_run and (k - WARMUPS) % 2 == 0
            records.append(step(
                wl, k, traced, listener, n_stream, sampler.cpu, 1 if traced else READ_REPEATS
            ))
        sampler.stop()
        t_timed = procstat.process_age_s()
        steal1 = procstat.host_cpu_ticks()
        info["timed_host_steal_share"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        info["timed_increments"] = len(records) - WARMUPS - 1
        if not records[-1]["error"] and len(records) < n_slices:
            info["cut_at_deadline"] = True
        if not records[-1]["error"]:
            run_errors = checks.check_doc_ids(
                wl.expected, wl.days[: len(records)], wl.committed_doc_ids()
            )
        out_bytes = wl.out_bytes()
        info["phases_s"] = {
            "session": session_s, "prepared": t_prepared, "setup": setup_s,
            "timed_end": t_timed, "verified": procstat.process_age_s(),
        }
        if traced_run and args.workload == "daily_commit" and not (records[-1]["error"] or run_errors):
            battery_errors, battery_calls = run_battery(spark, work, args.seed, tracer)
            info["phases_s"]["battery"] = procstat.process_age_s()
        pids = procstat.descendants()
    finally:
        pids = pids or procstat.descendants()
        if spark is not None:
            stop_spark(spark)
        sampler.stop()
        signalled = procstat.wait_gone(pids)
        if signalled:
            info["processes_signalled"] = len(signalled)
        info.setdefault("phases_s", {})["stopped"] = procstat.process_age_s()

    failed = [r for r in records if r["error"]]
    info["increments"] = [
        {"k": r["k"], "traced": r["traced"], "commit_s": r.get("commit_s"), "read_s": r.get("read_samples")}
        for r in records
    ]
    info["errors"] = [f"inc{r['k']}: {r['error']}" for r in failed][:5] + (
        run_errors if not failed else []
    ) + battery_errors
    correct = not failed and not run_errors and not battery_errors and len(records) > WARMUPS + 1
    timed_ok = [r for r in records if r["k"] > WARMUPS and not r["error"]]
    info["samples"] = len(timed_ok)
    p75 = stats.reportable_percentile([r["commit_s"] for r in timed_ok], 75)
    info["increment_p75_s"] = p75 if p75 is not None else f"omitted: {len(timed_ok)} samples leave fewer than 10 above p75"

    metrics: dict = {}
    if correct and not traced_run:
        metrics = end_to_end(records, WARMUPS + 1, setup_s, sampler.peak_rss_mb, out_bytes)
    elif correct:
        from eventlog import EventLog

        ev = EventLog.read(os.path.join(work, "events"))
        metrics = layers.layer_metrics(
            args.workload, records, tracer, ev, listener, int(os.environ["SPARK_GRAFT_CPUS"]),
            session_s, WARMUPS + 1,
        )
        if args.workload == "stream_ingest":
            # the per-trigger growth the stream shows as the run grows
            info["triggers"] = [
                {
                    "k": r["k"], "commit_s": r["commit_s"],
                    "latest_offset_s": listener.durations(r["run_id"]).get("latestOffset", 0.0),
                    "progress_input_rows": listener.durations(r["run_id"])["rows"],
                    "manifest_rows_read": layers.manifest_rows_read(ev, r),
                }
                for r in records if r.get("run_id")
            ]
        out_dir = os.path.join(ROOT, ".perfbench")
        tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
    units = {m["name"]: m["unit"] for m in load_benchmark()["end_to_end" if not traced_run else "per_layer"]}
    result = {
        "correct": correct,
        "attempted": len(records) + battery_calls,
        "failed": len(failed) + (1 if run_errors and not failed else 0) + len(battery_errors),
        "metrics": {k: {"value": v, "unit": units.get(k, "")} for k, v in metrics.items()},
    }
    return result, info


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seconds is None:
        args.seconds = float(load_benchmark()["run_seconds"])
    if args.steadiness:
        import steadiness

        return steadiness.main(args, load_benchmark())
    if not os.path.isfile(os.path.join(ROOT, "fineweb_modal_spark", "session.py")):
        print("perfbench: the engine's sources (fineweb_modal_spark/) are not beside "
              "perfbench/; run from the repository root", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="work-", dir=base)
    try:
        result, info = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
