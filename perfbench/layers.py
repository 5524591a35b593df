"""Per-layer metrics of a traced run.

Inputs: the increment records, the tracer's spans, the parsed event
log and the streaming progress the listener collected. Each metric is
a median over the run's traced timed increments, except the two
whole-run ratios. A layer the workload's path does not call reports 0
(the traced run has no span or operator for it); which layers each
workload calls is listed in perfbench/DESIGN.md. The heavy query
families are timed only in a traced daily_commit run, once warm.
"""

from __future__ import annotations

import threading
import time

import battery
import stats

STREAM_DURATIONS = {
    "streaming.trigger_s": "triggerExecution",
    "streaming.add_batch_s": "addBatch",
    "streaming.latest_offset_s": "latestOffset",
    "streaming.wal_commit_s": "walCommit",
    "streaming.commit_offsets_s": "commitOffsets",
}
MANIFEST = "/_manifest"


def progress_listener():
    """A StreamingQueryListener that keeps every query's progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.started: list[str] = []
            self.terminated: set[str] = set()
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            with self.lock:
                self.started.append(str(event.runId))

        def onQueryProgress(self, event):
            p = event.progress
            with self.lock:
                self.progress.append({
                    "run": str(p.runId), "batch": p.batchId,
                    "rows": p.numInputRows, "ms": dict(p.durationMs),
                })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.terminated.add(str(event.runId))

        def wait_run(self, n_started: int, timeout_s: float = 15.0) -> str | None:
            """Run id of the n-th query started, once it has terminated
            (listener events arrive asynchronously)."""
            deadline = time.monotonic() + timeout_s
            while time.monotonic() < deadline:
                with self.lock:
                    if len(self.started) >= n_started:
                        run = self.started[n_started - 1]
                        if run in self.terminated:
                            return run
                time.sleep(0.02)
            return None

        def durations(self, run: str) -> dict[str, float]:
            with self.lock:
                evs = [p for p in self.progress if p["run"] == run]
            out: dict[str, float] = {}
            for p in evs:
                for k, v in p["ms"].items():
                    out[k] = out.get(k, 0.0) + v / 1000
            out["rows"] = sum(p["rows"] for p in evs)
            out["batches"] = len(evs)
            return out

    return ProgressLog()


def _med(xs) -> float:
    xs = list(xs)
    return stats.median(xs) if xs else 0.0


def layer_metrics(workload: str, records, tracer, ev, listener, cores: int, session_s: float, timed_from: int) -> dict:
    stream = workload == "stream_ingest"
    timed = [r for r in records if r["k"] >= timed_from and not r.get("error")]
    traced = [r for r in timed if r["traced"]]
    untraced = [r for r in timed if not r["traced"]]

    def span_s(r, name):
        return sum(tracer.duration(s) for s in tracer.named(name, f"inc{r['k']}"))

    def group(r, layer):
        return {f"inc{r['k']}/{layer}"}

    def run_execs(r, manifest: bool | None = None):
        execs = ev.executions_in({r.get("run_id")})
        if manifest is None:
            return execs
        return [e for e in execs if e.touches(MANIFEST) == manifest]

    def op(r, layer, label, metric):
        if stream:
            return ev.exec_op(run_execs(r, manifest=False), label, metric)
        return ev.op(group(r, layer), label, metric)

    def sink_write_walls(r, manifest: bool) -> float:
        execs = run_execs(r) if stream else ev.executions_in(group(r, "sinks.write"))
        return sum(e.wall_s for e in execs if e.writes and e.touches(MANIFEST) == manifest)

    m: dict[str, float] = {"session.start_s": session_s}
    m["sources.scan_s"] = 0.0 if stream else _med(span_s(r, "sources") for r in traced)
    m["sources.scan_bytes"] = _med(op(r, "sources", "Scan parquet", "size of files read") for r in traced)

    if stream:
        fired = [1.0 if op(r, None, "Exchange(RoundRobin)", "shuffle records written") > 0 else 0.0 for r in traced]
    else:
        fired = [1.0 if s["attrs"].get("fired") else 0.0 for r in traced for s in tracer.named("parallelism", f"inc{r['k']}")]
    # task-seconds spent writing the round-robin shuffle (the exchange's own cost)
    m["parallelism.exchange_s"] = _med(op(r, "parallelism", "Exchange(RoundRobin)", "shuffle write time") for r in traced)
    m["parallelism.fired"] = sum(fired) / len(fired) if fired else 0.0
    m["parallelism.shuffle_bytes"] = _med(op(r, "parallelism", "Exchange(RoundRobin)", "shuffle bytes written") for r in traced)

    m["scoring.self_s"] = 0.0 if stream else _med(span_s(r, "scoring") for r in traced)
    for name, metric in (
        ("scoring.python_init_s", "time to initialize Python workers"),
        ("scoring.python_run_s", "time to run Python workers"),
        ("scoring.rows_to_python", "number of output rows"),
        ("scoring.bytes_to_python", "data sent to Python workers"),
    ):
        m[name] = _med(op(r, "scoring", "ArrowEvalPython", metric) for r in traced)

    m["quality.self_s"] = 0.0 if stream else _med(span_s(r, "quality") for r in traced)
    keep = [
        row["n_keep"] / row["n_rows"]
        for r in traced for row in r["read"]["manifest"] if row["ds"] == r["ds"] and row["n_rows"]
    ]
    m["quality.keep_rate"] = _med(keep)
    m["scrub.self_s"] = 0.0 if stream else _med(span_s(r, "scrub") for r in traced)

    m["sinks.list_partitions_s"] = 0.0 if stream else _med(span_s(r, "sinks.list_partitions") for r in traced)
    m["sinks.write_s"] = _med(sink_write_walls(r, manifest=False) for r in traced)
    m["sinks.manifest_append_s"] = _med(sink_write_walls(r, manifest=True) for r in traced)
    m["sinks.files_per_partition"] = _med(r["part_files"] for r in traced)
    m["sinks.bytes_written"] = _med(r["part_bytes"] for r in traced)
    m["sinks.read_output_s"] = _med(span_s(r, "sinks.read_output") for r in traced)
    m["sinks.read_manifest_s"] = _med(span_s(r, "sinks.read_manifest") for r in traced)
    ratios = []
    for r in traced:
        scanned = ev.op(group(r, "sinks.read_output") | group(r, "sinks.read_manifest"), "Scan parquet", "number of output rows")
        returned = len(r["read"]["manifest"]) + len(r["read"]["groups"])
        if returned:
            ratios.append(scanned / returned)
    m["sinks.rows_scanned_per_row_returned"] = _med(ratios)

    for name, key in STREAM_DURATIONS.items():
        m[name] = _med(listener.durations(r["run_id"]).get(key, 0.0) for r in traced) if stream else 0.0
    if stream:
        # rows through the scoring UDF per landed row (the trigger's
        # metrics pass runs the DAG a second time)
        m["streaming.pipeline_passes_per_batch"] = _med(
            ev.exec_op(run_execs(r), "ArrowEvalPython", "number of output rows") / r["docs"]
            for r in traced
        )
        m["streaming.manifest_rows_read"] = _med(manifest_rows_read(ev, r) for r in traced)
    else:
        m["streaming.pipeline_passes_per_batch"] = 0.0
        m["streaming.manifest_rows_read"] = 0.0

    busy_ms = wall = 0.0
    for r in timed:
        gs = {g for g in ev.groups(f"inc{r['k']}/")} | ({r["run_id"]} if r.get("run_id") else set())
        busy_ms += ev.task(gs, "run_ms")
        wall += r["commit_s"] + r["read_s"]
    m["tasks.busy_share"] = busy_ms / 1000 / (wall * cores) if wall else 0.0
    tc = _med(r["commit_s"] for r in traced)
    uc = _med(r["commit_s"] for r in untraced)
    m["trace_overhead"] = tc / uc if uc else 0.0

    # the heavy families: the warm rotation of a traced daily_commit run
    def warm_s(layer):
        return sum(tracer.duration(s) for s in tracer.named(layer, battery.WARM))

    def warm_group(layer):
        return {f"{battery.WARM}/{layer}"}

    m["dedup.clusters_s"] = warm_s("dedup.clusters")
    m["spandedup.spans_s"] = warm_s("spandedup.spans")
    m["spandedup.broadcast_bytes"] = ev.op(warm_group("spandedup.spans"), "BroadcastExchange", "data size")
    m["curation.report_s"] = warm_s("curation.report")
    m["clftrain.gd_s"] = warm_s("clftrain.gd")
    m["clftrain.jobs"] = ev.jobs(warm_group("clftrain.gd"))
    return m


def manifest_rows_read(ev, r) -> float:
    """Manifest rows a stream trigger scanned (its replay-dedup re-read)."""
    execs = [
        e for e in ev.executions_in({r.get("run_id")})
        if e.touches(MANIFEST) and not e.writes
    ]
    return ev.exec_op(execs, "Scan parquet", "number of output rows")
