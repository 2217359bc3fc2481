"""Per-layer attribution of a traced run, read from Spark's own event log
and the streaming progress the benchmark's listener collected.

The benchmark records one span per query phase: ``build`` is the call to
``spec.fn`` and ``action`` is the noop write that computes every column.
Spark jobs are attributed to a span by their job group, which the
benchmark sets to :func:`job_group`; jobs whose group
Spark replaced (streaming micro-batches run under the stream's run id)
and SQL executions are attributed by start time. Layers:

- queries: ``build_s`` (span), ``build_jobs`` and ``build_job_s`` (jobs in
  the build span, wall time of their union), ``plan_s`` = build − jobs.
- Spark execution, action span only: ``exec_s`` (union of job intervals),
  job/stage/task counts, task run/CPU/GC time, scan, shuffle and spill
  bytes, and ``stage_skew`` (largest max/median task run time of a stage).
- operators, every span: the Python nodes' SQL metrics, summed over
  nodes; each node reports its own workers' time, so chained Python nodes
  that run side by side can sum to more than the tasks' run time.
- plan fingerprint, every span: node counts of each SQL execution's final
  (adaptive) plan.
- streaming, every span: micro-batch phases and state operators.
"""

from __future__ import annotations

import bisect
import datetime as dt
import glob
import json
import os
import re
import statistics
from dataclasses import dataclass

MB = 1e6

# SQL metric display name on a Python node -> layer metric
PY_METRICS = {
    "time to start Python workers": "py_boot_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "py_sent_mb",
    "data returned from Python workers": "py_returned_mb",
    "number of output rows": "py_rows_returned",
}
_PY_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1 / MB, "sum": 1.0}
_PY_NODE = re.compile(r"Pandas|Python|InArrow")

STREAM_PHASES = {
    "triggerExecution": "trigger_s",
    "addBatch": "addbatch_s",
    "walCommit": "walcommit_s",
    "commitOffsets": "commitoffsets_s",
    "queryPlanning": "queryplanning_s",
    "latestOffset": "latestoffset_s",
    "getBatch": "getbatch_s",
}

QUERY_METRICS = ("build_s", "build_jobs", "build_job_s", "plan_s")
EXEC_METRICS = (
    "exec_s", "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "scan_mb", "shuffle_write_mb", "shuffle_read_mb", "shuffle_wait_s",
    "spill_mb", "stage_skew",
)  # fmt: skip
PY_LAYER = tuple(PY_METRICS.values())
STREAM_METRICS = (
    "micro_batches", "empty_batches", "empty_batch_frac", *STREAM_PHASES.values(),
    "state_rows", "state_mem_mb", "state_commit_s", "stream_input_rows",
)  # fmt: skip
PLAN_METRICS = ("plan_exchanges", "plan_generates", "plan_python_nodes", "plan_broadcasts")
PER_QUERY = QUERY_METRICS + EXEC_METRICS + PY_LAYER + STREAM_METRICS + PLAN_METRICS


def job_group(pass_no: int, query: str, phase: str) -> str:
    return f"perfbench|{pass_no}|{query}|{phase}"


@dataclass(frozen=True)
class Span:
    pass_no: int
    query: str
    phase: str  # "build" or "action"
    t0_ms: float
    t1_ms: float


class _SpanIndex:
    def __init__(self, spans: list[Span]):
        self.spans = sorted(spans, key=lambda s: s.t0_ms)
        self._starts = [s.t0_ms for s in self.spans]
        self.by_group = {job_group(s.pass_no, s.query, s.phase): s for s in spans}

    def at(self, t_ms: float) -> Span | None:
        i = bisect.bisect_right(self._starts, t_ms) - 1
        if i >= 0 and t_ms <= self.spans[i].t1_ms:
            return self.spans[i]
        return None


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the one application logged under ``log_dir``, in
    order. Spark 4 writes rolling logs (``eventlog_v2_<app>/events_<n>_<app>``);
    they must be uncompressed."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total / 1e3


def _walk(node: dict):
    yield node
    for child in node.get("children", ()):
        yield from _walk(child)


def _iso_ms(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1e3


def attribute(events: list[dict], spans: list[Span], progress: list[dict]) -> dict[tuple[int, str], dict]:
    """Per ``(pass, query)`` layer metrics (see the module docstring)."""
    index = _SpanIndex(spans)
    rows = {(s.pass_no, s.query): dict.fromkeys(PER_QUERY, 0.0) for s in spans}
    for s in spans:
        if s.phase == "build":
            rows[(s.pass_no, s.query)]["build_s"] = (s.t1_ms - s.t0_ms) / 1e3

    job_span: dict[int, Span] = {}
    job_iv: dict[int, list[float]] = {}
    stage_span: dict[int, Span] = {}
    py_acc: dict[int, tuple[str, float]] = {}
    plans: dict[int, dict] = {}
    exec_span: dict[int, Span] = {}
    task_runs: dict[int, list[float]] = {}

    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            span = index.by_group.get(group) or index.at(ev["Submission Time"])
            if span is not None:
                job_span[ev["Job ID"]] = span
                job_iv[ev["Job ID"]] = [ev["Submission Time"], ev["Submission Time"]]
                for sid in ev["Stage IDs"]:
                    stage_span.setdefault(sid, span)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_iv:
                job_iv[ev["Job ID"]][1] = ev["Completion Time"]
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            eid = ev["executionId"]
            if kind.endswith("SQLExecutionStart"):
                span = index.at(ev["time"])
                if span is not None:
                    exec_span[eid] = span
            plans[eid] = ev["sparkPlanInfo"]
            for node in _walk(ev["sparkPlanInfo"]):
                if _PY_NODE.search(node["nodeName"]):
                    for m in node.get("metrics", ()):
                        if m["name"] in PY_METRICS:
                            py_acc[m["accumulatorId"]] = (
                                PY_METRICS[m["name"]],
                                _PY_SCALE.get(m["metricType"], 1.0),
                            )
        elif kind == "SparkListenerStageCompleted":
            span = stage_span.get(ev["Stage Info"]["Stage ID"])
            if span is not None and span.phase == "action":
                rows[(span.pass_no, span.query)]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            span = stage_span.get(ev["Stage ID"])
            if span is None:
                continue
            row = rows[(span.pass_no, span.query)]
            for acc in ev["Task Info"].get("Accumulables", ()):
                hit = py_acc.get(acc["ID"])
                if hit is not None:  # SQL metric updates are logged as strings
                    row[hit[0]] += float(acc["Update"]) * hit[1]
            tm = ev.get("Task Metrics")
            if span.phase != "action" or not tm:
                continue
            row["tasks"] += 1
            row["task_run_s"] += tm["Executor Run Time"] / 1e3
            row["task_cpu_s"] += tm["Executor CPU Time"] / 1e9
            row["gc_s"] += tm["JVM GC Time"] / 1e3
            row["scan_mb"] += tm["Input Metrics"]["Bytes Read"] / MB
            sr = tm["Shuffle Read Metrics"]
            row["shuffle_read_mb"] += (sr["Remote Bytes Read"] + sr["Local Bytes Read"]) / MB
            row["shuffle_wait_s"] += sr["Fetch Wait Time"] / 1e3
            row["shuffle_write_mb"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB
            row["spill_mb"] += tm["Disk Bytes Spilled"] / MB
            task_runs.setdefault(ev["Stage ID"], []).append(tm["Executor Run Time"])

    for span in job_span.values():
        rows[(span.pass_no, span.query)]["build_jobs" if span.phase == "build" else "jobs"] += 1
    for key, row in rows.items():
        for phase, out in (("build", "build_job_s"), ("action", "exec_s")):
            row[out] = _union_s(
                [tuple(job_iv[j]) for j, s in job_span.items() if (s.pass_no, s.query) == key and s.phase == phase]
            )
        row["plan_s"] = row["build_s"] - row["build_job_s"]
    for sid, runs in task_runs.items():
        med = statistics.median(runs)
        if len(runs) > 1 and med > 0:
            row = rows[(stage_span[sid].pass_no, stage_span[sid].query)]
            row["stage_skew"] = max(row["stage_skew"], max(runs) / med)

    for eid, span in exec_span.items():
        row = rows[(span.pass_no, span.query)]
        for node in _walk(plans[eid]):
            name = node["nodeName"]
            row["plan_exchanges"] += name == "Exchange"
            row["plan_broadcasts"] += name == "BroadcastExchange"
            row["plan_generates"] += name == "Generate"
            row["plan_python_nodes"] += bool(_PY_NODE.search(name))

    state_peak: dict[tuple, list[float]] = {}
    for p in progress:
        span = index.at(_iso_ms(p["timestamp"]))
        if span is None:
            continue
        key = (span.pass_no, span.query)
        row = rows[key]
        row["micro_batches"] += 1
        row["empty_batches"] += p["numInputRows"] == 0
        row["stream_input_rows"] += p["numInputRows"]
        for phase, name in STREAM_PHASES.items():
            row[name] += p["durationMs"].get(phase, 0) / 1e3
        ops = p.get("stateOperators", ())
        row["state_commit_s"] += sum(op["commitTimeMs"] for op in ops) / 1e3
        peak = state_peak.setdefault((key, p["runId"]), [0, 0])
        peak[0] = max(peak[0], sum(op["numRowsTotal"] for op in ops))
        peak[1] = max(peak[1], sum(op["memoryUsedBytes"] for op in ops))
    for (key, _), (n_rows, n_bytes) in state_peak.items():
        rows[key]["state_rows"] += n_rows
        rows[key]["state_mem_mb"] += n_bytes / MB
    for row in rows.values():
        if row["micro_batches"]:
            row["empty_batch_frac"] = row["empty_batches"] / row["micro_batches"]
    return rows


def per_query(rows: dict[tuple[int, str], dict], queries: tuple[str, ...]) -> dict[str, dict]:
    """Median over passes of each query's metrics."""
    out = {}
    for q in queries:
        runs = [row for (_, name), row in rows.items() if name == q]
        out[q] = {m: statistics.median(r[m] for r in runs) for m in PER_QUERY} if runs else {}
    return out


def workload_totals(by_query: dict[str, dict]) -> dict[str, float]:
    """Sum over queries; ``stage_skew`` is the maximum, and
    ``empty_batch_frac`` is recomputed from the summed batch counts."""
    rows = [r for r in by_query.values() if r]
    tot = {m: sum(r[m] for r in rows) for m in PER_QUERY}
    tot["stage_skew"] = max((r["stage_skew"] for r in rows), default=0.0)
    tot["empty_batch_frac"] = tot["empty_batches"] / tot["micro_batches"] if tot["micro_batches"] else 0.0
    return tot
