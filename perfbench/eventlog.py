"""Stdlib-only readers for Spark's event log and streaming progress.

``job_groups(path)`` folds an uncompressed event log (one file, or the
rolling ``eventlog_v2_*`` directory Spark 4 writes) into one record per
job group: the benchmark tags every build and execution with
``SparkContext.setJobGroup`` and streaming queries tag their own jobs
with the query's run id (``stream_batch_key`` adds the batch id), so a
group is one timed operation.

``progress_totals(progresses)`` folds ``StreamingQueryProgress`` JSON
dicts into the streaming layer counters.

Lines that are not JSON objects are skipped: a log interleaved with
stray output (for example the "attempted to access non-existent
accumulator" stacks Spark prints after a GC) still parses.

Run the parser's test: ``python3 perfbench/test_eventlog.py``.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable, Iterable, Iterator

# SQL metrics Spark 4.1 attaches to tasks that run Arrow/pandas UDFs;
# sizes are bytes, times milliseconds
PY_METRICS = {
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_recv_bytes",
    "time to start Python workers": "py_boot_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
}

COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "run_s", "cpu_s", "gc_s",
    "task_overhead_s", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "fetch_wait_s", "input_rows", "input_bytes",
    *PY_METRICS.values(),
)


def read_events(path: str) -> Iterator[dict]:
    if os.path.isdir(path):
        files = sorted(
            (f for f in os.listdir(path) if f.startswith("events_")),
            key=lambda f: int(f.split("_")[1]),
        )
        paths = [os.path.join(path, f) for f in files]
    else:
        paths = [path]
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            for line in fh:
                if not line.startswith("{"):
                    continue
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if isinstance(ev, dict) and "Event" in ev:
                    yield ev


def find_log(log_dir: str) -> str:
    """The single application log Spark wrote under ``log_dir``."""
    (entry,) = os.listdir(log_dir)
    return os.path.join(log_dir, entry)


def empty() -> dict:
    g = dict.fromkeys(COUNTERS, 0)
    g["job_spans_ms"] = []
    return g


def group_key(props: dict) -> str:
    return props.get("spark.jobGroup.id") or ""


def stream_batch_key(props: dict) -> str:
    """``<run id>#<batch id>`` for a streaming query's jobs: the stream
    thread sets the run id as job group and names the batch in the
    job description."""
    m = re.search(r"batch = (\d+)", props.get("spark.job.description") or "")
    return f"{group_key(props)}#{m.group(1)}" if m else group_key(props)


def job_groups(path: str, key: Callable[[dict], str] = group_key) -> dict[str, dict]:
    """Per job group (or per ``key(job properties)``): counts,
    executor/shuffle/Python totals (seconds and bytes), and the
    ``[start_ms, end_ms]`` span of every job."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    job_start: dict[int, tuple[str, int]] = {}
    seen_stages: set[int] = set()
    for ev in read_events(path):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            name = key(ev.get("Properties") or {})
            g = groups.setdefault(name, empty())
            g["jobs"] += 1
            job_start[ev["Job ID"]] = (name, ev["Submission Time"])
            for st in ev.get("Stage Infos", []):
                stage_group[st["Stage ID"]] = name
        elif kind == "SparkListenerJobEnd":
            name, t0 = job_start.pop(ev["Job ID"], (None, 0))
            if name is not None:
                groups[name]["job_spans_ms"].append([t0, ev["Completion Time"]])
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_group and sid not in seen_stages:
                seen_stages.add(sid)
                groups[stage_group[sid]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            name = stage_group.get(ev["Stage ID"])
            if name is not None:
                _add_task(groups[name], ev)
    return groups


def _add_task(g: dict, ev: dict) -> None:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    g["tasks"] += 1
    if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
        g["failed_tasks"] += 1
    run_ms = m.get("Executor Run Time", 0)
    g["run_s"] += run_ms / 1e3
    g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    dur_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    g["task_overhead_s"] += max(dur_ms - run_ms, 0) / 1e3
    sr = m.get("Shuffle Read Metrics") or {}
    g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    g["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    im = m.get("Input Metrics") or {}
    g["input_rows"] += im.get("Records Read", 0)
    g["input_bytes"] += im.get("Bytes Read", 0)
    for acc in info.get("Accumulables", []):
        key = PY_METRICS.get(acc.get("Name"))
        if key is not None:
            v = float(acc.get("Update") or 0)
            g[key] += v / 1e3 if key.endswith("_s") else v


def covered_ms(spans: Iterable[list[int]], lo: float, hi: float) -> float:
    """Milliseconds of ``[lo, hi]`` covered by the union of ``spans``."""
    total, cur = 0.0, lo
    for a, b in sorted(spans):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def uncovered_s(rec: dict, lo: float, hi: float) -> float:
    """Seconds of ``[lo, hi]`` (epoch seconds) that none of ``rec``'s
    jobs covers: driver-side time of one operation."""
    return (hi - lo) - covered_ms(rec["job_spans_ms"], lo * 1e3, hi * 1e3) / 1e3


def merge(records: Iterable[dict]) -> dict:
    """Sum the counters of several job-group records."""
    out = empty()
    for r in records:
        for k in COUNTERS:
            out[k] += r[k]
        out["job_spans_ms"] += r["job_spans_ms"]
    return out


PROGRESS_KEYS = (
    "add_batch_s", "get_batch_s", "planning_s", "commit_s",
    "state_rows", "state_bytes", "state_commit_s", "state_rows_updated",
    "input_rows", "trigger_s",
)


def progress_totals(progresses: Iterable[dict]) -> dict:
    """Sum trigger phases and state-store counters over the batches
    that ran, data or not (an idle query's reports time no
    ``addBatch``); ``state_rows``/``state_bytes`` are the last batch's
    totals."""
    out = dict.fromkeys(PROGRESS_KEYS, 0.0)
    for p in progresses:
        d = p.get("durationMs", {})
        if "addBatch" not in d:
            continue
        out["input_rows"] += p["numInputRows"]
        out["trigger_s"] += d.get("triggerExecution", 0) / 1e3
        out["add_batch_s"] += d.get("addBatch", 0) / 1e3
        out["get_batch_s"] += d.get("getBatch", 0) / 1e3
        out["planning_s"] += d.get("queryPlanning", 0) / 1e3
        out["commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
        ops = p.get("stateOperators", [])
        out["state_rows"] = sum(o.get("numRowsTotal", 0) for o in ops)
        out["state_bytes"] = sum(o.get("memoryUsedBytes", 0) for o in ops)
        out["state_commit_s"] += sum(o.get("commitTimeMs", 0) for o in ops) / 1e3
        out["state_rows_updated"] += sum(o.get("numRowsUpdated", 0) for o in ops)
    return out
