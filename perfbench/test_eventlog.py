"""Tests for the event-log and progress readers.

The fixture is a trimmed recording of two jobs from a local Spark 4.1
run: ``q1:build`` (one stage, one task) and ``qr:exec`` (a skipped
stage and a four-task stage running an Arrow UDF), with a stray
"non-existent accumulator" log stack spliced into the middle.

Run: ``python3 perfbench/test_eventlog.py`` (or under pytest).
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "two_jobs.eventlog")


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def test_two_job_groups():
    groups = eventlog.job_groups(FIXTURE)
    assert set(groups) == {"q1:build", "qr:exec"}
    build, exe = groups["q1:build"], groups["qr:exec"]

    assert (build["jobs"], build["stages"], build["tasks"]) == (1, 1, 1)
    assert build["job_spans_ms"] == [[1792238357361, 1792238358127]]
    assert _close(build["run_s"], 0.362)
    assert _close(build["cpu_s"], 0.039412782)
    assert _close(build["gc_s"], 0.011)
    assert _close(build["task_overhead_s"], 0.185)
    assert build["py_sent_bytes"] == 0

    # stage 6 was skipped (never submitted): only stage 7 counts
    assert (exe["jobs"], exe["stages"], exe["tasks"], exe["failed_tasks"]) == (1, 1, 4, 0)
    assert exe["job_spans_ms"] == [[1792238367355, 1792238370257]]
    assert _close(exe["run_s"], 11.194)
    assert _close(exe["cpu_s"], 1.07592913)
    assert _close(exe["task_overhead_s"], 0.117)
    assert exe["shuffle_read_bytes"] == 87696
    assert exe["py_sent_bytes"] == 252680
    assert exe["py_recv_bytes"] == 25664
    assert _close(exe["py_boot_s"], 4.6)
    assert _close(exe["py_run_s"], 9.118)


def test_merge_and_coverage():
    groups = eventlog.job_groups(FIXTURE)
    both = eventlog.merge(groups.values())
    assert (both["jobs"], both["tasks"]) == (2, 5)
    # a window spanning both jobs: covered = the two job spans
    lo, hi = 1792238357000, 1792238371000
    assert eventlog.covered_ms(both["job_spans_ms"], lo, hi) == 766 + 2902
    # overlapping spans are counted once, and clipped to the window
    assert eventlog.covered_ms([[0, 10], [5, 20], [30, 40]], 2, 35) == 18 + 5


def test_stream_batch_key():
    props = {"spark.jobGroup.id": "5f0c-run",
             "spark.job.description": "candles\nid = 1a2b\nrunId = 5f0c-run\nbatch = 3"}
    assert eventlog.stream_batch_key(props) == "5f0c-run#3"
    assert eventlog.stream_batch_key({"spark.jobGroup.id": "p0|q|exec"}) == "p0|q|exec"


def test_progress_totals():
    progress = [
        {"numInputRows": 0, "durationMs": {"triggerExecution": 5, "latestOffset": 5}},  # idle
        {"numInputRows": 100,
         "durationMs": {"triggerExecution": 900, "addBatch": 700, "getBatch": 10,
                        "queryPlanning": 50, "walCommit": 20, "commitOffsets": 30},
         "stateOperators": [{"numRowsTotal": 40, "memoryUsedBytes": 4000,
                             "commitTimeMs": 60, "numRowsUpdated": 40}]},
        {"numInputRows": 50,
         "durationMs": {"triggerExecution": 600, "addBatch": 500, "getBatch": 5,
                        "queryPlanning": 40, "walCommit": 10, "commitOffsets": 10},
         "stateOperators": [{"numRowsTotal": 55, "memoryUsedBytes": 5000,
                             "commitTimeMs": 70, "numRowsUpdated": 15}]},
    ]
    t = eventlog.progress_totals(progress)
    assert t["input_rows"] == 150
    assert _close(t["trigger_s"], 1.5)
    assert _close(t["add_batch_s"], 1.2)
    assert _close(t["commit_s"], 0.07)
    assert (t["state_rows"], t["state_bytes"], t["state_rows_updated"]) == (55, 5000, 55)
    assert _close(t["state_commit_s"], 0.13)


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print(f"ok {name}")
