"""Benchmark entry point.

    python3 perfbench/run.py --workload tpch_sf01 --seed 1 --seconds 10 --trace 0

Runs from the repository root. Generates the workload's inputs from the
seed (``datagen.prepare``), then starts ``worker.py`` (all Spark work, output to
``.perfbench_work/<workload>.log``) in its own process group, waits for
it and for every process it left behind, then prints the input record
and, as the last line, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` (Spark event log on) the per-layer ones. Metric names,
units and the reason for each workload are in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import datagen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIMIT_S = 170


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _reap(pgid: int) -> None:
    """Stop every process of the worker's group and wait until none is left."""
    deadline = time.time() + 10
    sig = signal.SIGTERM
    while _group_alive(pgid):
        if time.time() > deadline:
            sig = signal.SIGKILL
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        time.sleep(0.2)


def _run_worker(args, work: str, log_path: str) -> dict | None:
    """Generate the inputs under ``work``, run the worker on them, and
    return its result (None if it failed or ran out of time)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    inputs = datagen.prepare(args.workload, args.seed, os.path.join(work, "data"))
    result = os.path.join(work, "result.json")
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        SPARK_LOCAL_DIRS=tmp, TMPDIR=tmp, T0=repr(time.time()),
    )
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), args.workload,
           str(args.seed), str(args.seconds), str(args.trace), work, result]
    with open(log_path, "w", encoding="utf-8") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=ROOT, env=env, start_new_session=True)
        try:
            rc = proc.wait(timeout=LIMIT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _reap(proc.pid)
            proc.wait()
    if rc != 0:
        return None
    with open(result, encoding="utf-8") as fh:
        res = json.load(fh)
    res["inputs"] = {**inputs, **res["inputs"]}
    return res


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"unknown workload {args.workload}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    log_path = os.path.join(base, f"{args.workload}.log")
    try:
        res = _run_worker(args, work, log_path)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res is None:
        print(f"the run failed; see {log_path}", file=sys.stderr)
        return 1

    wanted = bench["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None and not args.trace:
            print(f"worker reported no {m['name']}", file=sys.stderr)
            return 1
        # a layer the workload does not exercise reads 0
        metrics[m["name"]] = {"value": got["value"] if got else 0.0, "unit": m["unit"]}
    print(json.dumps({"inputs": res["inputs"], "mismatches": res["mismatches"]}))
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"],
        "failed": res["failed"], "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
