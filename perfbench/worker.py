"""The Spark side of one benchmark run; ``run.py`` starts it.

Usage (normally through ``run.py``)::

    python3 perfbench/worker.py WORKLOAD SEED SECONDS TRACE WORK_DIR RESULT_JSON

``T0`` in the environment is the wall time at which ``run.py`` started
this process; set-up time is counted from it.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]

from stats import median, tail  # noqa: E402

# one executor thread per core; a 4 GB heap leaves room for the
# Python workers on small hosts (override with SPARK_GRAFT_DRIVER_MEM)
DRIVER_MEM = "4g"

# per-layer metric <- key of a per-pass event-log total
LAYERS = (
    ("queries.build_jobs", "build_jobs", "count"),
    ("sched.jobs", "jobs", "count"), ("sched.stages", "stages", "count"),
    ("sched.tasks", "tasks", "count"),
    ("sched.driver_gap_s", "driver_gap_s", "s"),
    ("sched.task_overhead_s", "task_overhead_s", "s"),
    ("exec.run_s", "run_s", "s"), ("exec.cpu_s", "cpu_s", "s"),
    ("exec.gc_s", "gc_s", "s"), ("exec.failed_tasks", "failed_tasks", "count"),
    ("shuffle.write_bytes", "shuffle_write_bytes", "bytes"),
    ("shuffle.read_bytes", "shuffle_read_bytes", "bytes"),
    ("shuffle.spill_bytes", "spill_bytes", "bytes"),
    ("shuffle.fetch_wait_s", "fetch_wait_s", "s"),
    ("functions.py_sent_bytes", "py_sent_bytes", "bytes"),
    ("functions.py_recv_bytes", "py_recv_bytes", "bytes"),
    ("functions.py_boot_s", "py_boot_s", "s"),
    ("functions.py_init_s", "py_init_s", "s"),
    ("functions.py_run_s", "py_run_s", "s"),
    ("sources.input_rows", "input_rows", "count"),
    ("sources.input_bytes", "input_bytes", "bytes"),
)


class Run:
    """Counts, metrics and the input record of one run."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.work = trace, work
        self.t0 = float(os.environ.get("T0", time.time()))
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.metrics: dict[str, dict] = {}
        self.inputs: dict = {"seed": seed}
        self.log_dir = os.path.join(work, "eventlog")

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = {"value": float(value), "unit": unit}

    def fail(self, what: str) -> None:
        self.failed += 1
        self.mismatches.append(what)
        print(f"FAILED {what}", flush=True)

    def report(self, t_session: float, t_setup: float, walls: list[float],
               lat: list[float], peak_mb: float) -> None:
        """End-to-end metrics, or in a traced run the session split and
        the traced pass time (minus the untraced ``pass_s``: the tracing
        overhead)."""
        tail_v, tail_pct = tail(lat)
        self.inputs.update(passes=len(walls), latency_samples=len(lat), tail_pct=tail_pct)
        if self.trace:
            self.metric("session.start_s", t_session - self.t0, "s")
            self.metric("session.warm_s", t_setup - t_session, "s")
            self.metric("trace.pass_s", median(walls), "s")
        else:
            self.metric("setup_s", t_setup - self.t0, "s")
            self.metric("pass_s", median(walls), "s")
            self.metric("latency_p50_s", median(lat), "s")
            self.metric("latency_tail_s", tail_v, "s")
            self.metric("peak_rss_mb", peak_mb, "MB")

    def report_layers(self, per_pass: list[dict]) -> None:
        """Event-log layers: medians over passes of per-pass totals."""
        def m(key):
            return median([t[key] for t in per_pass])

        for name, key, unit in LAYERS:
            self.metric(name, m(key), unit)
        self.metric("exec.wait_s", median([t["run_s"] - t["cpu_s"] for t in per_pass]), "s")

    def result(self) -> dict:
        return {
            "correct": not self.mismatches,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": self.metrics,
            "inputs": self.inputs,
            "mismatches": self.mismatches,
        }


def start_session(run: Run):
    """``get_spark`` on ``local[nproc]``; traced runs also write
    Spark's event log (uncompressed: this Python has no zstd)."""
    from rstreams_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    tmp = os.path.join(run.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
        # keep the JVM's temp files, hsperfdata included, in the run's directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem",
        "spark.ui.showConsoleProgress": "false",
    }
    if run.trace:
        os.makedirs(run.log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": run.log_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(f"perfbench-{run.workload}", extra_conf=conf)
    par = spark.sparkContext.defaultParallelism
    run.inputs.update(
        nproc=nproc, default_parallelism=par,
        driver_mem=os.environ["SPARK_GRAFT_DRIVER_MEM"],
    )
    if par != nproc:
        raise SystemExit(f"defaultParallelism {par} != nproc {nproc}")
    return spark


def main(argv: list[str]) -> int:
    workload, seed, seconds, trace, work, out = argv
    run = Run(workload, int(seed), float(seconds), trace == "1", work)
    import batch
    import stream

    {"tpch_sf01": batch.run, "stream_ticks": stream.run}[workload](run)
    with open(out, "w", encoding="utf-8") as fh:
        json.dump(run.result(), fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
