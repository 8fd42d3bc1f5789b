"""Where a catalog query's seconds go, from Spark's own event log.

``profile(sf_dirs, names, rounds)`` starts one session with the event
log on (uncompressed, in a temporary directory removed on exit). At
each SF directory it runs an untimed warm pass of the named queries
through the ``noop`` sink, then times ``rounds`` passes: each query's
build (Python/py4j construction, eager jobs included) and its
``noop`` write run under their own job group, after ``gc_hygiene``.
After the session stops, the log is folded by ``perfbench/eventlog.py``
into one row per query, SF and round: ``build_s``, ``exec_s``,
``build_jobs``, ``driver_gap_s`` (seconds of the query's span no job
covers), ``cpus`` (the session's ``defaultParallelism``) and every
counter in ``eventlog.COUNTERS``. A query that
raises at an SF gets one ``{"query", "sf", "error"}`` row there and
the others go on.

The command line profiles one pass at one SF and prints one JSON line
per query; it exits 1 if any query raised. An A/B is this command
run on two commits.

Usage: python tools/query_profile.py <sf_dir> <query> [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.append(os.path.join(ROOT, "perfbench"))

import eventlog  # noqa: E402


def _error(ex: Exception) -> str:
    first = str(ex).strip().splitlines()[:1]
    return f"{type(ex).__name__}: {''.join(first)}"[:300]


def profile(sf_dirs: list[str], names: list[str], rounds: int) -> list[dict]:
    from rstreams_spark.queries import REGISTRY
    from rstreams_spark.session import gc_hygiene, get_spark

    rows: list[dict] = []
    spans = []  # (row, group, start, built, end) per timed run
    with tempfile.TemporaryDirectory(prefix="profile-eventlog-") as log_dir:
        spark = get_spark("profile", extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            # the stdlib parser cannot read the default zstd codec
            "spark.eventLog.compress": "false",
            "spark.ui.showConsoleProgress": "false",
        })
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        cpus = sc.defaultParallelism
        try:
            for sf in sf_dirs:
                live = []
                sc.setJobGroup("warm", "warm")
                for q in names:  # untimed: codegen, JIT, table handles, page cache
                    try:
                        REGISTRY[q](spark, sf).write.format("noop").mode("overwrite").save()
                        live.append(q)
                    except Exception as ex:
                        rows.append({"query": q, "sf": sf, "error": _error(ex)})
                for _ in range(rounds):
                    for q in live:
                        row = {"query": q, "sf": sf}
                        group = f"{q}|{len(rows)}"
                        rows.append(row)
                        gc_hygiene(spark)
                        a = time.time()
                        try:
                            sc.setJobGroup(f"{group}|build", q)
                            df = REGISTRY[q](spark, sf)
                            b = time.time()
                            sc.setJobGroup(f"{group}|exec", q)
                            df.write.format("noop").mode("overwrite").save()
                        except Exception as ex:
                            row["error"] = _error(ex)
                            continue
                        spans.append((row, group, a, b, time.time()))
        finally:
            spark.stop()  # closes the log before its directory goes
        groups = eventlog.job_groups(eventlog.find_log(log_dir))

    for row, group, a, b, c in spans:
        build, exe = (groups.get(f"{group}|{ph}", eventlog.empty()) for ph in ("build", "exec"))
        rec = eventlog.merge([build, exe])
        row.update({
            "build_s": b - a, "exec_s": c - b, "build_jobs": build["jobs"],
            "driver_gap_s": eventlog.uncovered_s(rec, a, c), "cpus": cpus,
            **{k: rec[k] for k in eventlog.COUNTERS},
        })
    return rows


def main(sf_dir: str, names: list[str]) -> int:
    rows = profile([sf_dir], names, 1)
    for row in rows:
        row.pop("sf")
        print(json.dumps({k: round(v, 3) if isinstance(v, float) else v for k, v in row.items()}))
    return 1 if any("error" in row for row in rows) else 0


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2:]))
