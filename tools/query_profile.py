"""Where a catalog query's seconds go, from Spark's own event log.

Starts one session with the event log on (uncompressed, in a temporary
directory removed on exit), runs an untimed warm pass of the named
queries through the ``noop`` sink, then times one pass: each query's
build (Python/py4j construction, eager jobs included) and its ``noop``
write run under their own job group. After the session stops, the log
is folded by ``perfbench/eventlog.py`` and one JSON line per query is
printed: ``build_s``, ``exec_s``, ``build_jobs``, ``driver_gap_s``
(seconds of the query's span no job covers) and every counter in
``eventlog.COUNTERS``.

An A/B is this command run on two commits.

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


def main(sf_dir: str, names: list[str]) -> None:
    from rstreams_spark.queries import REGISTRY
    from rstreams_spark.session import gc_hygiene, get_spark

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
        spans = {}
        try:
            for q in names:  # untimed: codegen, JIT and table handles
                REGISTRY[q](spark, sf_dir).write.format("noop").mode("overwrite").save()
            gc_hygiene(spark)
            for q in names:
                a = time.time()
                sc.setJobGroup(f"{q}|build", q)
                df = REGISTRY[q](spark, sf_dir)
                b = time.time()
                sc.setJobGroup(f"{q}|exec", q)
                df.write.format("noop").mode("overwrite").save()
                spans[q] = (a, b, time.time())
        finally:
            spark.stop()  # closes the log before its directory goes
        groups = eventlog.job_groups(eventlog.find_log(log_dir))

    for q, (a, b, c) in spans.items():
        build, exe = (groups.get(f"{q}|{ph}", eventlog.empty()) for ph in ("build", "exec"))
        rec = eventlog.merge([build, exe])
        row = {
            "query": q, "build_s": b - a, "exec_s": c - b,
            "build_jobs": build["jobs"], "driver_gap_s": eventlog.uncovered_s(rec, a, c),
            **{k: rec[k] for k in eventlog.COUNTERS},
        }
        print(json.dumps({k: round(v, 3) if isinstance(v, float) else v for k, v in row.items()}))


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2:])
