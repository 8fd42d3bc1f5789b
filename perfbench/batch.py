"""Batch workload ``tpch_sf01``: the TPC-H headliners over generated tables.

One run (the tables are already under ``<work>/data``): start the
session, run a warm pass that collects every query's rows (the rows
checked against the DuckDB oracle), then time passes of build +
``noop`` write, one query at a time, until ``--seconds`` have passed.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

from rstreams_spark.session import gc_hygiene
from stats import PeakRss, median
from worker import Run, start_session

TPCH = [
    "tpch_q1", "tpch_q2", "tpch_q3", "tpch_q4", "tpch_q5", "tpch_q6",
    "tpch_q8", "tpch_q10", "tpch_q12", "tpch_q13", "tpch_q15",
    "tpch_q17", "tpch_q18", "tpch_q19", "tpch_q20", "tpch_q21",
    "tpch_q22",
]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


def _group(spark, name: str) -> None:
    spark.sparkContext.setJobGroup(name, name)


def run(run: Run) -> None:
    from rstreams_spark.queries import REGISTRY

    queries = TPCH
    data = os.path.join(run.work, "data")
    spark = start_session(run)
    t_session = time.time()

    def warm(q):
        _group(spark, f"warm|{q}")
        return REGISTRY[q](spark, data).toPandas()

    # the warm pass runs nproc queries side by side; timed passes run
    # one query at a time
    outputs = {}
    with ThreadPoolExecutor(run.inputs["nproc"]) as pool:
        futures = {q: pool.submit(warm, q) for q in queries}
        for q, fut in futures.items():
            run.attempted += 1
            try:
                outputs[q] = fut.result()
            except Exception as e:  # a failing query is a counted defect
                run.fail(f"{q} (warm): {type(e).__name__}: {str(e)[:300]}")
    t_setup = time.time()

    passes: list[dict[str, tuple[float, float, float]]] = []
    frames = {}
    gc_hygiene(spark)
    with PeakRss() as rss:
        deadline = time.time() + run.seconds
        while not passes or time.time() < deadline:
            spans = {}
            for q in queries:
                run.attempted += 1
                tag = f"p{len(passes)}|{q}"
                try:
                    a = time.time()
                    _group(spark, f"{tag}|build")
                    df = REGISTRY[q](spark, data)
                    b = time.time()
                    _group(spark, f"{tag}|exec")
                    df.write.format("noop").mode("overwrite").save()
                    spans[q] = (a, b, time.time())
                    frames[q] = df
                except Exception as e:
                    run.fail(f"{q} (pass {len(passes)}): {type(e).__name__}: {str(e)[:300]}")
            passes.append(spans)

    lat = [c - a for p in passes for a, _, c in p.values()]
    walls = [max(c for _, _, c in p.values()) - min(a for a, _, _ in p.values()) for p in passes if p]
    run.report(t_session, t_setup, walls, lat, rss.peak_mb)
    if run.trace:
        _plan_layers(run, passes, frames)
    spark.stop()
    if run.trace:
        _event_layers(run, passes)
    _check(run, data, outputs)


def _check(run: Run, data: str, outputs: dict) -> None:
    """Spark rows vs the DuckDB oracle, order-insensitive."""
    import duckdb
    from oracle_check import canon

    from rstreams_spark.queries import ORACLES

    con = duckdb.connect()
    for name in TABLES:
        con.sql(f"create view {name} as select * from '{data}/{name}.parquet'")
    for q, sdf in outputs.items():
        run.attempted += 1
        odf = con.sql(ORACLES[q]).df()
        if sorted(sdf.columns) != sorted(odf.columns):
            run.fail(f"{q}: columns {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        elif len(sdf) != len(odf):
            run.fail(f"{q}: {len(sdf)} rows vs {len(odf)} in the oracle")
        elif not canon(sdf).equals(canon(odf)):
            run.fail(f"{q}: values differ from the oracle")
        elif len(sdf) == 0:
            run.fail(f"{q}: no rows, nothing checked")


def _plan_layers(run: Run, passes, frames) -> None:
    """Plan-shape counts (untimed) and the build time per pass."""
    from rstreams_spark.plans.inspect import plan_report

    reports = [plan_report(df) for df in frames.values()]
    for k in ("shuffles", "broadcast_joins", "sortmerge_joins"):
        run.metric(f"plans.{k}", sum(r[k] for r in reports), "count")
    run.metric("queries.build_s", median([sum(b - a for a, b, _ in p.values()) for p in passes]), "s")


def _event_layers(run: Run, passes) -> None:
    """Per-pass scheduler, executor, shuffle, Python-worker and source
    totals from the event log."""
    import eventlog

    groups = eventlog.job_groups(eventlog.find_log(run.log_dir))
    per_pass = []
    for i, p in enumerate(passes):
        recs, gap, build_jobs = [], 0.0, 0
        for q, (a, _, c) in p.items():
            build, exe = (groups.get(f"p{i}|{q}|{ph}", eventlog.empty()) for ph in ("build", "exec"))
            rec = eventlog.merge([build, exe])
            gap += eventlog.uncovered_s(rec, a, c)
            build_jobs += build["jobs"]
            recs.append(rec)
        per_pass.append({**eventlog.merge(recs), "build_jobs": build_jobs, "driver_gap_s": gap})
    run.report_layers(per_pass)
