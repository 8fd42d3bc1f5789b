"""Streaming workload ``stream_ticks``: the reference stocks pipeline live.

Tick files (``datagen.write_ticks``) go through
``sources.files.stream_files(..., max_files_per_trigger=1)`` under the
default trigger, so the loop is closed: each micro-batch starts when
the previous one ends and reads the next file. Three pipelines, each
with its own source directory, into ``sinks.writers.stream_to_parquet``:

- ``candles``: ``streaming.windows.stream_hopping_window`` OHLCV candles
  (10 s windows every 5 s, 5 s watermark; keyed state, append mode)
- ``lag2``: ``streaming.stateful.stream_lag_window(lag=2)`` (Arrow state
  in Python workers)
- ``enrich``: ``streaming.joins.stream_table_join`` against the symbol
  dimension (lookups, no keyed state)

File 0 warms the three pipelines up side by side. Their queries stay
up: a timed pass then hands the next file to one pipeline at a time,
so timed batches read and write the state earlier batches left. Each
pipeline's committed output is checked against DuckDB SQL over the
files it was fed.
"""

from __future__ import annotations

import json
import os
import time

from rstreams_spark.session import gc_hygiene
from stats import PeakRss, median
from worker import Run, start_session

SCHEMA = "tick_id bigint, sym string, ts timestamp, price double, qty bigint"
WINDOW_S, HOP_S, WATERMARK = 10, 5, "5 seconds"
# a trigger slower than this counts as failed
TRIGGER_LIMIT_S = 30.0
EPOCH = "1970-01-01T00:00:00.000Z"


def _candles(spark, ticks, data):
    from pyspark.sql import functions as F

    from rstreams_spark.streaming.windows import stream_hopping_window

    return stream_hopping_window(
        ticks, "sym", "ts", f"{WINDOW_S} seconds", f"{HOP_S} seconds",
        F.min_by("price", "ts").alias("open"),
        F.max("price").alias("high"),
        F.min("price").alias("low"),
        F.max_by("price", "ts").alias("close"),
        F.sum("qty").alias("volume"),
        F.count("*").alias("n"),
        watermark=WATERMARK,
    )


def _lag2(spark, ticks, data):
    from rstreams_spark.streaming.stateful import stream_lag_window

    return stream_lag_window(ticks, "sym", "ts", 2, "price")


def _enrich(spark, ticks, data):
    from rstreams_spark.streaming.joins import stream_table_join

    dim = spark.read.parquet(os.path.join(data, "symbols.parquet"))
    return stream_table_join(ticks, "sym", dim, "sym")


PIPELINES = {"candles": _candles, "lag2": _lag2, "enrich": _enrich}


def _start(spark, run: Run, name: str):
    """Build pipeline ``name`` over its own source directory and start
    it; returns the query and the build time."""
    from rstreams_spark.sinks.writers import stream_to_parquet
    from rstreams_spark.sources.files import stream_files

    spark.sparkContext.setJobGroup(f"warm|{name}|build", name)
    a = time.time()
    ticks = stream_files(spark, _src(run, name), "parquet", SCHEMA, max_files_per_trigger=1)
    df = PIPELINES[name](spark, ticks, os.path.join(run.work, "data"))
    build_s = time.time() - a
    out = os.path.join(run.work, "out", name)
    return stream_to_parquet(df, out, out + "_ckpt"), build_s


def _src(run: Run, name: str) -> str:
    return os.path.join(run.work, "src", name)


def _feed(run: Run, name: str, index: int) -> int:
    """Hard-link tick file ``index`` into pipeline ``name``'s source
    directory; returns its row count."""
    import pyarrow.parquet as pq

    f = f"part-{index:04d}.parquet"
    path = os.path.join(run.work, "data", "ticks", f)
    os.link(path, os.path.join(_src(run, name), f))
    return pq.read_metadata(path).num_rows


def _drain(q, rows: int, after: int) -> list[dict]:
    """Wait until ``q`` has read ``rows`` more rows than it had by batch
    ``after``; returns the progress reports of the new batches. An idle
    query also reports progress now and then, under the id of the batch
    it has not run yet; only reports of batches that ran (they time
    ``addBatch``) count."""
    deadline = time.time() + TRIGGER_LIMIT_S * 2
    while True:
        q.processAllAvailable()
        new = [p for p in map(json.loads, (x.json for x in q.recentProgress))
               if p["batchId"] > after and "addBatch" in p["durationMs"]]
        if sum(p["numInputRows"] for p in new) >= rows or time.time() > deadline:
            return new


def _trigger_s(progress: list[dict]) -> list[float]:
    return [p["durationMs"]["triggerExecution"] / 1e3 for p in progress if p.get("numInputRows")]


def run(run: Run) -> None:
    n_files = len(os.listdir(os.path.join(run.work, "data", "ticks")))
    spark = start_session(run)
    t_session = time.time()

    # warm: the three pipelines side by side on file 0; their queries
    # stay up, so timed batches carry the warm batch's state
    queries, rows, build = {}, {}, {}
    for name in PIPELINES:
        os.makedirs(_src(run, name))
        rows[name] = _feed(run, name, 0)
        queries[name], build[name] = _start(spark, run, name)
    last = {name: _drain(q, rows[name], -1)[-1]["batchId"] for name, q in queries.items()}
    t_setup = time.time()

    # a timed pass feeds the next file to each pipeline in turn
    passes: list[dict] = []
    gc_hygiene(spark)
    with PeakRss() as rss:
        deadline = time.time() + run.seconds
        while len(passes) + 1 < n_files and (not passes or time.time() < deadline):
            p = {}
            for name, q in queries.items():
                a = time.time()
                new = _drain(q, _feed(run, name, len(passes) + 1), last[name])
                p[name] = {"span": (a, time.time()), "progress": new, "run_id": str(q.runId)}
                last[name] = max([last[name]] + [x["batchId"] for x in new])
            passes.append(p)
    for q in queries.values():
        q.stop()

    trig = [t for p in passes for r in p.values() for t in _trigger_s(r["progress"])]
    walls = [sum(b - a for a, b in (r["span"] for r in p.values())) for p in passes]
    run.attempted += len(trig)
    for t in trig:
        if t > TRIGGER_LIMIT_S:
            run.fail(f"trigger took {t:.1f} s (limit {TRIGGER_LIMIT_S} s)")
    run.report(t_session, t_setup, walls, trig, rss.peak_mb)
    run.inputs["trigger_p50_s"] = {
        name: median([t for p in passes for t in _trigger_s(p[name]["progress"])])
        for name in PIPELINES
    }
    # the sinks emitted the windows the highest watermark closed
    watermarks = {
        name: max(json.loads(p.json).get("eventTime", {}).get("watermark", EPOCH)
                  for p in q.recentProgress)
        for name, q in queries.items()
    }
    spark.stop()

    sinks = _check(run, watermarks)
    if run.trace:
        _layers(run, passes, sinks, build)


def _committed(out: str) -> dict[int, list[str]]:
    """Files the parquet sink committed, per batch, from its
    ``_spark_metadata`` log (a batch cut short by ``stop()`` leaves
    files that are not listed). A run has at most eight batches, so the
    log is never compacted (Spark compacts every tenth)."""
    meta = os.path.join(out, "_spark_metadata")
    batches = {}
    for n in filter(str.isdigit, os.listdir(meta)):
        with open(os.path.join(meta, n), encoding="utf-8") as fh:
            entries = [json.loads(line) for line in fh if line.startswith("{")]
        batches[int(n)] = [e["path"].removeprefix("file://") for e in entries if e["action"] == "add"]
    return batches


def _check(run: Run, watermarks: dict) -> dict:
    """Each pipeline's committed rows vs DuckDB over the tick files it
    was fed; returns each pipeline's committed files per batch."""
    import duckdb

    con = duckdb.connect()
    con.sql(f"create view symbols as select * from '{run.work}/data/symbols.parquet'")
    sinks = {}
    for name in PIPELINES:
        con.sql(f"""create or replace view ticks as
            select tick_id, sym, epoch_us(ts) as e, price, qty,
                   cast(regexp_extract(filename, 'part-(\\d+)', 1) as int) as f
            from read_parquet('{_src(run, name)}/*.parquet', filename = true)""")
        sinks[name] = _committed(os.path.join(run.work, "out", name))
        files = [f for fs in sinks[name].values() for f in fs]
        run.attempted += 1
        if not files:
            run.fail(f"{name}: no committed output")
            continue
        con.sql(f"create or replace view got as select * from read_parquet({files!r})")
        expected, got = _EXPECTED[name](watermarks[name]), _GOT[name]
        n_diff = con.sql(f"""select (select count(*) from (({expected}) except all ({got})))
                                  + (select count(*) from (({got}) except all ({expected})))""").fetchone()[0]
        n_exp = con.sql(f"select count(*) from ({expected})").fetchone()[0]
        if n_diff or not n_exp:
            run.fail(f"{name}: {n_diff} rows differ from the DuckDB reference "
                     f"({n_exp} expected, watermark {watermarks[name]})")
    return sinks


_EXPECTED = {
    # hopping windows [s, s + size) for every hop-aligned s covering the
    # tick; only windows the final watermark closed were emitted
    "candles": lambda wm: f"""
        select sym, ws, ws + {WINDOW_S * 10**6} as we, arg_min(price, e) as open,
               max(price) as high, min(price) as low, arg_max(price, e) as close,
               sum(qty) as volume, count(*) as n
        from (select *, (e // {HOP_S * 10**6} - k) * {HOP_S * 10**6} as ws
              from ticks, range({WINDOW_S // HOP_S}) r(k))
        group by sym, ws
        having ws + {WINDOW_S * 10**6} <= epoch_us(timestamptz '{wm}')""",
    # each tick after a symbol's first, with its predecessor in
    # processing order: file by file, event time within a file
    "lag2": lambda wm: """
        select sym, e, prev, price from (
            select sym, e, price, lag(price) over (partition by sym order by f, e) as prev
            from ticks) where prev is not null""",
    "enrich": lambda wm: """
        select sector, count(*) as n, sum(qty * lot) as weighted
        from ticks join symbols using (sym) group by sector""",
}
_GOT = {
    "candles": """select sym, epoch_us(window_start) as ws, epoch_us(window_end) as we,
                         open, high, low, close, volume, n from got""",
    "lag2": "select sym, epoch_us(ts) as e, \"values\"[1] as prev, \"values\"[2] as price from got",
    "enrich": """select sector, count(*) as n, sum(qty * lot) as weighted
                 from got group by sector""",
}


def _layers(run: Run, passes: list[dict], sinks: dict, build: dict) -> None:
    """Streaming counters from the progress reports, sink counters from
    the committed files, the rest from the event log: a streaming query
    tags its jobs with its run id and the batch id."""
    import eventlog
    import pyarrow.parquet as pq

    groups = eventlog.job_groups(eventlog.find_log(run.log_dir), eventlog.stream_batch_key)
    per_pass, prog, out_rows, out_bytes = [], [], [], []
    for p in passes:
        recs, gap = [], 0.0
        files = []
        for name, r in p.items():
            ids = [x["batchId"] for x in r["progress"]]
            g = eventlog.merge(groups.get(f"{r['run_id']}#{b}", eventlog.empty()) for b in ids)
            gap += eventlog.uncovered_s(g, *r["span"])
            recs.append(g)
            files += [f for i in ids for f in sinks[name].get(i, [])]
        per_pass.append({**eventlog.merge(recs), "build_jobs": sum(
            groups.get(f"warm|{name}|build", eventlog.empty())["jobs"] for name in PIPELINES),
            "driver_gap_s": gap})
        totals = [eventlog.progress_totals(r["progress"]) for r in p.values()]
        prog.append({k: sum(t[k] for t in totals) for k in eventlog.PROGRESS_KEYS})
        out_rows.append(sum(pq.read_metadata(f).num_rows for f in files))
        out_bytes.append(sum(os.path.getsize(f) for f in files))
    run.report_layers(per_pass)

    def m(key):
        return median([t[key] for t in prog])

    for name, key, unit in (
        ("streaming.add_batch_s", "add_batch_s", "s"),
        ("streaming.get_batch_s", "get_batch_s", "s"),
        ("streaming.planning_s", "planning_s", "s"),
        ("streaming.commit_s", "commit_s", "s"),
        ("streaming.state_rows", "state_rows", "count"),
        ("streaming.state_bytes", "state_bytes", "bytes"),
        ("streaming.state_commit_s", "state_commit_s", "s"),
        ("streaming.state_rows_updated", "state_rows_updated", "count"),
    ):
        run.metric(name, m(key), unit)
    run.metric("streaming.rows_per_s",
               median([t["input_rows"] / t["trigger_s"] for t in prog if t["trigger_s"]]), "rows/s")
    run.metric("sinks.output_rows", median(out_rows), "count")
    run.metric("sinks.output_bytes", median(out_bytes), "bytes")
    run.metric("queries.build_s", sum(build.values()), "s")
