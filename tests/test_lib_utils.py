"""lib.rs utility parity (reference src/lib.rs)."""

import datetime as dt
import json

from pyspark.sql import Row
from pyspark.sql import functions as F

from rstreams_spark.functions.core import (
    from_bytes, parsed_message, to_bytes, within_window,
)


def test_within_window_reference_vector(spark):
    # reference test_fuzzy_time_compare (src/lib.rs:69-80):
    # right_now vs yesterday with half-day / one-day / two-day windows
    right_now = dt.datetime.fromtimestamp(1701122006, dt.timezone.utc)
    yesterday = dt.datetime.fromtimestamp(1701035606, dt.timezone.utc)
    df = spark.createDataFrame(
        [
            Row(a=right_now, b=yesterday, w="12 hours", expect=False),
            Row(a=right_now, b=yesterday + dt.timedelta(milliseconds=1), w="24 hours", expect=True),
            Row(a=right_now, b=yesterday, w="48 hours", expect=True),
            # exactly one day apart, strict 24h window → False
            Row(a=right_now, b=yesterday, w="24 hours", expect=False),
        ]
    )
    for r in df.collect():
        got = (
            spark.createDataFrame([Row(a=r["a"], b=r["b"])])
            .select(within_window(F.col("a"), F.col("b"), r["w"]).alias("x"))
            .collect()[0]["x"]
        )
        assert got == r["expect"], r["w"]


def test_serde_roundtrip(spark):
    df = spark.createDataFrame([Row(key=7, sym="TSLA", px=122.87)])
    msg = parsed_message(df, "key", "sym", "px")
    assert msg.columns == ["key", "value"]
    wire = msg.select("key", to_bytes("value").alias("raw"))
    row = wire.collect()[0]
    assert row["key"] == "7"
    assert json.loads(bytes(row["raw"]).decode()) == {
        "value": {"sym": "TSLA", "px": 122.87}
    }
    back = wire.select(
        "key", from_bytes(F.col("raw"), "value struct<sym string, px double>").alias("v")
    ).collect()[0]
    assert back["v"]["value"]["sym"] == "TSLA"


def test_epoch_floors_pre_1970_instants(spark):
    """epoch() is the second CONTAINING the instant (floor toward
    -inf), matching the oracle's floor(epoch(ts)) — unix_timestamp
    instead truncates toward zero and lands pre-1970 fractional
    instants one second late (caught by an r6 probe that shifted the
    events corpus 60 years back; every ts_epoch output diverged)."""
    import duckdb
    from pyspark.sql import functions as F

    from rstreams_spark.queries._util import epoch

    cases = ["1964-01-01 00:09:58.778549", "1964-01-01 00:09:58",
             "1985-06-01 12:00:00.5", "1969-12-31 23:59:59.999999"]
    df = spark.createDataFrame([(c,) for c in cases], "ts string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    got = [r[0] for r in df.select(epoch(F.col("ts"))).collect()]
    vals = ", ".join(f"(timestamp '{c}')" for c in cases)
    want = [r[0] for r in duckdb.sql(
        f"select cast(floor(epoch(ts)) as bigint) from (values {vals}) v(ts)"
    ).fetchall()]
    assert got == want
    assert got[3] == -1  # the second containing ...:59.999999


def test_bench_payload_stays_under_driver_tail_capture():
    """The ONE driver-facing r6 breakage: the bench stdout JSON line
    outgrew the driver's tail capture (~5 KB with raw draws) and
    BENCH_r06 parsed as null. Pin the compact-by-construction bound:
    a full-catalog payload with worst-case float widths serializes
    well under 2.5 KB."""
    import json

    from bench import HEADLINERS, LONG_TAIL, build_payload

    # worst case is SPARK_GRAFT_BENCH_FULL=1: the whole 62-query list
    full = HEADLINERS + LONG_TAIL
    times = {name: 123.456789 for name in full}
    streaming = {
        "offered_rows_per_sec": 8_000_000,
        "processed_rows_per_sec": 7_885_658,
        "runs": [8_553_100, 8_008_008, 6_294_256],
        "run_batches": [4, 4, 4],
        "total_rows": 24_000_000,
        "batches": 4,
        "stateful_rows_per_batch": 2_000_000,
        "stateful_processed_rows_per_sec": 1_126_761,
        "stateful_runs": [857_510, 1_011_293, 1_046_390],
        "stateful_run_batches": [4, 4, 4],
        "stateful_batches": 4,
    }
    line = json.dumps(build_payload(times, "0.1", streaming, {}, cpus=32))
    assert len(line) < 2500, f"bench artifact line is {len(line)} bytes"
    payload = json.loads(line)
    assert "draws" not in payload
    assert len(payload["queries"]) == len(full)
    # r13 (VERDICT r12 item 2): the artifact proves the core count the
    # session actually ran with, ending the suspect_cpus_ignored flag
    assert payload["cpus"] == 32


def test_bench_min_of_two_merge():
    """The min-of-two artifact (r12, VERDICT r11 item 5): per-query
    MIN across runs, per-run totals preserved, streaming rates take
    the best run with raw lists concatenated, a query timed in SOME
    run keeps its time, and the merged FULL-list line still fits the
    driver's tail capture."""
    import json

    from bench import HEADLINERS, LONG_TAIL, build_payload, merge_payloads

    full = HEADLINERS + LONG_TAIL
    s1 = {"offered_rows_per_sec": 8_000_000,
          "processed_rows_per_sec": 7_000_000,
          "runs": [7_000_000, 6_900_000, 6_800_000],
          "gate_minhash_docs_per_sec": 22_000,
          "gate_minhash_runs": [22_000, 21_000, 20_000]}
    s2 = {"offered_rows_per_sec": 8_000_000,
          "processed_rows_per_sec": 8_100_000,
          "runs": [8_100_000, 8_000_000, 7_900_000],
          "gate_minhash_docs_per_sec": 21_500,
          "gate_minhash_runs": [21_500, 21_400, 21_300]}
    p1 = build_payload(
        {**{n: 123.456789 for n in full}, "q_slow1": 2.0, "q_only1": 1.0},
        "0.1", s1, {"q_dead": "boom"}, cpus=32)
    p2 = build_payload(
        {**{n: 123.456789 for n in full}, "q_slow1": 1.5},
        "0.1", s2, {"q_only1": "flaked", "q_dead": "boom"}, cpus=32)
    m = merge_payloads([p1, p2])
    assert m["cpus"] == 32                         # carried to artifact
    assert m["queries"]["q_slow1"] == 1.5          # min across runs
    assert m["queries"]["q_only1"] == 1.0          # timed in SOME run
    assert "q_only1" not in m.get("errors", {})
    assert m["errors"] == {"q_dead": "boom"}       # timed in NO run
    assert m["valid"] is False
    assert m["totals"] == [p1["value"], p2["value"]]
    assert m["value"] == round(sum(m["queries"].values()), 3)
    st = m["streaming"]
    assert st["processed_rows_per_sec"] == 8_100_000   # best run
    assert st["runs"] == s1["runs"] + s2["runs"]       # all raw draws
    assert st["gate_minhash_docs_per_sec"] == 22_000
    assert len(st["gate_minhash_runs"]) == 6
    line = json.dumps(m)
    assert len(line) < 2500, f"merged artifact line is {len(line)} bytes"


def test_stateless_collapse_detector():
    """The plain-rate backlog balloon (r02 failure mode, re-hit r12 on
    a degraded host) reads as rate 0 with only the cold batch seen;
    ``_collapsed`` must trigger the rate-micro-batch fallback exactly
    when the MEDIAN run has no warm batches — one bad draw among
    healthy ones is host noise, not a collapse."""
    from bench_streaming import _collapsed

    healthy = [(8.1e6, 4, 32_000_000), (7.9e6, 4, 32_000_000),
               (8.0e6, 4, 32_000_000)]
    assert not _collapsed(healthy)
    one_bad = [(0.0, 1, 8_000_000), (7.9e6, 4, 32_000_000),
               (8.0e6, 4, 32_000_000)]
    assert not _collapsed(one_bad)      # median run is still warm
    collapsed = [(6.5e6, 2, 8_000_000), (0.0, 1, 8_000_000),
                 (0.0, 1, 8_000_000)]
    assert _collapsed(collapsed)        # the r12 run-2 shape
    assert _collapsed([(0.0, 1, 0), (0.0, 1, 0), (0.0, 1, 0)])


def test_query_profile_one_row_per_query_and_no_log_left(tmp_path):
    """``tools/query_profile.py`` in a fresh process: one JSON row per
    named query, folded from a real event log, and the log's temporary
    directory is gone when the process exits. A query whose table is
    missing gets an error row and a non-zero exit, and does not stop
    the other query's row."""
    import os
    import shutil
    import subprocess
    import sys

    from conftest import SF_SMOKE

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    sf = tmp_path / "sf"  # lineitem only: tpch_q12 also reads orders
    sf.mkdir()
    shutil.copy(os.path.join(SF_SMOKE, "lineitem.parquet"), sf)
    env = dict(os.environ, TMPDIR=str(tmp), SPARK_GRAFT_CPUS="2",
               SPARK_GRAFT_DRIVER_MEM="1g")
    p = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "query_profile.py"),
         str(sf), "tpch_q12", "tpch_q6"],
        capture_output=True, text=True, env=env, cwd=tmp_path, timeout=300,
    )
    assert p.returncode == 1, p.stderr[-3000:]
    rows = {r["query"]: r for r in (json.loads(line) for line in p.stdout.splitlines()
                                    if line.startswith("{"))}
    assert sorted(rows) == ["tpch_q12", "tpch_q6"]
    assert set(rows["tpch_q12"]) == {"query", "error"}
    assert "orders" in rows["tpch_q12"]["error"]
    row = rows["tpch_q6"]
    assert row["jobs"] >= 1
    assert row["exec_s"] > 0
    assert row["failed_tasks"] == 0
    assert os.listdir(tmp) == []  # the event-log directory is gone


def test_query_profile_exit_code_follows_error_rows(monkeypatch, capsys):
    """``tools/query_profile.py``'s ``main`` prints every row without
    its ``sf`` and exits 0 when every query ran, 1 when any row is an
    error. ``profile`` is stubbed: no Spark session."""
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    monkeypatch.syspath_prepend(os.path.join(root, "tools"))
    import query_profile

    ok = {"query": "q_ok", "sf": "sf", "build_s": 0.1234, "exec_s": 1.0, "jobs": 2}
    bad = {"query": "q_bad", "sf": "sf", "error": "AnalysisException: no table"}
    ok_out = {"query": "q_ok", "build_s": 0.123, "exec_s": 1.0, "jobs": 2}
    bad_out = {"query": "q_bad", "error": "AnalysisException: no table"}
    for rows, code, out in (([ok], 0, [ok_out]), ([ok, bad], 1, [ok_out, bad_out]),
                            ([bad], 1, [bad_out])):
        monkeypatch.setattr(query_profile, "profile",
                            lambda sfs, names, rounds, rows=rows: [dict(r) for r in rows])
        assert query_profile.main("sf", ["q"]) == code
        assert [json.loads(ln) for ln in capsys.readouterr().out.splitlines()] == out


def _run_bench_parent(tmp_path, inner_src: str) -> tuple[str, str]:
    """Run bench.py's parent against a stub inner script; returns
    (stdout, stderr). No Spark involved."""
    import os
    import subprocess
    import sys

    inner = tmp_path / "fake_inner.py"
    inner.write_text(inner_src)
    env = dict(
        os.environ,
        SPARK_GRAFT_BENCH_INNER=str(inner),
        SPARK_GRAFT_BENCH_LOG=str(tmp_path / "child.log"),
    )
    p = subprocess.run(
        [sys.executable, "bench.py"], capture_output=True, text=True,
        env=env, cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=60,
    )
    return p.stdout, p.stderr


def test_bench_parent_emits_exactly_one_json_line(tmp_path):
    """The two-process contract (r8, after BENCH_r06/r07 both parsed
    null): whatever the child writes to ITS stdout — including a
    post-payload JVM-style stack flood — the parent's stdout is
    exactly the one payload JSON line."""
    import json

    out, _ = _run_bench_parent(tmp_path, """
import json, os
print("garbage before")
with open(os.environ["SPARK_GRAFT_BENCH_PAYLOAD"], "w") as fh:
    fh.write(json.dumps({"metric": "headline_queries_total_wall",
                         "value": 1.5, "unit": "sec",
                         "queries": {"q": 1.5}, "sf": 0.1,
                         "streaming": {}}) + "\\n")
print("HDFSBackedStateStore.abort stack flood after the payload" * 100)
""")
    lines = [ln for ln in out.splitlines() if ln.strip()]
    assert len(lines) == 1
    payload = json.loads(lines[0])
    assert payload["value"] == 1.5 and payload["queries"] == {"q": 1.5}


def test_bench_parent_flags_crashed_child_invalid(tmp_path):
    """A child that dies without writing the payload must yield a
    parseable artifact flagged invalid — never a silent partial."""
    import json

    out, _ = _run_bench_parent(tmp_path, "import sys; sys.exit(3)\n")
    lines = [ln for ln in out.splitlines() if ln.strip()]
    assert len(lines) == 1
    payload = json.loads(lines[0])
    assert payload["valid"] is False and "rc=3" in str(payload["errors"])


def test_oha_session_scoped_threshold(spark):
    """The ObjectHashAggregate sort-fallback raise is SCOPED (r9,
    ADVICE r8): the parent session keeps Spark's 128-key default
    (safe for large-buffer collect aggs like ts_similarity_topk's
    series buffers), while the minhash pipelines build on a cached
    sibling session carrying OHA_THRESHOLD. Frames execute under the
    conf of the session that built them, so the swap-at-entry in the
    minhash catalog queries is sufficient."""
    from rstreams_spark.session import OHA_THRESHOLD, oha_session

    key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    assert spark.conf.get(key) == "128"  # Spark default, un-raised
    sub = oha_session(spark)
    assert sub.conf.get(key) == str(OHA_THRESHOLD)
    assert sub is not spark
    assert oha_session(spark) is sub          # cached sibling
    assert sub.sparkContext is spark.sparkContext
    # the swapped queries still answer (cross-session join in
    # dedup_keep_best exercises sibling+parent frame composition)
    from conftest import SF_SMOKE

    from rstreams_spark.queries.dedupq import dedup_minhash

    assert dedup_minhash(spark, SF_SMOKE).count() >= 0


def test_bench_check_confirm_across_two_runs():
    """The bench regression gate (tools/bench_check.py) implements the
    documented noise discipline: a regression needs BOTH of the last
    two valid same-sf runs above threshold x the history floor AND
    above the absolute margin; single slow draws, invalid runs,
    other-sf runs, and new queries never fail the gate."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from bench_check import check

    def run(sf, q, stream=None, valid=True):
        return {"sf": sf, "queries": q, "valid": valid,
                "streaming": stream or {}}

    base = [run("0.1", {"a": 1.0, "b": 2.0}, {"processed_rows_per_sec": 100}),
            run("0.1", {"a": 1.1, "b": 2.1}, {"processed_rows_per_sec": 110})]

    # one slow draw then a normal one: unconfirmed, no failure
    bad, _ = check(base + [run("0.1", {"a": 9.0, "b": 2.0}),
                           run("0.1", {"a": 1.05, "b": 2.0})])
    assert bad == []
    # both last runs slow: confirmed
    bad, _ = check(base + [run("0.1", {"a": 9.0, "b": 2.0}),
                           run("0.1", {"a": 8.0, "b": 2.0})])
    assert len(bad) == 1 and bad[0].startswith("a:")
    # ratio-over but under the absolute margin (sub-second noise)
    bad, _ = check([run("0.1", {"c": 0.2}), run("0.1", {"c": 0.2}),
                    run("0.1", {"c": 0.5}), run("0.1", {"c": 0.5})])
    assert bad == []
    # invalid runs are ignored entirely
    bad, _ = check(base + [run("0.1", {"a": 9.0}, valid=False),
                           run("0.1", {"a": 9.0}), run("0.1", {"a": 1.0})])
    assert bad == []
    # other-sf history never mixes into the floor
    bad, _ = check([run("0.001", {"a": 0.1})] * 3 + base
                   + [run("0.1", {"a": 1.2}), run("0.1", {"a": 1.15})])
    assert bad == []
    # new query: noted, not failed
    bad, notes = check(base + [run("0.1", {"a": 1.0, "z": 5.0}),
                               run("0.1", {"a": 1.0, "z": 5.0})])
    assert bad == [] and any("z: new query" in n for n in notes)
    # streaming rate collapse, confirmed across both runs
    bad, _ = check(base + [
        run("0.1", {"a": 1.0}, {"processed_rows_per_sec": 40}),
        run("0.1", {"a": 1.0}, {"processed_rows_per_sec": 45}),
    ])
    assert len(bad) == 1 and "processed_rows_per_sec" in bad[0]
    # ADVICE r12: the stateless rate has two measurement bases (plain
    # rate vs the rate-micro-batch fallback); floors only compare
    # within one basis, so a fallback-run "collapse" against plain-
    # rate floors is unconfirmed, as is a mixed-basis last-two pair
    fb = {"processed_rows_per_sec": 40,
          "stateless_fallback": "rate-micro-batch"}
    bad, notes = check(base + [
        run("0.1", {"a": 1.0}, dict(fb)), run("0.1", {"a": 1.0}, dict(fb))])
    assert bad == [] and any("no baseline at basis" in n for n in notes)
    bad, notes = check(base + [
        run("0.1", {"a": 1.0}, dict(fb)),
        run("0.1", {"a": 1.0}, {"processed_rows_per_sec": 45})])
    assert bad == [] and any("different" in n for n in notes)
    # two fallback runs vs a fallback baseline DO confirm
    bad, _ = check(
        [run("0.1", {"a": 1.0}, {"processed_rows_per_sec": 100,
                                 "stateless_fallback": "rate-micro-batch"})]
        + base + [run("0.1", {"a": 1.0}, dict(fb)),
                  run("0.1", {"a": 1.0}, dict(fb))])
    assert len(bad) == 1 and "processed_rows_per_sec" in bad[0]
    # the gate rates are single-basis: the flag never splits them
    gbase = [run("0.1", {"a": 1.0}, {"gate_minhash_docs_per_sec": 100}),
             run("0.1", {"a": 1.1}, {"gate_minhash_docs_per_sec": 110})]
    bad, _ = check(gbase + [
        run("0.1", {"a": 1.0}, {"gate_minhash_docs_per_sec": 40,
                                "stateless_fallback": "rate-micro-batch"}),
        run("0.1", {"a": 1.0}, {"gate_minhash_docs_per_sec": 45})])
    assert len(bad) == 1 and "gate_minhash_docs_per_sec" in bad[0]
    # too little history: notes only
    bad, notes = check([run("0.1", {"a": 1.0})] * 2)
    assert bad == [] and any("need >= 3" in n for n in notes)


def test_table_handle_memo_and_rewrite_invalidation(spark, tmp_path):
    """r13: queries/_util.t memoizes the lazy table HANDLE per session
    keyed by (path, mtime, size) — same file returns the same object
    (no footer re-read per query build), a REWRITTEN file misses the
    cache and serves the new rows (regenerated probe corpora stay
    correct within one process)."""
    import shutil
    import time as _time

    from rstreams_spark.queries._util import t

    d = tmp_path / "sfX"
    d.mkdir()
    spark.range(5).toDF("doc_id").write.parquet(str(d / "documents.parquet"))
    a = t(spark, str(d), "documents")
    b = t(spark, str(d), "documents")
    assert a is b
    assert a.count() == 5
    # rewrite the file: new mtime/size -> fresh handle, fresh rows
    shutil.rmtree(d / "documents.parquet")
    _time.sleep(0.01)  # ensure a distinct mtime_ns even on coarse fs
    spark.range(7).toDF("doc_id").write.parquet(str(d / "documents.parquet"))
    c = t(spark, str(d), "documents")
    assert c is not a
    assert c.count() == 7


def test_table_handle_memo_sees_part_file_rewritten_in_place(spark, tmp_path):
    """A part file rewritten in place inside a parquet directory leaves
    the directory's own stat unchanged; queries/_util.t folds the
    entries' max mtime and summed size into its key, so the session
    serves the new rows instead of a stale handle. (A stale handle
    keeps the old file length: Spark's scan split ends there, and the
    row groups of the longer new file that start past it are dropped
    without an error.)"""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from rstreams_spark.queries._util import t

    d = tmp_path / "sfY"
    table_dir = d / "documents.parquet"
    table_dir.mkdir(parents=True)
    part = table_dir / "part-00000.parquet"
    pq.write_table(pa.table({"doc_id": list(range(5))}), part)
    assert t(spark, str(d), "documents").count() == 5
    dir_stat = table_dir.stat()
    _time.sleep(0.01)  # ensure a distinct mtime_ns even on coarse fs
    pq.write_table(pa.table({"doc_id": list(range(1000))}), part, row_group_size=100)
    assert table_dir.stat().st_mtime_ns == dir_stat.st_mtime_ns
    assert t(spark, str(d), "documents").count() == 1000


def test_expr_cache_reuses_trees_and_keeps_rows(spark):
    """r13: functions/core.expr_cache memoizes constructed Column
    trees per JVM. The minhash signature agg list is built ONCE per
    (num_perm, with_hash_set) and reused across frames — and the
    reused tree aggregates a second, different frame correctly."""
    from pyspark.sql import Row

    from rstreams_spark.functions.core import expr_cache
    from rstreams_spark.functions.dedup import minhash_signature

    expr_cache().pop(("sig_aggs", 8, False), None)
    e1 = spark.createDataFrame(
        [Row(doc_id=1, shingle="a b"), Row(doc_id=1, shingle="b c")]
    )
    s1 = minhash_signature(e1, 8)
    assert ("sig_aggs", 8, False) in expr_cache()
    cached = expr_cache()[("sig_aggs", 8, False)]
    e2 = spark.createDataFrame(
        [Row(doc_id=7, shingle="a b"), Row(doc_id=9, shingle="x y")]
    )
    s2 = minhash_signature(e2, 8)
    assert expr_cache()[("sig_aggs", 8, False)] is cached
    r1 = {r["doc_id"]: r["h0"] for r in s1.collect()}
    r2 = {r["doc_id"]: r["h0"] for r in s2.collect()}
    # same shingle "a b" under the same permutation in both frames;
    # doc 1's min is over two shingles, doc 7's over one
    assert set(r1) == {1} and set(r2) == {7, 9}
    assert r1[1] <= r2[7]
