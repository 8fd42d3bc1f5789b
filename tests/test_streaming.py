"""Structured Streaming parity tests: file-source microbatches through
the streaming operators into a memory sink, asserting the same
results the batch operators (and the reference) produce."""

import datetime as dt
import json
import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from rstreams_spark.session import SHUFFLE_PARTITIONS
from rstreams_spark.sinks import writers
from rstreams_spark.sources import files
from rstreams_spark.streaming import joins as sjoins
from rstreams_spark.streaming import stateful, windows as swindows

EPOCH = dt.datetime(2024, 1, 1)
_ROOT = Path(__file__).resolve().parents[1]
SCHEMA = "key string, ts timestamp, v double"


def _write_batch(tmp_path, name, rows):
    p = tmp_path / name
    p.mkdir(parents=True, exist_ok=True)
    with open(p / "part-0.json", "w") as f:
        for key, sec, v in rows:
            ts = (EPOCH + dt.timedelta(seconds=sec)).strftime("%Y-%m-%dT%H:%M:%S")
            f.write(json.dumps({"key": key, "ts": ts, "v": float(v)}) + "\n")
    return str(p)


def _append_events(src, name, rows, v=lambda k, s: 1.0):
    """Add one microbatch file of (key, second-offset) events to an
    existing stream directory; ``v`` derives the payload."""
    with open(src / name, "w") as f:
        for k, s in rows:
            ts = (EPOCH + dt.timedelta(seconds=s)).strftime("%Y-%m-%dT%H:%M:%S")
            f.write(json.dumps({"key": k, "ts": ts, "v": float(v(k, s))}) + "\n")


def _run(query):
    query.processAllAvailable()
    query.stop()


def test_stream_tumbling_window(spark, tmp_path):
    path = _write_batch(
        tmp_path, "ev",
        [("a", 0, 1), ("a", 1, 2), ("a", 3, 4), ("a", 7, 8), ("b", 0, 5)],
    )
    stream = files.stream_files(spark, path, "json", SCHEMA)
    out = swindows.stream_tumbling_window(
        stream, "key", "ts", "3 seconds",
        F.sum("v").alias("s"), watermark="0 seconds",
    )
    q = writers.stream_to_memory(out, "tumbling_out", "complete")
    _run(q)
    got = {
        (r["key"], int(r["window_start"].timestamp() - EPOCH.timestamp())): r["s"]
        for r in spark.sql("select * from tumbling_out").collect()
    }
    assert got == {("a", 0): 3.0, ("a", 3): 4.0, ("a", 6): 8.0, ("b", 0): 5.0}


def test_stream_lag_window(spark, tmp_path):
    path = _write_batch(
        tmp_path, "lag", [("a", 1, 1), ("a", 2, 2), ("a", 3, 3), ("b", 1, 9)]
    )
    stream = files.stream_files(spark, path, "json", SCHEMA)
    out = stateful.stream_lag_window(stream, "key", "ts", 2, "v")
    q = writers.stream_to_memory(out, "lag_out", "append")
    _run(q)
    rows = sorted(
        (r["key"], tuple(r["values"]))
        for r in spark.sql("select * from lag_out").collect()
    )
    assert rows == [("a", (1.0, 2.0)), ("a", (2.0, 3.0))]


def test_stream_lag_window_multi_column(spark, tmp_path):
    """Batch-parity upgrade: multiple buffered value columns ride
    parallel state slots; buffers stay aligned per row. A value column
    named like an internal column (``_us``) keeps its own values."""
    path = _write_batch(
        tmp_path, "mlag", [("a", 0, 1.0), ("a", 1, 2.0), ("a", 2, 3.0)]
    )
    stream = files.stream_files(spark, path, "json", SCHEMA)
    # buffer both the value and its double (derived column)
    stream = stream.withColumn("v2", F.col("v") * 10)
    stream = stream.withColumn("_us", F.col("v") * 100)
    out = stateful.stream_lag_window(stream, "key", "ts", 2, ["v", "v2", "_us"])
    q = writers.stream_to_memory(out, "mlag_out", "append")
    _run(q)
    rows = sorted(
        (tuple(r["values_v"]), tuple(r["values_v2"]), tuple(r["values__us"]))
        for r in spark.sql("select * from mlag_out").collect()
    )
    assert rows == [
        ((1.0, 2.0), (10.0, 20.0), (100.0, 200.0)),
        ((2.0, 3.0), (20.0, 30.0), (200.0, 300.0)),
    ]


def test_stream_lag_window_state_across_batches(spark, tmp_path):
    base = tmp_path / "lag2"
    _write_batch(tmp_path, "lag2", [("a", 1, 1)])
    stream = files.stream_files(spark, str(base), "json", SCHEMA)
    out = stateful.stream_lag_window(stream, "key", "ts", 2, "v")
    q = writers.stream_to_memory(out, "lag2_out", "append")
    q.processAllAvailable()
    # second file arrives later: buffer must carry over
    with open(base / "part-1.json", "w") as f:
        ts = (EPOCH + dt.timedelta(seconds=2)).strftime("%Y-%m-%dT%H:%M:%S")
        f.write(json.dumps({"key": "a", "ts": ts, "v": 2.0}) + "\n")
    q.processAllAvailable()
    q.stop()
    rows = [tuple(r["values"]) for r in spark.sql("select * from lag2_out").collect()]
    assert rows == [(1.0, 2.0)]


def _lag_pairs(ticks, lag=2):
    """Sequential model of stream_lag_window over ``(key, sec, v)``
    ticks: one ``(key, sec, last lag values)`` row per tick once the
    key has seen ``lag`` of them."""
    seen: dict = {}
    out = []
    for k, sec, v in sorted(ticks):
        buf = seen.setdefault(k, [])
        buf.append(v)
        if len(buf) >= lag:
            out.append((k, sec, tuple(buf[-lag:])))
    return sorted(out)


def test_stream_lag_window_sparse_batches(spark, tmp_path):
    """Many keys with one or two ticks per trigger: most groups emit
    no row, so an output Arrow batch holds more groups than rows and
    PySpark pads it with empty rows. The list column must take that
    padding (an Arrow-dtype column turns it into pd.NA, which PySpark's
    output converter cannot iterate) and every lag pair must come out
    exactly once. Lag 3 runs over the same triggers: its keys fill
    the buffer over two or three triggers, so most groups of the first
    two emit nothing while their state grows."""
    src = tmp_path / "sparse"
    src.mkdir()
    v = lambda k, s: int(k[1:]) * 100 + s  # noqa: E731
    triggers = [
        [(f"k{i:03d}", 0) for i in range(400)],
        [(f"k{i:03d}", 1) for i in range(600)],
        [(f"k{i:03d}", s) for i in range(100) for s in (2, 3)]
        + [(f"k{i:03d}", 2) for i in range(400, 1000)],
    ]
    stream = files.stream_files(spark, str(src), "json", SCHEMA)
    queries = {
        lag: writers.stream_to_memory(
            stateful.stream_lag_window(stream, "key", "ts", lag, "v"),
            f"sparse_lag{lag}_out", "append",
        )
        for lag in (2, 3)
    }
    try:
        for n, rows in enumerate(triggers):
            _append_events(src, f"part-{n}.json", rows, v)
            for q in queries.values():
                q.processAllAvailable()
    finally:
        for q in queries.values():
            q.stop()
    ticks = [(k, s, float(v(k, s))) for rows in triggers for k, s in rows]
    for lag in queries:
        got = sorted(
            (r["key"], int(r["ts"].timestamp() - EPOCH.timestamp()),
             tuple(r["values"]))
            for r in spark.sql(f"select * from sparse_lag{lag}_out").collect()
        )
        assert got == _lag_pairs(ticks, lag), lag


def test_stream_lag_window_compiles_nothing_after_first_trigger(spark, tmp_path):
    """Scalar state and plain output columns keep every trigger's
    generated classes in the codegen cache. The first trigger compiles
    the plan, the second the decoder of the state it is the first to
    read (one class), and every later trigger compiles nothing.
    Array-typed state compiled two classes per trigger, because each
    trigger's state encoder got a fresh lambda-variable name and so
    new source text."""
    from rstreams_spark.session import codegen_stats

    src = tmp_path / "cg"
    src.mkdir()
    stream = files.stream_files(spark, str(src), "json", SCHEMA)
    out = stateful.stream_lag_window(stream, "key", "ts", 2, "v")
    q = writers.stream_to_memory(out, "cg_lag_out", "append")
    compiles = []
    try:
        for n in range(5):
            _append_events(
                src, f"part-{n}.json",
                [(f"k{i}", n * 10 + s) for i in range(20) for s in range(3)],
            )
            before = codegen_stats(spark)["compiles"]
            q.processAllAvailable()
            compiles.append(codegen_stats(spark)["compiles"] - before)
    finally:
        q.stop()
    assert spark.sql("select count(*) from cg_lag_out").first()[0] == 20 * 14
    assert compiles[1] <= 1 and compiles[2:] == [0, 0, 0], compiles


def test_stream_lag_window_many_keys_per_group(spark, tmp_path):
    """5,000 ``long`` keys share the 64 key groups (~78 keys a group,
    at most two ticks a key per trigger), plus one NULL key. The keys
    are consecutive past 2^53, where float64 cannot tell neighbours
    apart: a NULL in a group's key column would widen it to float on
    its way into pandas and merge buffers, so the NULL key must keep
    to a group of its own. Lag 2 and lag 3, two value columns kept
    aligned."""
    src = tmp_path / "many"
    src.mkdir()
    big = 1 << 60
    ids = [big + i for i in range(5000)]
    null_key = -1  # stands in for NULL when sorting; no real key is -1
    v = lambda k, s: ((null_key if k is None else k - big) * 10 + s)  # noqa: E731
    triggers = [
        [(k, 0) for k in ids] + [(None, 0)],
        [(k, 1) for k in ids[:3000]] + [(None, 1), (None, 2)],
        [(k, s) for k in ids[:1000] for s in (2, 3)]
        + [(k, 2) for k in ids[3000:]] + [(None, 3)],
    ]
    stream = files.stream_files(
        spark, str(src), "json", "key bigint, ts timestamp, v double"
    ).withColumn("w", -F.col("v"))
    queries = {
        lag: writers.stream_to_memory(
            stateful.stream_lag_window(stream, "key", "ts", lag, ["v", "w"]),
            f"many_lag{lag}_out", "append",
        )
        for lag in (2, 3)
    }
    try:
        for n, rows in enumerate(triggers):
            _append_events(src, f"part-{n}.json", rows, v)
            for q in queries.values():
                q.processAllAvailable()
    finally:
        for q in queries.values():
            q.stop()
    ticks = [
        (null_key if k is None else k, s, float(v(k, s)))
        for rows in triggers for k, s in rows
    ]
    for lag in queries:
        rows = spark.sql(f"select * from many_lag{lag}_out").collect()
        got = sorted(
            (null_key if r["key"] is None else r["key"],
             int(r["ts"].timestamp() - EPOCH.timestamp()), tuple(r["values_v"]))
            for r in rows
        )
        assert got == _lag_pairs(ticks, lag), lag
        assert all(
            r["values_w"] == [-x for x in r["values_v"]] for r in rows
        ), lag


def test_key_groups_keep_per_key_state_partitions(spark):
    """Key group i's grouping value hashes, under the Murmur3 Spark's
    state shuffle partitions by, to i mod 64, and a key's group is its
    own hash mod 64: with N state partitions dividing 64, every key
    lands on the partition grouping by the key itself gives it, and
    each partition holds 64 / N groups. For partition counts that do
    not divide 64 but are an odd divisor of 315 times a power of two,
    no partition holds more than ceil(64 / N) groups."""
    import math
    from collections import Counter

    ids = spark.createDataFrame(list(enumerate(stateful._GROUP_IDS)), "i int, v int")
    hashes = [r["h"] for r in ids.orderBy("i").select(F.hash("v").alias("h")).collect()]
    assert len(hashes) == stateful.KEY_GROUPS
    assert [h % stateful.KEY_GROUPS for h in hashes] == list(range(stateful.KEY_GROUPS))
    for n in (3, 5, 6, 7, 9, 10, 12, 20, 24, 48, 96):
        most = max(Counter(h % n for h in hashes).values())
        assert most == math.ceil(stateful.KEY_GROUPS / n), n
    table = F.array(*map(F.lit, stateful._GROUP_IDS))
    keys = spark.range(1000).select(F.concat(F.lit("S"), F.col("id").cast("string")).alias("k"))
    group = F.element_at(table, F.pmod(F.hash("k"), F.lit(stateful.KEY_GROUPS)) + 1)
    for n in (2, 4, 8, 16, 32, 64):
        moved = keys.where(
            F.pmod(F.hash(group), F.lit(n)) != F.pmod(F.hash("k"), F.lit(n))
        )
        assert moved.count() == 0, n


def test_stream_lag_window_per_key_checkpoint_fails_loudly(spark, tmp_path):
    """A checkpoint whose state is keyed by the key itself (the shape
    of the per-key version: ``groupBy(key)``, one scalar field per
    slot) cannot be resumed by the key-group operator: Spark's
    state-schema check stops the query instead of reading it."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = tmp_path / "src"
    src.mkdir()
    _append_events(src, "part-0.json", [("a", 0), ("b", 1)])
    ckpt = str(tmp_path / "ckpt")

    def per_key(_, pdfs, state):
        for _pdf in pdfs:
            pass
        state.update((0.0, 0.0))
        yield from ()

    def start(df):
        return (
            df.writeStream.format("noop").outputMode("append")
            .option("checkpointLocation", ckpt).start()
        )

    stream = files.stream_files(spark, str(src), "json", SCHEMA)
    q = start(
        stream.groupBy("key").applyInPandasWithState(
            per_key, "key string, _us bigint, _v0_0 double, _v0_1 double",
            "_v0_0 double, _v0_1 double", "append", GroupStateTimeout.NoTimeout,
        )
    )
    _run(q)
    _append_events(src, "part-1.json", [("a", 2)])
    q = start(stateful.stream_lag_window(stream, "key", "ts", 2, "v"))
    try:
        with pytest.raises(Exception, match="STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE"):
            q.processAllAvailable()
    finally:
        q.stop()


def test_lag_state_blob_pins_key_group_count(monkeypatch):
    """A key group's state blob records KEY_GROUPS; one written under
    another count (or another slot layout) fails loudly, naming both,
    instead of serving buffers to keys routed by a different count."""
    import numpy as np

    names = ["_v0_0", "_v0_1"]
    slots = np.array([[np.nan, 1.0], [2.0, 3.0]])
    blob = stateful._lag_state_encode("key", np.array(["a", None], dtype=object), slots, names)
    keys, got = stateful._lag_state_decode(blob, names)
    assert list(keys) == ["a", None]
    np.testing.assert_array_equal(got, slots)
    # integer keys come back exact, never as float64
    big = np.array([(1 << 60) + 1, (1 << 60) + 2])
    keys, _ = stateful._lag_state_decode(
        stateful._lag_state_encode("key", big, slots, names), names
    )
    assert keys.dtype == np.int64 and list(keys) == list(big)
    with pytest.raises(ValueError, match="slots"):
        stateful._lag_state_decode(blob, names + ["_v0_2"])

    monkeypatch.setattr(stateful, "KEY_GROUPS", 16)
    other = stateful._lag_state_encode("key", np.array(["a"], dtype=object), slots[:, :1], names)
    monkeypatch.undo()
    with pytest.raises(ValueError, match=r"16 key groups.*routes keys to 64"):
        stateful._lag_state_decode(other, names)


def test_stream_interval_join(spark, tmp_path):
    lpath = _write_batch(tmp_path, "l", [("a", 0, 1), ("b", 1, 2), ("c", 50, 3)])
    rpath = _write_batch(tmp_path, "r", [("a", 5, 10), ("b", 40, 20), ("c", 55, 30)])
    left = files.stream_files(spark, lpath, "json", SCHEMA)
    right = files.stream_files(spark, rpath, "json", SCHEMA)
    out = sjoins.stream_interval_join(left, right, "key", "ts", "ts", "10 seconds")
    q = writers.stream_to_memory(out, "ij_out", "append")
    _run(q)
    got = sorted(
        (r["key"], r["v"], r["r_v"]) for r in spark.sql("select * from ij_out").collect()
    )
    # (b) excluded: Δ=39s > 10s; (a) Δ=5s and (c) Δ=5s match
    assert got == [("a", 1.0, 10.0), ("c", 3.0, 30.0)]


def test_stream_latest_per_key(spark, tmp_path):
    path = _write_batch(
        tmp_path, "tbl", [("a", 1, 10), ("a", 5, 50), ("b", 2, 20)]
    )
    stream = files.stream_files(spark, path, "json", SCHEMA)
    out = stateful.stream_latest_per_key(stream, "key", "ts", "v")
    q = writers.stream_to_memory(out, "tbl_out", "complete")
    _run(q)
    got = {r["key"]: r["v"] for r in spark.sql("select * from tbl_out").collect()}
    assert got == {"a": 50.0, "b": 20.0}


def test_stream_rate_source_smoke(spark):
    df = files.stream_rate(spark, 10)
    assert df.isStreaming
    assert set(df.columns) == {"timestamp", "value"}


def test_streaming_stocks_two_stage_classify(spark, tmp_path):
    """The reference stocks pipeline LIVE, in the topology Spark
    supports (no stateful op directly after a streaming agg): stage 1
    streams ticks into finalized candles on a parquet sink; stage 2
    streams those candles through the stateful classifier. Output
    must equal the batch lag-classify over the same candles."""
    rows = [
        ("a", 0, 1.0), ("a", 1, 3.0),      # candle 0: o=1 c=3
        ("a", 4, 2.0), ("a", 5, 2.5),      # candle 3: inside (2,2.5)
        ("a", 7, 0.5), ("a", 8, 4.0),      # candle 6: outside
        ("a", 10, 3.0), ("a", 11, 3.5),    # candle 9: inside
        ("a", 13, 9.0),                    # candle 12: up; also closes candle 9
        ("a", 16, 1.0),                    # closes candle 12
    ]
    path = _write_batch(tmp_path, "ticks", rows)
    ticks = files.stream_files(spark, path, "json", SCHEMA)
    candles = swindows.stream_tumbling_window(
        ticks, "key", "ts", "3 seconds",
        F.min_by("v", F.col("ts")).alias("open"),
        F.max_by("v", F.col("ts")).alias("close"),
        watermark="0 seconds",
    )
    candle_dir = str(tmp_path / "candles")
    q1 = writers.stream_to_parquet(
        candles, candle_dir, str(tmp_path / "ckpt1")
    )
    _run(q1)

    candle_stream = spark.readStream.schema(
        "key string, window_start timestamp, window_end timestamp, "
        "open double, close double"
    ).parquet(candle_dir)
    classified = stateful.stream_strat_classify(
        candle_stream, "key", "window_start"
    )
    q2 = writers.stream_to_memory(classified, "live_strat", "append")
    _run(q2)
    got = {
        int(r["window_start"].timestamp() - EPOCH.timestamp()):
            (r["strat_class"], r["color"])
        for r in spark.sql("select * from live_strat").collect()
    }
    # batch reference over the same candle frame (watermark=0 with a
    # final bare tick guarantees every classified candle finalized)
    assert got == {
        3: ("inside", "green"), 6: ("outside", "green"),
        9: ("inside", "green"), 12: ("up", "red"),
    }


def test_stream_dedup_exact_first_wins(spark, tmp_path):
    """Live exact-dedup: same normalized content later in the stream
    is dropped; distinct content passes. State bounded by watermark."""
    from rstreams_spark.streaming.dedup import stream_dedup_exact

    path = _write_batch(
        tmp_path, "dd",
        [("dup text", 0, 1.0), ("dup text", 5, 2.0), ("other", 1, 3.0)],
    )
    stream = files.stream_files(spark, path, "json", SCHEMA)
    out = stream_dedup_exact(stream, "key", "ts", horizon="10 minutes")
    q = writers.stream_to_memory(out, "dedup_out", "append")
    _run(q)
    got = sorted(r["key"] for r in spark.sql("select * from dedup_out").collect())
    assert got == ["dup text", "other"]


def test_stream_span_dedup_first_span_wins(spark, tmp_path):
    """Live span-level dedup: a 2-token span repeated by a later doc
    is dropped; novel spans pass with their doc id and position."""
    from rstreams_spark.streaming.dedup import stream_span_dedup

    path = _write_batch(
        tmp_path, "sd",
        [("aa bb cc dd", 0, 1.0), ("aa bb xx yy", 5, 2.0)],
    )
    stream = files.stream_files(spark, path, "json", SCHEMA)
    out = stream_span_dedup(
        stream, "v", "key", "ts", horizon="10 minutes", span_size=2
    )
    q = writers.stream_to_memory(out, "span_out", "append")
    _run(q)
    rows = spark.sql("select * from span_out").collect()
    # exactly one copy of the shared "aa bb" span survives (either
    # doc — arrival order inside one microbatch is not pinned); the
    # novel spans pass with their doc id and position
    assert sorted(r["span_text"] for r in rows) == ["aa bb", "cc dd", "xx yy"]
    by_text = {r["span_text"]: r for r in rows}
    assert (by_text["cc dd"]["v"], by_text["cc dd"]["span_idx"]) == (1.0, 1)
    assert (by_text["xx yy"]["v"], by_text["xx yy"]["span_idx"]) == (2.0, 1)
    assert all(r["n_tokens"] == 2 for r in rows)


def test_multimodal_stages_are_streaming_legal(spark, tmp_path):
    """The multimodal mapInPandas stages (binary payload build +
    audio metadata probe) are stateless, so they must run unchanged
    on a live stream — the decode-at-ingest shape of a 100 TB
    multimodal pipeline."""
    import hashlib

    from rstreams_spark.functions import multimodal

    path = _write_batch(tmp_path, "mm", [("doc one", 0, 1.0), ("two", 1, 2.0)])
    stream = files.stream_files(spark, path, "json", SCHEMA).select(
        F.col("v").cast("bigint").alias("doc_id"), F.col("key").alias("text")
    )
    out = multimodal.extract_audio_meta(multimodal.with_audio_payload(stream))
    q = writers.stream_to_memory(out, "mm_out", "append")
    _run(q)
    got = {r["doc_id"]: r for r in spark.sql("select * from mm_out").collect()}
    d = hashlib.sha256(b"doc one").digest()
    assert got[1]["format"] == "wav"
    assert got[1]["sample_rate"] == 8000 + (d[0] % 8) * 1000
    assert got[2]["format"] == "wav"
    # the video stages run on the same live stream (r5): container
    # build + box/chunk probe are equally stateless
    vout = multimodal.extract_video_meta(multimodal.with_video_payload(stream))
    qv = writers.stream_to_memory(vout, "mmv_out", "append")
    _run(qv)
    vgot = {r["doc_id"]: r for r in spark.sql("select * from mmv_out").collect()}
    assert vgot[1]["format"] == ("mp4" if d[0] % 2 == 0 else "avi")
    assert vgot[1]["width"] == 160 + 16 * (d[1] % 8)
    assert vgot[2]["format"] in ("mp4", "avi")


def test_stream_gap_detect_event_time_timeout(spark, tmp_path):
    """StreamExt::timeout live: keys silent > gap in EVENT time emit
    a gap row once the watermark passes — batch 2 advances the
    watermark far enough that only the silent key fires."""
    from rstreams_spark.streaming.stateful import stream_gap_detect

    src = tmp_path / "gap_src"
    src.mkdir()

    def write_file(name, rows):
        import json as _json

        with open(src / name, "w") as f:
            for k, s in rows:
                ts = (EPOCH + dt.timedelta(seconds=s)).strftime(
                    "%Y-%m-%dT%H:%M:%S"
                )
                f.write(_json.dumps({"key": k, "ts": ts, "v": 1.0}) + "\n")

    write_file("b0.json", [("a", 0), ("a", 2), ("b", 1)])
    stream = files.stream_files(spark, str(src), "json", SCHEMA)
    out = stream_gap_detect(stream, "key", "ts", gap_seconds=5)
    q = writers.stream_to_memory(out, "gap_out", "append")
    q.processAllAvailable()
    # batch 2: only `a` speaks again, far in the future — watermark
    # jumps past b's (1s + 5s) timeout
    write_file("b1.json", [("a", 60)])
    q.processAllAvailable()
    q.stop()
    got = {
        (r["key"], int(r["last_seen"].timestamp() - EPOCH.timestamp()))
        for r in spark.sql("select * from gap_out").collect()
    }
    assert got == {("b", 1)}


def test_stream_chunk_timeout_sessions_and_chunks(spark, tmp_path):
    """Live chunks_timeout: per-key (session, chunk) ids match the
    sequential definition across MICROBATCH boundaries — the carried
    (last_ms, session, position) state must seam batch 2 onto batch
    1's open session, and a silence between batches must open a new
    session."""
    from rstreams_spark.streaming.stateful import stream_chunk_timeout

    src = tmp_path / "ct_src"
    src.mkdir()

    # key a: 3 rows (size 2 → chunk split), key b: 1 row
    _append_events(src, "b0.json", [("a", 0), ("a", 1), ("a", 2), ("b", 0)])
    stream = files.stream_files(spark, str(src), "json", SCHEMA)
    out = stream_chunk_timeout(stream, "key", "ts", size=2, gap_seconds=10)
    q = writers.stream_to_memory(out, "ct_out", "append")
    q.processAllAvailable()
    # batch 2: a continues its open session (3 s later, chunk 1 gets
    # its 2nd row → next row opens chunk 2); b returns after silence
    # (> 10 s) → new session, chunk resets
    _append_events(src, "b1.json", [("a", 3), ("a", 4), ("b", 30)])
    q.processAllAvailable()
    q.stop()
    got = {
        (r["key"], int(r["ts"].timestamp() - EPOCH.timestamp())):
            (r["session"], r["chunk"])
        for r in spark.sql("select * from ct_out").collect()
    }
    assert got == {
        ("a", 0): (0, 0), ("a", 1): (0, 0), ("a", 2): (0, 1),
        ("a", 3): (0, 1), ("a", 4): (0, 2),
        ("b", 0): (0, 0), ("b", 30): (1, 0),
    }


def test_stream_skip_and_cycle_across_batches(spark, tmp_path):
    """Live skip/cycle: the per-key ordinal carries across
    microbatches, so batch 2's rows continue the count — skip(2)
    admits nothing until a key's third row ever, and cycle slots
    keep rotating from where batch 1 left off."""
    from rstreams_spark.streaming.stateful import stream_cycle, stream_skip

    src = tmp_path / "sk_src"
    src.mkdir()
    _v = lambda k, s: float(s)  # noqa: E731
    _append_events(src, "b0.json", [("a", 0), ("a", 1), ("b", 0)], v=_v)
    stream = files.stream_files(spark, str(src), "json", SCHEMA)
    q1 = writers.stream_to_memory(
        stream_skip(stream, "key", "ts", 2), "skip_out", "append"
    )
    stream2 = files.stream_files(spark, str(src), "json", SCHEMA)
    q2 = writers.stream_to_memory(
        stream_cycle(stream2, "key", "ts", 2), "cycle_out", "append"
    )
    q1.processAllAvailable(); q2.processAllAvailable()
    _append_events(src, "b1.json", [("a", 2), ("b", 1), ("b", 2)], v=_v)
    q1.processAllAvailable(); q2.processAllAvailable()
    q1.stop(); q2.stop()
    skipped = {(r["key"], int(r["v"])) for r in spark.sql("select * from skip_out").collect()}
    assert skipped == {("a", 2), ("b", 2)}  # third row per key only
    slots = {
        (r["key"], int(r["v"])): r["__cycle"]
        for r in spark.sql("select * from cycle_out").collect()
    }
    assert slots == {
        ("a", 0): 0, ("a", 1): 1, ("a", 2): 0,
        ("b", 0): 0, ("b", 1): 1, ("b", 2): 0,
    }


def test_stream_quality_repetition_matches_batch_twin(spark):
    """The stateless ingest-time repetition scorer must agree
    ROW-FOR-ROW (exact doubles — identical integer numerators/
    denominators) with the batch/oracle-verified quality_repetition
    catalog query on the same corpus, and run as a streaming
    mapInPandas without state or watermark."""
    from conftest import SF_SMOKE
    from rstreams_spark.queries._util import t
    from rstreams_spark.queries.textq import quality_repetition
    from rstreams_spark.streaming.curation import stream_quality_repetition

    batch = {
        r["doc_id"]: (
            r["n_words"], r["dup_word_frac"], r["top2gram_char_frac"],
            r["dup3gram_char_frac"], r["keep"],
        )
        for r in quality_repetition(spark, SF_SMOKE).collect()
    }
    docs = t(spark, SF_SMOKE, "documents")
    live_shaped = {
        r["doc_id"]: (
            r["n_words"], r["dup_word_frac"], r["top2gram_char_frac"],
            r["dup3gram_char_frac"], r["keep"],
        )
        for r in stream_quality_repetition(docs).collect()
    }
    assert live_shaped == batch
    # and it is streaming-legal: plan builds on a readStream source
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("value as doc_id", "'alpha beta alpha beta' as text")
    )
    out = stream_quality_repetition(stream)
    assert out.isStreaming


def test_stream_take_while_sticky_across_batches(spark, tmp_path):
    """Live take_while: the cut is an EVENT-time point carried in
    state — rows at/after the first violator's timestamp stay
    dropped across microbatches, while a LATE row from before the
    cut is still admitted (event-time, not arrival-order,
    semantics)."""
    from rstreams_spark.streaming.stateful import stream_take_while

    src = tmp_path / "tw_src"
    src.mkdir()
    _v = lambda k, s: float(s)  # noqa: E731
    # a: 0,1 pass; b: 0 passes, 5 fails (v >= 5 violates v < 5)
    _append_events(src, "b0.json", [("a", 0), ("a", 1), ("b", 0), ("b", 5)], v=_v)
    stream = files.stream_files(spark, str(src), "json", SCHEMA)
    out = stream_take_while(
        stream, "key", "ts", lambda pdf: pdf["v"] < 5
    )
    q = writers.stream_to_memory(out, "tw_out", "append")
    q.processAllAvailable()
    # batch 2: b's late ts=1 row precedes the ts=5 cut → admitted;
    # b's ts=6 row is past the cut → dropped; a continues
    _append_events(src, "b1.json", [("a", 2), ("b", 1), ("b", 6)], v=_v)
    q.processAllAvailable()
    q.stop()
    got = sorted(
        (r["key"], int(r["v"])) for r in spark.sql("select * from tw_out").collect()
    )
    assert got == [("a", 0), ("a", 1), ("a", 2), ("b", 0), ("b", 1)]


def test_stream_source_mix_counts_match_batch(spark, tmp_path):
    """Live per-source doc/token counts (update-mode agg) equal the
    batch source_mix counts over the same corpus once the stream
    drains."""
    import json as _json

    from conftest import SF_SMOKE
    from rstreams_spark.queries._util import t
    from rstreams_spark.queries.textq import source_mix
    from rstreams_spark.streaming.curation import stream_source_mix

    src = tmp_path / "mix_src"
    src.mkdir()
    docs = t(spark, SF_SMOKE, "documents").select("doc_id", "text", "source")
    with open(src / "b0.json", "w") as f:
        for r in docs.collect():
            f.write(_json.dumps(
                {"doc_id": r["doc_id"], "text": r["text"], "source": r["source"]}
            ) + "\n")
    stream = spark.readStream.schema(
        "doc_id bigint, text string, source string"
    ).json(str(src))
    q = (
        stream_source_mix(stream)
        .writeStream.format("memory").queryName("mix_out")
        .outputMode("complete").start()
    )
    q.processAllAvailable()
    q.stop()
    live = {
        r["source"]: (r["n_docs"], r["n_tokens"])
        for r in spark.sql("select * from mix_out").collect()
    }
    batch = {
        r["source"]: (r["n_docs"], r["n_tokens"])
        for r in source_mix(spark, SF_SMOKE).collect()
    }
    assert live == batch


def test_throttled_reader_bounds_batch_rows(spark):
    """StreamExt::throttle parity: every microbatch ingests exactly
    the configured cap, never more."""
    import time

    from rstreams_spark.streaming.throttle import throttled, throttled_reader

    cap = 7
    src = throttled_reader(
        spark, "rate-micro-batch", cap, startTimestamp="0", advanceMillisPerBatch="100"
    ).load()
    writer = throttled(
        src.writeStream.format("noop").outputMode("append"), "1 second"
    )
    q = writer.start()
    try:
        deadline = time.time() + 10
        while len(q.recentProgress) < 3 and time.time() < deadline:
            time.sleep(0.25)
        progresses = list(q.recentProgress)
    finally:
        q.stop()
    batches = [p["numInputRows"] for p in progresses if p is not None]
    assert len(batches) >= 2
    assert all(n <= cap for n in batches)
    assert any(n == cap for n in batches)


def test_throttled_reader_rejects_uncappable_format(spark):
    from rstreams_spark.streaming.throttle import throttled_reader

    with pytest.raises(ValueError, match="no per-trigger cap"):
        throttled_reader(spark, "socket", 5)


def test_kafka_builder_shapes(spark):
    # no broker here: assert the builders construct valid plans
    from rstreams_spark.sources import kafka as k

    with pytest.raises(Exception):
        # kafka source requires the kafka package/broker — building
        # the reader itself should fail cleanly in this environment
        k.read_kafka_stream(spark, "localhost:9092", "t").explain()


def test_stream_foreach_batch_upsert(spark, tmp_path):
    """foreachBatch changelog upsert — the reference's Table-into-
    redb-store role (src/table.rs + src/store.rs) done scalably."""
    path = _write_batch(
        tmp_path, "fb", [("a", 1, 10), ("a", 5, 50), ("b", 2, 20)]
    )
    stream = files.stream_files(spark, path, "json", SCHEMA)
    table = stateful.stream_latest_per_key(stream, "key", "ts", "v")

    store = {}

    def upsert(batch_df, batch_id):
        for r in batch_df.collect():
            store[r["key"]] = r["v"]

    q = writers.stream_foreach_batch(table, upsert, "update")
    _run(q)
    assert store == {"a": 50.0, "b": 20.0}


def test_stream_exact_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup: dropDuplicatesWithinWatermark bounds
    dedup state by event time — the streaming path of dedup_exact."""
    path = _write_batch(
        tmp_path, "dd",
        [("a", 1, 1), ("a", 1, 1), ("b", 2, 2), ("a", 1, 1), ("c", 900, 3)],
    )
    stream = files.stream_files(spark, path, "json", SCHEMA)
    deduped = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["key", "v"]
    )
    q = writers.stream_to_memory(deduped, "dd_out", "append")
    _run(q)
    got = sorted(
        (r["key"], r["v"]) for r in spark.sql("select * from dd_out").collect()
    )
    assert got == [("a", 1.0), ("b", 2.0), ("c", 3.0)]


def test_checkpoint_restart_carries_state(spark, tmp_path):
    """Persistence parity (reference src/join.rs test_inner_join_with_
    persistence + src/store.rs redb Store): stop a checkpointed
    stateful query, deliver more data, restart from the checkpoint —
    per-key buffer state survives the restart."""
    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    _write_batch(tmp_path, "src", [("a", 1, 1.0)])

    def start():
        stream = files.stream_files(spark, str(src), "json", SCHEMA)
        out = stateful.stream_lag_window(stream, "key", "ts", 2, "v")
        return (
            out.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start()
    q.processAllAvailable()
    q.stop()  # first run: buffer holds [1.0], nothing emitted yet

    with open(src / "part-1.json", "w") as f:
        ts = (EPOCH + dt.timedelta(seconds=2)).strftime("%Y-%m-%dT%H:%M:%S")
        f.write(json.dumps({"key": "a", "ts": ts, "v": 2.0}) + "\n")

    q2 = start()  # NEW query object, same checkpoint
    q2.processAllAvailable()
    q2.stop()

    rows = spark.read.parquet(sink).collect()
    assert [tuple(r["values"]) for r in rows] == [(1.0, 2.0)]


def test_stream_tumbling_gapfill_emits_empty_windows(spark, tmp_path):
    """Reference src/window.rs:71-84 live: crossing into a later
    window flushes the open one and emits n=0 rows for every silent
    window between — across microbatch boundaries (state carries)."""
    src = tmp_path / "gf_src"
    src.mkdir()

    def write_file(name, rows):
        with open(src / name, "w") as f:
            for k, s, v in rows:
                ts = (EPOCH + dt.timedelta(seconds=s)).strftime(
                    "%Y-%m-%dT%H:%M:%S"
                )
                f.write(json.dumps({"key": k, "ts": ts, "v": float(v)}) + "\n")

    write_file("b0.json", [("a", 0, 1.0), ("a", 1, 2.0), ("a", 10, 3.0)])
    stream = files.stream_files(spark, str(src), "json", SCHEMA)
    out = swindows.stream_tumbling_window_gapfill(stream, "key", "ts", 3, "v")
    q = writers.stream_to_memory(out, "gf_out", "append")
    q.processAllAvailable()
    # batch 2: next window over — flushes [9,12) with no gap rows
    write_file("b1.json", [("a", 13, 4.0)])
    q.processAllAvailable()
    q.stop()
    got = {
        int(r["window_start"].timestamp() - EPOCH.timestamp()):
            (r["n"], r["sum_value"])
        for r in spark.sql("select * from gf_out").collect()
    }
    # window [12,15) is still open → unemitted (reference emit-on-next)
    assert got == {
        0: (2, 3.0), 3: (0, 0.0), 6: (0, 0.0), 9: (1, 3.0),
    }


def test_stream_tumbling_gapfill_matches_batch(spark, tmp_path):
    """Live gap-fill output == batch tumbling_window(gap_fill=True)
    minus each key's final (still-open) window — the same transitive-
    oracle convention the stocks_streaming parity test uses."""
    from rstreams_spark.operators import windows as bwindows

    rows = [
        ("a", 0, 1.0), ("a", 2, 2.0), ("a", 11, 3.0), ("a", 19, 4.0),
        ("b", 4, 5.0), ("b", 17, 6.0),
        ("c", 1, 7.0),
    ]
    path = _write_batch(tmp_path, "gf_par", rows)
    stream = files.stream_files(spark, path, "json", SCHEMA)
    out = swindows.stream_tumbling_window_gapfill(stream, "key", "ts", 5, "v")
    q = writers.stream_to_memory(out, "gf_par_out", "append")
    _run(q)
    live = {
        (r["key"], int(r["window_start"].timestamp())): (r["n"], r["sum_value"])
        for r in spark.sql("select * from gf_par_out").collect()
    }

    batch_df = spark.createDataFrame(
        [
            (k, EPOCH + dt.timedelta(seconds=s), float(v))
            for k, s, v in rows
        ],
        "key string, ts timestamp, v double",
    )
    filled = bwindows.tumbling_window(
        batch_df, "key", "ts", "5 seconds",
        F.count("v").alias("n"), F.sum("v").alias("s"),
        gap_fill=True,
    )
    # drop each key's final window (live keeps it open), NULL-agg → 0
    from pyspark.sql import Window

    last = Window.partitionBy("key")
    batch = {
        (r["key"], int(r["window_start"].timestamp())):
            (r["n"] or 0, r["s"] or 0.0)
        for r in filled.withColumn(
            "__last", F.max("window_start").over(last)
        ).where(F.col("window_start") < F.col("__last")).collect()
    }
    assert live == batch and len(live) >= 6


def test_stream_hopping_gapfill_emits_empty_hops(spark, tmp_path):
    """Reference src/window.rs:147-163 live: hops the stream skipped
    emit n=0 rows; a window emits once a bucket ≥ w+k opens (its
    content is then frozen). size=4s hop=2s (k=2)."""
    src = tmp_path / "hgf_src"
    src.mkdir()

    def write_file(name, rows):
        with open(src / name, "w") as f:
            for kk, s, v in rows:
                tss = (EPOCH + dt.timedelta(seconds=s)).strftime(
                    "%Y-%m-%dT%H:%M:%S"
                )
                f.write(json.dumps({"key": kk, "ts": tss, "v": float(v)}) + "\n")

    # buckets (2s): 0→b0, 1→b0, 5→b2, 13→b6
    write_file("b0.json", [("a", 0, 1.0), ("a", 1, 2.0), ("a", 5, 4.0)])
    stream = files.stream_files(spark, str(src), "json", SCHEMA)
    out = swindows.stream_hopping_window_gapfill(stream, "key", "ts", 4, 2, "v")
    q = writers.stream_to_memory(out, "hgf_out", "append")
    q.processAllAvailable()
    write_file("b1.json", [("a", 13, 8.0)])
    q.processAllAvailable()
    q.stop()
    got = {
        int(r["window_start"].timestamp() - EPOCH.timestamp()):
            (r["n"], r["sum_value"])
        for r in spark.sql("select * from hgf_out").collect()
    }
    # grid starts at window index -1 (earliest window containing
    # bucket 0); windows through index 4 freeze once bucket 6 opens
    assert got[-2] == (2, 3.0)  # [-2,2): events at 0,1
    assert got[0] == (2, 3.0)   # [0,4): events at 0,1
    assert got[2] == (1, 4.0)   # [2,6): event at 5
    assert got[4] == (1, 4.0)   # [4,8): event at 5
    assert got[6] == (0, 0.0)   # [6,10): silent hop
    assert got[8] == (0, 0.0)   # [8,12): silent hop
    assert set(got) == {-2, 0, 2, 4, 6, 8}  # 10,12 still open


def test_stream_hopping_gapfill_matches_batch(spark, tmp_path):
    """Live hopping gap-fill == batch hopping_window(gap_fill=True)
    restricted to each key's frozen windows (w ≤ max_bucket − k)."""
    from rstreams_spark.operators import windows as bwindows

    rows = [
        ("a", 0, 1.0), ("a", 3, 2.0), ("a", 17, 3.0), ("a", 25, 4.0),
        ("b", 2, 5.0), ("b", 21, 6.0),
    ]
    path = _write_batch(tmp_path, "hgf_par", rows)
    stream = files.stream_files(spark, path, "json", SCHEMA)
    out = swindows.stream_hopping_window_gapfill(stream, "key", "ts", 6, 3, "v")
    q = writers.stream_to_memory(out, "hgf_par_out", "append")
    _run(q)
    live = {
        (r["key"], int(r["window_start"].timestamp())): (r["n"], r["sum_value"])
        for r in spark.sql("select * from hgf_par_out").collect()
    }

    batch_df = spark.createDataFrame(
        [(kk, EPOCH + dt.timedelta(seconds=s), float(v)) for kk, s, v in rows],
        "key string, ts timestamp, v double",
    )
    filled = bwindows.hopping_window(
        batch_df, "key", "ts", "6 seconds", "3 seconds",
        F.count("v").alias("n"), F.sum("v").alias("s"),
        gap_fill=True,
    )
    max_bucket = {"a": 25 // 3, "b": 21 // 3}
    k = 2
    batch = {}
    for r in filled.collect():
        w_idx = int(r["window_start"].timestamp() - EPOCH.timestamp()) // 3
        if w_idx <= max_bucket[r["key"]] - k:
            batch[(r["key"], int(r["window_start"].timestamp()))] = (
                r["n"] or 0, r["s"] or 0.0
            )
    assert live == batch and len(live) >= 10


def test_stream_session_window_matches_batch(spark, tmp_path):
    """Live session windows == the batch session_window operator on
    the same replay, minus each key's final (still-open) session —
    append mode emits a session once the watermark passes its end."""
    from rstreams_spark.operators.windows import session_window

    rows = [
        ("a", 0, 1.0), ("a", 2, 2.0), ("a", 3, 3.0),   # session [0, 8)
        ("a", 20, 4.0), ("a", 21, 5.0),                # session [20, 26)
        ("b", 1, 6.0),                                 # session [1, 6)
        ("a", 100, 9.0), ("b", 100, 9.0),              # open tails
    ]
    path = _write_batch(tmp_path, "sess", rows)
    stream = files.stream_files(spark, path, "json", SCHEMA)
    out = swindows.stream_session_window(
        stream, "key", "ts", "5 seconds",
        F.count("v").alias("n"), F.sum("v").alias("s"),
        watermark="0 seconds",
    )
    q = writers.stream_to_memory(out, "sess_out", "append")
    _run(q)
    live = {
        (r["key"], int(r["session_start"].timestamp()),
         int(r["session_end"].timestamp())): (r["n"], r["s"])
        for r in spark.sql("select * from sess_out").collect()
    }

    batch_df = spark.createDataFrame(
        [(kk, EPOCH + dt.timedelta(seconds=s), float(v)) for kk, s, v in rows],
        "key string, ts timestamp, v double",
    )
    bat = session_window(
        batch_df, "key", "ts", "5 seconds",
        F.count("v").alias("n"), F.sum("v").alias("s"),
    )
    from pyspark.sql import Window as W

    last = W.partitionBy("key")
    batch = {
        (r["key"], int(r["session_start"].timestamp()),
         int(r["session_end"].timestamp())): (r["n"], r["s"])
        for r in bat.withColumn(
            "__last", F.max("session_start").over(last)
        ).where(F.col("session_start") < F.col("__last")).collect()
    }
    assert live == batch and len(live) == 3


def test_rocksdb_state_store_restart_carries_state(spark, tmp_path):
    """Same restart contract as above but on the RocksDB state store
    provider (the disk-backed store you'd run at 100 TB key
    cardinalities; reference analog: the persistent redb Store,
    src/store.rs). Asserts the provider really engaged by reading
    RocksDB custom metrics from the query progress, then proves the
    per-key buffer survives a stop/restart through the RocksDB
    checkpoint."""
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    _write_batch(tmp_path, "src", [("a", 1, 1.0)])

    def start():
        stream = files.stream_files(spark, str(src), "json", SCHEMA)
        out = stateful.stream_lag_window(stream, "key", "ts", 2, "v")
        return (
            out.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    # the provider is fixed per query at start, from the session conf
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        q = start()
        q.processAllAvailable()
        progress = q.lastProgress
        q.stop()
        assert progress is not None
        metrics = progress["stateOperators"][0]["customMetrics"]
        assert any("rocksdb" in k.lower() for k in metrics), metrics

        with open(src / "part-1.json", "w") as f:
            ts = (EPOCH + dt.timedelta(seconds=2)).strftime("%Y-%m-%dT%H:%M:%S")
            f.write(json.dumps({"key": "a", "ts": ts, "v": 2.0}) + "\n")

        q2 = start()
        q2.processAllAvailable()
        q2.stop()
    finally:
        spark.conf.unset(provider_key)

    rows = spark.read.parquet(sink).collect()
    assert [tuple(r["values"]) for r in rows] == [(1.0, 2.0)]


def test_stream_hopping_window(spark, tmp_path):
    path = _write_batch(tmp_path, "hop", [("a", 0, 1), ("a", 1, 2), ("a", 5, 4)])
    stream = files.stream_files(spark, path, "json", SCHEMA)
    out = swindows.stream_hopping_window(
        stream, "key", "ts", "4 seconds", "2 seconds",
        F.sum("v").alias("s"), watermark="0 seconds",
    )
    q = writers.stream_to_memory(out, "hop_out", "complete")
    _run(q)
    got = {
        int(r["window_start"].timestamp() - EPOCH.timestamp()): r["s"]
        for r in spark.sql("select * from hop_out").collect()
    }
    # events at 0,1 → windows starting -2,0; event at 5 → windows 2,4
    assert got == {-2: 3.0, 0: 3.0, 2: 4.0, 4: 4.0}


def test_stream_budget_sample_matches_batch_on_hash_order_replay(spark, tmp_path):
    """Replaying the corpus in the batch twin's (hash, doc_id) order
    makes the live per-source budget gate admit EXACTLY the batch
    budget_sample keeper set with identical cum_before values — and
    state carries across microbatches (the second batch's docs see
    the first batch's accumulated budget)."""
    import json as _json

    from conftest import SF_SMOKE
    from pyspark.sql import functions as F
    from rstreams_spark.functions.text import hash64
    from rstreams_spark.queries._util import t
    from rstreams_spark.queries.textq import (
        BUDGET_SALT, TOKEN_BUDGET, _ws_tokens, budget_sample,
    )
    from rstreams_spark.streaming.curation import stream_budget_sample

    base = t(spark, SF_SMOKE, "documents").select(
        "doc_id", "source",
        F.size(_ws_tokens()).cast("long").alias("n_tokens"),
        hash64(F.col("doc_id").cast("string"), salt=BUDGET_SALT).alias("h"),
    )
    rows = sorted(base.collect(), key=lambda r: (r["h"], r["doc_id"]))
    # hash order becomes event-time order; split into two microbatch
    # files so the budget state must survive a batch boundary
    src = tmp_path / "budget_src"
    src.mkdir()
    import os as _os
    import time as _time

    half = len(rows) // 2
    now = _time.time()
    for bi, part in enumerate((rows[:half], rows[half:])):
        fp = src / f"b{bi}.json"
        with open(fp, "w") as f:
            for i, r in enumerate(part):
                f.write(_json.dumps({
                    "doc_id": r["doc_id"], "source": r["source"],
                    "n_tokens": r["n_tokens"],
                    "ts": (bi * len(rows) + i) * 1000,
                }) + "\n")
        # FileStreamSource orders new files by mtime with no path
        # tie-break; back-to-back writes can land in one millisecond
        # and flip batch order — pin distinct mtimes explicitly
        _os.utime(fp, (now + bi, now + bi))
    stream = spark.readStream.schema(
        "doc_id bigint, source string, n_tokens bigint, ts bigint"
    ).option("maxFilesPerTrigger", 1).json(str(src))
    q = (
        stream_budget_sample(stream, TOKEN_BUDGET)
        .writeStream.format("memory").queryName("budget_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "budget_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    live = {
        r["doc_id"]: (r["source"], r["n_tokens"], r["cum_before"])
        for r in spark.sql("select * from budget_out").collect()
    }
    batch = {
        r["doc_id"]: (r["source"], r["n_tokens"], r["cum_before"])
        for r in budget_sample(spark, SF_SMOKE).collect()
    }
    assert live == batch


def test_stream_decontaminate_ngrams_matches_batch(spark, tmp_path):
    """The live ingest gate keeps exactly the documents the batch
    decontaminate_ngrams query does NOT flag (same n, same train
    side), proving the Python gram mirror is normalization-identical
    to the oracle-verified Spark path."""
    import json as _json

    from conftest import SF_SMOKE
    from pyspark.sql import functions as F
    from rstreams_spark.queries._util import t
    from rstreams_spark.queries.dedupq import (
        DECON_EVAL_SOURCE, DECON_N, decontaminate_ngrams,
    )
    from rstreams_spark.streaming.curation import (
        eval_gram_broadcast, stream_decontaminate_ngrams,
    )

    docs = t(spark, SF_SMOKE, "documents")
    ev = docs.where(F.col("source") == DECON_EVAL_SOURCE)
    bc = eval_gram_broadcast(spark, ev, n=DECON_N)

    train = docs.where(F.col("source") != DECON_EVAL_SOURCE)
    src = tmp_path / "decon_src"
    src.mkdir()
    with open(src / "b0.json", "w") as f:
        for r in train.select("doc_id", "text").collect():
            f.write(_json.dumps({"doc_id": r["doc_id"], "text": r["text"]}) + "\n")
    stream = spark.readStream.schema("doc_id bigint, text string").json(str(src))
    q = (
        stream_decontaminate_ngrams(stream, bc)
        .writeStream.format("memory").queryName("decon_out")
        .outputMode("append").start()
    )
    q.processAllAvailable()
    q.stop()
    live_kept = {r["doc_id"] for r in spark.sql("select doc_id from decon_out").collect()}
    flagged = {r["doc_id"] for r in decontaminate_ngrams(spark, SF_SMOKE).collect()}
    all_train = {r["doc_id"] for r in train.select("doc_id").collect()}
    assert live_kept == all_train - flagged
    assert flagged  # non-vacuous: the corpus really has contamination


def test_stream_decontaminate_native_matches_exact_gate(spark, tmp_path):
    """The r6 JVM-native gate (in-plan xxhash64 InSet membership —
    no Python per row) keeps EXACTLY the same documents as the
    per-row Python exact gate and the batch oracle, and its plan is
    genuinely native: a stateless filter projection with no
    PythonMapInArrow/mapInPandas node and no exchange."""
    import json as _json

    from conftest import SF_SMOKE
    from pyspark.sql import functions as F
    from rstreams_spark import plans
    from rstreams_spark.queries._util import t
    from rstreams_spark.queries.dedupq import (
        DECON_EVAL_SOURCE, DECON_N, decontaminate_ngrams,
    )
    from rstreams_spark.streaming.curation import (
        eval_gram_hashes, stream_decontaminate_ngrams_native,
    )

    docs = t(spark, SF_SMOKE, "documents")
    ev = docs.where(F.col("source") == DECON_EVAL_SOURCE)
    gram_set = eval_gram_hashes(spark, ev, n=DECON_N)
    n_gram, hashes = gram_set
    assert n_gram == DECON_N
    assert hashes == sorted(hashes) and len(hashes) == len(set(hashes))

    train = docs.where(F.col("source") != DECON_EVAL_SOURCE)

    # batch-mode plan check: the gate is a pure native filter
    gated_batch = stream_decontaminate_ngrams_native(
        train.select("doc_id", "text"), gram_set
    )
    txt = plans.explain_str(gated_batch)
    assert "mapInPandas" not in txt and "MapInArrow" not in txt
    assert "Exchange" not in txt  # pipelines with the scan

    # live parity: same keeper set as the batch oracle query
    src = tmp_path / "decon_native_src"
    src.mkdir()
    with open(src / "b0.json", "w") as f:
        for r in train.select("doc_id", "text").collect():
            f.write(_json.dumps({"doc_id": r["doc_id"], "text": r["text"]}) + "\n")
    stream = spark.readStream.schema("doc_id bigint, text string").json(str(src))
    q = (
        stream_decontaminate_ngrams_native(stream, gram_set)
        .writeStream.format("memory").queryName("decon_native_out")
        .outputMode("append").start()
    )
    q.processAllAvailable()
    q.stop()
    live_kept = {
        r["doc_id"]
        for r in spark.sql("select doc_id from decon_native_out").collect()
    }
    flagged = {r["doc_id"] for r in decontaminate_ngrams(spark, SF_SMOKE).collect()}
    all_train = {r["doc_id"] for r in train.select("doc_id").collect()}
    assert live_kept == all_train - flagged
    assert flagged


def test_stream_decontaminate_bloom_gate(spark, tmp_path):
    """The Bloom-probed gate (one packed-long array literal + k
    native getbit probes — O(1) per-microbatch planning) must drop a
    SUPERSET of the exact gate's drops (no false negatives by
    construction), stay within a tiny false-positive margin on the
    fixture, run as a pure native filter (no Python node, no
    exchange), and behave identically live and in batch."""
    import json as _json

    from conftest import SF_SMOKE
    from pyspark.sql import functions as F
    from rstreams_spark import plans
    from rstreams_spark.queries._util import t
    from rstreams_spark.queries.dedupq import DECON_EVAL_SOURCE, DECON_N
    from rstreams_spark.streaming.curation import (
        eval_gram_bloom, eval_gram_hashes,
        stream_decontaminate_ngrams_bloom,
        stream_decontaminate_ngrams_native,
    )

    docs = t(spark, SF_SMOKE, "documents")
    ev = docs.where(F.col("source") == DECON_EVAL_SOURCE)
    bloom = eval_gram_bloom(spark, ev, n=DECON_N)
    n_b, k_b, m_b, words = bloom
    assert n_b == DECON_N and m_b == 64 * len(words)
    assert (m_b & (m_b - 1)) == 0  # power of two
    assert any(words)              # bits actually set

    train = docs.where(F.col("source") != DECON_EVAL_SOURCE).select(
        "doc_id", "text"
    )
    gated = stream_decontaminate_ngrams_bloom(train, bloom)
    txt = plans.explain_str(gated)
    assert "mapInPandas" not in txt and "MapInArrow" not in txt
    assert "Exchange" not in txt  # pipelines with the scan

    bloom_kept = {r["doc_id"] for r in gated.collect()}
    exact_kept = {
        r["doc_id"]
        for r in stream_decontaminate_ngrams_native(
            train, eval_gram_hashes(spark, ev, n=DECON_N)
        ).collect()
    }
    # no false negatives: everything the exact gate drops, bloom drops
    assert bloom_kept <= exact_kept
    # false positives bounded: ≤1% of the exact keepers on the fixture
    assert len(exact_kept - bloom_kept) <= max(1, len(exact_kept) // 100)

    # live parity with the batch evaluation of the same gate
    src = tmp_path / "decon_bloom_src"
    src.mkdir()
    with open(src / "b0.json", "w") as f:
        for r in train.collect():
            f.write(_json.dumps({"doc_id": r["doc_id"], "text": r["text"]}) + "\n")
    stream = spark.readStream.schema("doc_id bigint, text string").json(str(src))
    q = (
        stream_decontaminate_ngrams_bloom(stream, bloom)
        .writeStream.format("memory").queryName("decon_bloom_out")
        .outputMode("append").start()
    )
    q.processAllAvailable()
    q.stop()
    live_kept = {
        r["doc_id"]
        for r in spark.sql("select doc_id from decon_bloom_out").collect()
    }
    assert live_kept == bloom_kept


@pytest.mark.parametrize("with_fps", [False, True])
def test_stream_dedup_minhash_matches_batch_fuzzy(spark, tmp_path, with_fps):
    """Ingest-time near-dup suppression (foreachBatch vs a batch-built
    LSH index) must drop EXACTLY the documents the oracle-verified
    batch machinery (fuzzy_contaminated) flags against the same index
    at the same tau — identical shingles, permutation family, band
    keys, bucket cap and verify algebra. Exact copies of index docs
    (jaccard 1.0) make the check non-vacuous.

    Parametrized over the exact-fingerprint PRE-GATE (r11): with
    ``index_fps`` the exact copies short-circuit before the signature
    pipeline, and the kept set must be bit-identical to the
    fingerprint-less path (a fingerprint match on a shingle-bearing
    doc is jaccard 1.0 by construction).

    The corpus includes an OVER-CAP boilerplate family (r12, advice
    fix): ``LSH_BUCKET_CAP + 12`` exact copies of one text in the
    index lose ALL band rows to the bucket cap, so the capped gate
    KEEPS an arriving exact copy — index_fps (built from the post-cap
    band table) must keep it too, on both parametrizations."""
    import json as _json

    from conftest import SF_SMOKE
    from pyspark.sql import functions as F
    from rstreams_spark.functions.dedup import LSH_BUCKET_CAP
    from rstreams_spark.queries._util import t
    from rstreams_spark.queries.dedupq import fuzzy_contaminated
    from rstreams_spark.streaming.dedup import (
        MINHASH_DEDUP_TAU, minhash_index, minhash_index_fps,
        stream_dedup_minhash,
    )

    docs = t(spark, SF_SMOKE, "documents").select("doc_id", "text")
    base_index = docs.where(F.col("doc_id") % 3 == 0)
    boiler_text = "verbatim boilerplate footer repeated across the lake"
    boiler = spark.range(LSH_BUCKET_CAP + 12).select(
        (F.lit(900000) + F.col("id")).alias("doc_id"),
        F.lit(boiler_text).alias("text"),
    )
    index_docs = base_index.unionByName(boiler)
    # arriving stream = every doc, ids shifted so the index overlap
    # becomes a guaranteed jaccard-1.0 near-dup (not an id collision)
    # — plus ONE exact copy of the over-cap boilerplate text, which
    # the capped gate must KEEP (its index twin has no band rows)
    arriving = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    ).unionByName(
        spark.createDataFrame(
            [(990001, boiler_text)], "doc_id bigint, text string"
        )
    )

    index_bands, index_sets = minhash_index(index_docs)
    index_bands = index_bands.localCheckpoint()  # freeze the static side
    index_sets = index_sets.localCheckpoint()
    index_fps = (
        minhash_index_fps(
            index_docs, index_bands=index_bands
        ).localCheckpoint()
        if with_fps
        else None
    )

    src = tmp_path / "minhash_dedup_src"
    src.mkdir()
    rows = arriving.collect()
    with open(src / "b0.json", "w") as f:
        for r in rows[: len(rows) // 2]:
            f.write(_json.dumps({"doc_id": r["doc_id"], "text": r["text"]}) + "\n")
    with open(src / "b1.json", "w") as f:
        for r in rows[len(rows) // 2 :]:
            f.write(_json.dumps({"doc_id": r["doc_id"], "text": r["text"]}) + "\n")
    stream = spark.readStream.schema("doc_id bigint, text string").option(
        "maxFilesPerTrigger", 1
    ).json(str(src))

    kept_rows = []
    q = stream_dedup_minhash(
        stream, index_bands, index_sets,
        sink=lambda df, epoch: kept_rows.extend(
            r["doc_id"] for r in df.select("doc_id").collect()
        ),
        index_fps=index_fps,
    ).start()
    q.processAllAvailable()
    q.stop()

    corpus = arriving.unionByName(index_docs)
    flagged = {
        r["doc_id"]
        for r in fuzzy_contaminated(
            corpus, index_docs.select("doc_id"), tau=MINHASH_DEDUP_TAU
        ).collect()
    }
    all_ids = {r["doc_id"] for r in rows}
    assert set(kept_rows) == all_ids - flagged
    # every BASE index doc's shifted copy is a jaccard-1.0 dup — dropped
    index_ids = {r["doc_id"] + 100000 for r in base_index.collect()}
    assert index_ids <= flagged
    # the over-cap boilerplate copy survives BOTH paths: its index
    # twins have zero post-cap band rows (no candidate forms) and the
    # fps pre-gate excludes their fingerprint for exactly that reason
    assert 990001 in set(kept_rows)
    assert len(kept_rows) == len(set(kept_rows))  # no doc emitted twice


def test_stream_dedup_embedding_matches_jvm_model(spark, tmp_path):
    """Semantic ingest gate parity: the foreachBatch gate (Arrow
    argmin assignment + in-cell hoisted-norm cosine) must keep
    exactly the vectors an independent JVM-path model keeps (the
    same cosine algebra as a JVM join over cells) at the same tau,
    and exact copies of index vectors (cosine 1.0) must always be
    dropped. The model's cells come from ``ivf_assign_np``, pinned
    per vector against the DuckDB oracle in
    tests/test_skew_similarity.py::test_flat_cells_match_oracle."""
    import json as _json

    from conftest import SF_SMOKE
    from pyspark.sql import functions as F
    from rstreams_spark.functions.similarity import dot, l2_norm
    from rstreams_spark.queries._util import t
    from rstreams_spark.queries.dedupq import COSINE_TAU, ivf_assign_np
    from rstreams_spark.streaming.dedup import (
        embedding_index, stream_dedup_embedding,
    )

    vecs = t(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    index_src = vecs.where(F.col("vec_id") % 3 == 0)
    arriving = vecs.select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )

    cents, indexed = embedding_index(index_src)
    cents = cents.localCheckpoint()
    indexed = indexed.localCheckpoint()

    src = tmp_path / "emb_dedup_src"
    src.mkdir()
    rows = arriving.collect()
    half = len(rows) // 2
    for name, chunk in (("b0.json", rows[:half]), ("b1.json", rows[half:])):
        with open(src / name, "w") as f:
            for r in chunk:
                f.write(_json.dumps(
                    {"vec_id": r["vec_id"], "embedding": list(r["embedding"])}
                ) + "\n")
    stream = spark.readStream.schema(
        "vec_id bigint, embedding array<float>"
    ).option("maxFilesPerTrigger", 1).json(str(src))

    kept = []
    q = stream_dedup_embedding(
        stream, cents, indexed,
        sink=lambda df, epoch: kept.extend(
            r["vec_id"] for r in df.select("vec_id").collect()
        ),
    ).start()
    q.processAllAvailable()
    q.stop()

    # independent JVM-path model: oracle-pinned cells + a JVM join
    # with the same cosine algebra
    model_assigned = ivf_assign_np(arriving, cents).withColumn(
        "v_norm", l2_norm(F.col("embedding"))
    )
    cos = dot(F.col("embedding"), F.col("index_emb")) / (
        F.col("v_norm") * F.col("index_norm")
    )
    model_dropped = {
        r["vec_id"]
        for r in model_assigned.join(indexed, "cell")
        .where(cos >= COSINE_TAU)
        .select("vec_id")
        .distinct()
        .collect()
    }
    all_ids = {r["vec_id"] for r in rows}
    assert set(kept) == all_ids - model_dropped
    # shifted copies of index vectors are cosine-1.0 dups
    index_copy_ids = {r["vec_id"] + 100000 for r in index_src.collect()}
    assert index_copy_ids <= model_dropped
    assert len(kept) == len(set(kept))


def test_stream_dedup_exact_against_corpus(spark, tmp_path):
    """Live incremental exact dedup: fingerprints already in the seen
    table never land (stream-static anti-join), first arrival wins
    within the stream, and the kept set equals the batch
    incremental_dedup_exact model under arrival order."""
    import json as _json

    from pyspark.sql import functions as F
    from rstreams_spark.functions.text import md5_fingerprint
    from rstreams_spark.streaming.dedup import stream_dedup_exact_against

    corpus = spark.createDataFrame(
        [(100, "seen one"), (101, "seen two")], "doc_id bigint, text string"
    )
    seen_fps = corpus.select(
        md5_fingerprint(F.col("text")).alias("fp")
    ).distinct().localCheckpoint()

    arriving = [
        (1, "seen one"),     # in corpus -> dropped
        (2, "fresh alpha"),  # kept
        (3, "fresh alpha"),  # within-stream dup of 2 -> dropped
        (4, "Seen  TWO"),    # normalizes to corpus fp -> dropped
        (5, "fresh beta"),   # kept
    ]
    src = tmp_path / "inc_dedup_src"
    src.mkdir()
    with open(src / "b0.json", "w") as f:
        for i, t in arriving[:3]:
            f.write(_json.dumps({"doc_id": i, "text": t, "ts": "2024-01-01T00:00:00"}) + "\n")
    with open(src / "b1.json", "w") as f:
        for i, t in arriving[3:]:
            f.write(_json.dumps({"doc_id": i, "text": t, "ts": "2024-01-01T00:00:05"}) + "\n")
    stream = spark.readStream.schema(
        "doc_id bigint, text string, ts timestamp"
    ).option("maxFilesPerTrigger", 1).json(str(src))

    out = stream_dedup_exact_against(stream, seen_fps, "text", "ts")
    q = (
        out.writeStream.format("memory").queryName("inc_dedup_out")
        .outputMode("append").start()
    )
    q.processAllAvailable()
    q.stop()
    kept = sorted(
        r["doc_id"] for r in spark.sql("select doc_id from inc_dedup_out").collect()
    )
    assert kept == [2, 5]


def test_stream_lag_window_null_values_fail_actionably(spark, tmp_path):
    """NULL values cannot cross applyInPandasWithState array output
    (probed: Spark's Arrow decoder rejects NULL array elements), so
    the live lag buffer's batch-parity NULL semantics are
    unreachable — the kernel must fail with the contract message,
    not a JVM decode crash. NULL KEYS are fine (own group)."""
    from pyspark.sql import functions as F

    from rstreams_spark.streaming.stateful import stream_lag_window

    df = spark.createDataFrame(
        [(1, "2020-01-01 00:00:00", 1.0),
         (1, "2020-01-01 00:00:10", None),
         (1, "2020-01-01 00:00:20", 3.0)],
        "user_id bigint, ts string, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "in")
    df.write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(df.schema).parquet(src)
    out = stream_lag_window(sdf, "user_id", "ts", 2, "v")
    q = (
        out.writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck")).start()
    )
    try:
        with pytest.raises(Exception, match="NULL or NaN values"):
            q.processAllAvailable()
    finally:
        q.stop()


def test_stream_lag_window_nan_values_fail_same_guard(spark, tmp_path):
    """A legitimate NaN double (which the BATCH twin happily buffers)
    rides the same guard: pandas stores SQL NULL as NaN in float
    columns, so isna() cannot tell the two apart at this layer — the
    documented contract is that BOTH are rejected with the same
    actionable message (ADVICE r6)."""
    from pyspark.sql import functions as F

    from rstreams_spark.streaming.stateful import stream_lag_window

    df = spark.createDataFrame(
        [(1, "2020-01-01 00:00:00", 1.0),
         (1, "2020-01-01 00:00:10", float("nan")),
         (1, "2020-01-01 00:00:20", 3.0)],
        "user_id bigint, ts string, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "in")
    df.write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(df.schema).parquet(src)
    out = stream_lag_window(sdf, "user_id", "ts", 2, "v")
    q = (
        out.writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck")).start()
    )
    try:
        with pytest.raises(Exception, match="NULL or NaN values"):
            q.processAllAvailable()
    finally:
        q.stop()


def test_stream_lag_window_null_key_forms_own_group(spark, tmp_path):
    """NULL keys form their own group. Key 2 adds a NULL event time,
    which sorts last in its group and comes out as a NULL ``ts``, and
    full-microsecond times, which round-trip exactly under a non-UTC
    session zone."""
    from pyspark.sql import functions as F

    from rstreams_spark.streaming.stateful import stream_lag_window

    df = spark.createDataFrame(
        [(None, 1577836830000000, 4.0),
         (None, 1577836840000000, 5.0),
         (1, 1577836850000000, 6.0),
         (1, 1577836860000000, 7.0),
         (2, None, 3.0),
         (2, 1700000000654321, 2.0),
         (2, 1700000000123456, 1.0)],
        "user_id bigint, us bigint, v double",
    ).select("user_id", F.timestamp_micros("us").alias("ts"), "v")
    src = str(tmp_path / "in")
    df.write.mode("overwrite").parquet(src)
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        sdf = spark.readStream.schema(df.schema).parquet(src)
        out = stream_lag_window(sdf, "user_id", "ts", 2, "v")
        q = (
            out.writeStream.format("memory").queryName("nullkey_probe")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck")).start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        rows = {
            (r["user_id"], r["us"], tuple(r["values"]))
            for r in spark.sql(
                "select user_id, unix_micros(ts) as us, values from nullkey_probe"
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    assert rows == {
        (None, 1577836840000000, (4.0, 5.0)),
        (1, 1577836860000000, (6.0, 7.0)),
        (2, 1700000000654321, (1.0, 2.0)),
        (2, None, (2.0, 3.0)),
    }


def test_stream_sanitize_measures_drop_and_fail(spark):
    """The ingest measure gate enforces the batch engine's micros
    domain (invariant 19) at the stream edge: drop mode thins
    NaN/Inf/huge junk (NULLs pass), fail mode raises the batch
    guard's message naming the column — and the plan is a stateless
    codegen filter, legal on a readStream source."""
    import pytest as _pt

    from rstreams_spark.streaming.curation import stream_sanitize_measures

    rows = [
        (1, 10.5), (2, None), (3, float("nan")),
        (4, float("inf")), (5, -1e15), (6, 999999999.99),
    ]
    df = spark.createDataFrame(rows, "event_id long, value double")
    kept = {
        r["event_id"]
        for r in stream_sanitize_measures(df, "value").collect()
    }
    assert kept == {1, 2, 6}  # NULL passes; NaN/Inf/1e15 drop; <1e9 keeps

    with _pt.raises(Exception, match="exact micros-sum domain.*value"):
        stream_sanitize_measures(df, ["value"], mode="fail").collect()

    clean = df.where("event_id in (1, 2, 6)")
    assert stream_sanitize_measures(
        clean, "value", mode="fail"
    ).count() == 3

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("value as event_id", "cast(value as double) as value")
    )
    out = stream_sanitize_measures(stream, "value")
    assert out.isStreaming


# --- state partitions: get_spark sizes spark.sql.shuffle.partitions
# to the executor slots; a checkpoint pins the count it started with.
# The fixture session passes shuffle_partitions=8, so these vary the
# count in sibling sessions and check the default in a fresh process.


def test_checkpoint_keeps_state_partition_count(spark, tmp_path):
    """Start stream_lag_window at 3 state partitions, run two triggers,
    stop it, and restart it from the same checkpoint in a session set
    to 5: the query stays at 3, and the per-key buffers carry over with
    no lost or duplicated pair. 300 more keys cover all 64 key groups,
    so both runs end with one state row per key group."""
    src = tmp_path / "src"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    many = [f"k{i:04d}" for i in range(300)]
    groups = spark.createDataFrame([(k,) for k in many], "key string").select(
        F.pmod(F.hash("key"), F.lit(stateful.KEY_GROUPS))
    )
    assert groups.distinct().count() == stateful.KEY_GROUPS
    ids = {k: i for i, k in enumerate([*"abcdef", *many])}
    v = lambda k, s: ids[k] * 10 + s  # noqa: E731
    runs = [
        (3, [
            [(k, s) for k in "abcde" for s in (0, 1)] + [(k, 0) for k in many],
            [(k, 1) for k in many[::2]],
        ]),
        (5, [[(k, s) for k in ids for s in (2, 3)]]),
    ]
    files_in = iter(range(3))
    counts, state_rows = [], []
    for parts, (first, *more) in runs:
        sess = spark.newSession()
        sess.conf.set(SHUFFLE_PARTITIONS, str(parts))
        # each run's first file lands while no query runs
        _append_events(src, f"part-{next(files_in)}.json", first, v)
        stream = files.stream_files(sess, str(src), "json", SCHEMA)
        q = writers.stream_to_parquet(
            stateful.stream_lag_window(stream, "key", "ts", 2, "v"), out, ckpt
        )
        try:
            q.processAllAvailable()
            for rows in more:
                _append_events(src, f"part-{next(files_in)}.json", rows, v)
                q.processAllAvailable()
            counts.append(
                {p["stateOperators"][0]["numShufflePartitions"] for p in q.recentProgress}
            )
            state_rows.append(q.lastProgress["stateOperators"][0]["numRowsTotal"])
        finally:
            q.stop()
    assert counts == [{3}, {3}]
    assert state_rows == [stateful.KEY_GROUPS] * 2
    got = sorted(
        (r["key"], int(r["ts"].timestamp() - EPOCH.timestamp()), tuple(r["values"]))
        for r in spark.read.parquet(out).collect()
    )
    ticks = [
        (k, s, float(v(k, s)))
        for _, triggers in runs for rows in triggers for k, s in rows
    ]
    assert got == _lag_pairs(ticks)


_DEFAULT_PROBE = textwrap.dedent("""
    import json, sys
    sys.path.insert(0, sys.argv[1])
    from rstreams_spark.session import SHUFFLE_PARTITIONS, get_spark
    from rstreams_spark.sinks import writers
    from rstreams_spark.sources import files
    from rstreams_spark.streaming import stateful

    spark = get_spark("state-partitions-probe")
    res = {"slots": spark.sparkContext.defaultParallelism,
           "conf": spark.conf.get(SHUFFLE_PARTITIONS)}
    stream = files.stream_files(spark, sys.argv[2], "json", "key string, ts timestamp, v double")
    q = writers.stream_to_memory(
        stateful.stream_latest_per_key(stream, "key", "ts", "v"), "latest", "update")
    q.processAllAvailable()
    res["state"] = q.lastProgress["stateOperators"][0]["numShufflePartitions"]
    q.stop()
    res["arg"] = get_spark(shuffle_partitions=3).conf.get(SHUFFLE_PARTITIONS)
    res["extra"] = get_spark(
        shuffle_partitions=3, extra_conf={SHUFFLE_PARTITIONS: "5"}
    ).conf.get(SHUFFLE_PARTITIONS)
    print(json.dumps(res))
""")


def test_default_state_partitions_follow_slots(tmp_path):
    """Under the shipped default a stateful query runs one state
    partition per executor slot; an explicit ``shuffle_partitions``
    overrides it and an ``extra_conf`` entry overrides both. A fresh
    process on ``local[2]``, so the shared session stays as it is."""
    src = tmp_path / "src"
    src.mkdir()
    _append_events(src, "part-0.json", [("a", 0), ("b", 1), ("a", 2)])
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    p = subprocess.run(
        [sys.executable, "-c", _DEFAULT_PROBE, str(_ROOT), str(src)],
        capture_output=True, text=True, env=env, cwd=tmp_path, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res == {"slots": 2, "conf": "2", "state": 2, "arg": "3", "extra": "5"}
