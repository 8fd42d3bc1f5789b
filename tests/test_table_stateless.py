"""Changelog table + stateless combinators (reference src/table.rs
mod test, tokio-stream StreamExt surface)."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from rstreams_spark.model import RStream
from rstreams_spark.operators import stateless, table


def _changelog(spark):
    # reference table.rs test vector (src/table.rs:50-103): arrival
    # order becomes the seq column
    rows = [
        ("a", 0), ("a", 1), ("a", 2), ("a", 3),
        ("b", 0), ("b", 1), ("b", 2), ("b", 3),
        ("a", 4), ("c", 0), ("c", 1), ("c", 2),
        ("d", 0), ("c", 3), ("c", 4),
    ]
    return spark.createDataFrame(
        [Row(key=k, seq=i, v=v) for i, (k, v) in enumerate(rows)]
    )


def test_latest_per_key_reference_vector(spark):
    got = table.latest_per_key(_changelog(spark), "key", "seq", ["v"])
    vals = {r["key"]: r["v"] for r in got.collect()}
    assert vals == {"a": 4, "b": 3, "c": 4, "d": 0}


def test_latest_per_key_tiebreakers(spark):
    df = _changelog(spark).withColumn("seq", F.lit(0))
    got = table.latest_per_key(df, "key", "seq", ["v"], tiebreakers=["v"])
    assert {r["key"]: r["v"] for r in got.collect()} == {
        "a": 4, "b": 3, "c": 4, "d": 0
    }


def test_chunk(spark):
    df = spark.range(10).withColumnRenamed("id", "n")
    got = stateless.chunk(df, 4, order_by=["n"])
    chunks = {}
    for r in got.collect():
        chunks.setdefault(r["__chunk"], []).append(r["n"])
    assert {k: sorted(v) for k, v in chunks.items()} == {
        0: [0, 1, 2, 3], 1: [4, 5, 6, 7], 2: [8, 9]
    }


def test_chunk_timeout_count_and_gap_splits(spark):
    """chunks_timeout parity: a chunk closes at `size` rows OR a
    silence gap — both causes in one vector. Events at t=0..4 (5
    rows, size 3 → count split after 3), then silence to t=100
    (gap split), then 2 more."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    secs = [0, 1, 2, 3, 4, 100, 101]
    df = spark.createDataFrame(
        [Row(ts=base + dt.timedelta(seconds=s), n=i)
         for i, s in enumerate(secs)]
    )
    got = stateless.chunk_timeout(
        df, 3, 10, "ts", order_by=["ts", "n"]
    )
    groups = {}
    for r in got.collect():
        groups.setdefault((r["__session"], r["__chunk"]), []).append(r["n"])
    assert {k: sorted(v) for k, v in groups.items()} == {
        (0, 0): [0, 1, 2],   # count split
        (0, 1): [3, 4],
        (1, 0): [5, 6],      # gap split opens a new session
    }


def test_chunk_timeout_partitioned(spark):
    """Per-key sharding: sessions/chunks are computed independently
    per key (the 100 TB shape — no global order)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [("a", 0, 0), ("a", 1, 1), ("b", 0, 2), ("b", 50, 3)]
    df = spark.createDataFrame(
        [Row(key=k, ts=base + dt.timedelta(seconds=s), n=i)
         for k, s, i in rows]
    )
    got = stateless.chunk_timeout(
        df, 10, 10, "ts", order_by=["ts", "n"], partition_by=["key"]
    )
    out = {(r["key"], r["__session"], r["__chunk"], r["n"])
           for r in got.collect()}
    assert out == {
        ("a", 0, 0, 0), ("a", 0, 0, 1), ("b", 0, 0, 2), ("b", 1, 0, 3),
    }


def test_global_ordinal_and_chunk_timeout_cross_shard(spark):
    """The distributed global forms must equal the sequential
    definition on data that spans MANY range shards (200 rows over
    8 range shards → every shard boundary is exercised; a sibling
    session turns AQE partition coalescing off, which would merge
    200 rows into one shard): ordinal = sorted position, sessions
    split exactly at >gap silences, chunks every `size` rows within
    a session."""
    import datetime as dt

    import random

    sub = spark.newSession()
    sub.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    sub.conf.set("spark.sql.shuffle.partitions", "8")

    rnd = random.Random(7)
    base = dt.datetime(2024, 1, 1)
    secs, cur = [], 0
    for _ in range(200):
        cur += rnd.choice([1, 2, 3, 30])  # ~25% of steps open a session
        secs.append(cur)
    df = sub.createDataFrame(
        [Row(ts=base + dt.timedelta(seconds=s), n=i) for i, s in enumerate(secs)]
    )
    shards = df.repartitionByRange("ts", "n").select(F.spark_partition_id())
    assert shards.distinct().count() == 8
    got_ord = {
        r["n"]: r["__ord"]
        for r in stateless.ordinal(df, ["ts", "n"]).collect()
    }
    assert got_ord == {i: i for i in range(200)}  # secs increase with i

    got = {
        r["n"]: (r["__session"], r["__chunk"])
        for r in stateless.chunk_timeout(
            df, 7, 10, "ts", order_by=["ts", "n"]
        ).collect()
    }
    sess = chunk_pos = 0
    for i, s in enumerate(secs):
        if i and s - secs[i - 1] > 10:
            sess, chunk_pos = sess + 1, 0
        assert got[i] == (sess, chunk_pos // 7), f"row {i}"
        chunk_pos += 1


def test_throttle_sample_deterministic(spark):
    df = spark.range(1000).withColumnRenamed("id", "k")
    a = sorted(r["k"] for r in stateless.throttle_sample(df, 10, "k").collect())
    b = sorted(r["k"] for r in stateless.throttle_sample(df, 10, "k").collect())
    assert a == b and 0 < len(a) < 1000


def test_cycle_index(spark):
    df = spark.range(6).withColumnRenamed("id", "n")
    got = stateless.cycle_index(df, 3, order_by=["n"])
    assert {(r["n"], r["__cycle"]) for r in got.collect()} == {
        (0, 0), (1, 1), (2, 2), (3, 0), (4, 1), (5, 2)
    }


def test_rstream_fluent_chain(spark):
    df = spark.createDataFrame(
        [Row(key="a", ts=i, v=float(i)) for i in range(5)]
        + [Row(key="b", ts=i, v=float(10 * i)) for i in range(3)]
    )
    s = RStream(df, key="key", ts="ts")
    out = (
        s.filter(F.col("v") >= 1)
        .with_column("v2", F.col("v") * 2)
        .fold(F.sum("v2").alias("total"), by=["key"])
    )
    assert {r["key"]: r["total"] for r in out.collect()} == {
        "a": 20.0, "b": 60.0
    }


def test_rstream_split_merge(spark):
    df = spark.createDataFrame([Row(key=str(i), v=i) for i in range(10)])
    s = RStream(df, key="key")
    evens, odds = s.split(F.col("v") % 2 == 0, F.col("v") % 2 == 1)
    merged = evens.merge(odds)
    assert merged.df.count() == 10
    assert evens.df.count() == 5


def test_rstream_while_chain_zip_flatmap(spark):
    """The remaining StreamExt combinators: take_while/skip_while cut
    at the FIRST failing row (later matches don't resurrect),
    chain orders one stream after another, zip pairs i-th rows and
    ends at the shorter stream, flat_map explodes."""
    vals = [1, 2, 3, 0, 5, 6]  # cond v>0 fails at ordinal 3 only
    df = spark.createDataFrame([Row(ts=i, v=vals[i]) for i in range(6)])
    s = RStream(df, key="v", ts="ts")
    tw = sorted(r["v"] for r in s.take_while(F.col("v") > 0, ["ts"]).df.collect())
    assert tw == [1, 2, 3]
    sw = sorted(r["v"] for r in s.skip_while(F.col("v") > 0, ["ts"]).df.collect())
    assert sw == [0, 5, 6]
    # all-pass prefix: take_while keeps everything, skip_while drops all
    assert s.take_while(F.col("v") >= 0, ["ts"]).df.count() == 6
    assert s.skip_while(F.col("v") >= 0, ["ts"]).df.count() == 0

    other = RStream(
        spark.createDataFrame([Row(ts=i, v=100 + i) for i in range(3)]), key="v"
    )
    chained = s.chain(other)
    got = [
        r["v"]
        for r in chained.df.orderBy("__src", "ts").collect()
    ]
    assert got == vals + [100, 101, 102]
    # re-chaining must stay totally ordered (prefix-free string
    # paths: '00' < '01' < '1'), never interleave the first two
    third = RStream(
        spark.createDataFrame([Row(ts=i, v=200 + i) for i in range(2)]), key="v"
    )
    got3 = [
        r["v"] for r in chained.chain(third).df.orderBy("__src", "ts").collect()
    ]
    assert got3 == vals + [100, 101, 102] + [200, 201]

    zipped = s.zip(other, ["ts"])
    pairs = sorted((r["v"], r["v_r"]) for r in zipped.df.collect())
    assert pairs == [(1, 100), (2, 101), (3, 102)]  # ends at shorter

    fm = RStream(
        spark.createDataFrame([Row(ts=0, xs=[1, 2]), Row(ts=1, xs=[3])]), key="ts"
    ).flat_map(F.col("xs"), "x")
    assert sorted(r["x"] for r in fm.df.collect()) == [1, 2, 3]

    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    st = RStream(
        spark.createDataFrame(
            [Row(ts=base + dt.timedelta(seconds=i), v=i) for i in range(6)]
        ),
        key="v",
        ts="ts",
    )
    ct = st.chunk_timeout(2, 100, ["ts", "v"])
    assert {r["__chunk"] for r in ct.df.collect()} == {0, 1, 2}


def test_register_tables_sql_face(spark):
    from conftest import SF_SMOKE
    from rstreams_spark.session import register_tables

    names = register_tables(spark, SF_SMOKE)
    assert "lineitem" in names and "events" in names
    n = spark.sql("select count(*) as n from lineitem").collect()[0]["n"]
    assert n > 0
    # events nanos column is readable as a proper timestamp via SQL
    r = spark.sql("select min(ts) as t from events").collect()[0]["t"]
    assert r.year == 2024


def test_rstream_take_skip_filter_map(spark):
    df = spark.createDataFrame([Row(key="k", ts=i, v=float(i)) for i in range(10)])
    s = RStream(df, key="key", ts="ts")
    assert s.take(3, order_by=["ts"]).df.count() == 3
    skipped = s.skip(7, order_by=["ts"]).df.collect()
    assert sorted(r["v"] for r in skipped) == [7.0, 8.0, 9.0]
    fm = s.filter_map(F.col("v") >= 8, "key", (F.col("v") * 2).alias("w"))
    assert sorted(r["w"] for r in fm.df.collect()) == [16.0, 18.0]

    chunks = {r["__chunk"] for r in s.chunk(4, order_by=["ts"]).df.collect()}
    assert chunks == {0, 1, 2}
    slots = {r["v"]: r["__cycle"] for r in s.cycle(3, order_by=["ts"]).df.collect()}
    assert slots == {float(i): i % 3 for i in range(10)}


def test_rstream_windows_and_table(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [Row(key="k", ts=base + dt.timedelta(seconds=i), v=float(i)) for i in range(6)]
    )
    s = RStream(df, key="key", ts="ts")
    tw = s.tumbling_window("3 seconds", F.sum("v").alias("sv"))
    assert sorted(r["sv"] for r in tw.collect()) == [3.0, 12.0]
    lat = s.to_table(["v"])
    assert lat.collect()[0]["v"] == 5.0
