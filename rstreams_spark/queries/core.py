"""Core rstreams operator surface as catalog queries (SURVEY §2 #1-15).

Each query exercises one reference operator re-expressed Spark-first
on the driver's synthetic tables, with a matching DuckDB oracle.
Reference parity notes live in the operator modules' docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import hash64, tokens
from ..operators import joins, stateless, table, windows
from ._util import SQL_EPOCH, SQL_TOKS, epoch, sql_h64, sql_msum, sql_mtot, t
from .tpch import _hi, _lo, _mround, _msum_parts, _mtot_d

DAY = 86400
HOP = 21600  # 6 hours


def _tev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with NULL instants dropped at entry. A NULL ts has no
    position on the time axis: Spark sorts NULLs FIRST ascending,
    DuckDB LAST, and F.window/session_window silently drop them —
    so every time-ordered/time-bucketed catalog query filters
    `ts IS NOT NULL` at entry on BOTH engines (oracle twin adds
    `where ts is not null`). Mirrors invariant 15 (NULL join keys
    never match) and Structured Streaming's own NULL-event-time
    behavior; pinned by the null_ts probe class (r7)."""
    return t(spark, sf_dir, "events").where(F.col("ts").isNotNull())


def map_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """
    Contract: no preconditions — pure projection+filter; NULL
    event_type rows simply fail the predicate. output is independent
    of input row order (row_shuffle probe)
    """
    ev = t(spark, sf_dir, "events")
    return (
        ev.where((F.col("event_type") == "purchase") & (F.col("value") > 50))
        .select(
            "event_id",
            "user_id",
            (F.col("value") * 1.1).alias("value_usd"),
        )
    )


def fold_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """
    Contract: summed measures must be finite with |v| < 1e9 — both
    engines raise the same micros-guard message otherwise (invariant
    19); NULL measures skip the sum; NULL event_type forms its own
    group on neither engine (grouped as NULL identically on both)
    """
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            # exact micros total → ONE double division: value is
            # 2dp-exact, so the rational avg CAN land exactly on a 4dp
            # half-boundary where each engine's double-sum noise
            # decides the rounding (tpch_q5's r6 sf1 failure mode);
            # identical operands make the division bit-equal instead
            # (hi/lo long sums — see tpch.py's design note)
            *_msum_parts("value", "v"),
            F.count("value").alias("__cn"),
        )
        .select(
            "event_type", "n", _mround("v").alias("sum_value"),
            F.round(_mtot_d("v") / F.col("__cn"), 4).alias("avg_value"),
        )
    )


def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """
    Contract: NULL/empty text contributes no tokens; tokenization uses
    the explicit WS_PATTERN classes (invariant 14), identical across
    engines
    """
    docs = t(spark, sf_dir, "documents")
    # redistribute the doc rows before the ~|tokens|× explode fan-out
    # ONLY if the scan is under-parallel (single-row-group files);
    # a real-scale scan passes through untouched
    from ..functions.core import ensure_fanout_parallelism

    return (
        ensure_fanout_parallelism(docs)
        .select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )


def skip_take(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``StreamExt::skip`` (reference README stateless list): drop the
    first 1000 events in stream order, keep the next 100. Batch
    reading: a stable ordinal filter over the DISTRIBUTED global
    ordinal (range shards + per-shard offset stitch,
    ``operators.stateless.ordinal``) — no single-task sort.

    Contract: events rows with a NULL ts are dropped at entry on both
    engines (invariant 18 — a NULL instant has no position on the time
    axis); ordinal positions are defined by the (ts, event_id) total
    order
    """
    ev = _tev(spark, sf_dir)
    return (
        stateless.ordinal(ev, ["ts", "event_id"])
        .where(F.col("__ord").between(1000, 1099))
        .select(
            "event_id", "user_id", epoch(F.col("ts")).alias("ts_epoch"), "value"
        )
    )


TAKE_WHILE_V = 300.0  # first event above this stops the stream


def take_while(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``StreamExt::take_while`` batch reading: every event strictly
    before the FIRST (stream-order) event whose value exceeds the
    bound — exercised through the fluent ``RStream.take_while``
    (distributed ordinal + one-row min-stop broadcast).

    Contract: events rows with a NULL ts are dropped at entry on both
    engines (invariant 18 — a NULL instant has no position on the time
    axis); the predicate scans the (ts, event_id) total order
    """
    from ..model import RStream

    ev = _tev(spark, sf_dir)
    out = RStream(ev, key="user_id", ts="ts").take_while(
        F.col("value") <= TAKE_WHILE_V, ["ts", "event_id"]
    )
    return out.df.select(
        "event_id", "user_id", epoch(F.col("ts")).alias("ts_epoch"), "value"
    )


def skip_while(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``StreamExt::skip_while``: the complementary suffix — drop the
    ordered prefix where the value stays under the bound; everything
    from the first exceeding event on survives (later small values
    included).

    Contract: events rows with a NULL ts are dropped at entry on both
    engines (invariant 18 — a NULL instant has no position on the time
    axis); the predicate scans the (ts, event_id) total order
    """
    from ..model import RStream

    ev = _tev(spark, sf_dir)
    out = RStream(ev, key="user_id", ts="ts").skip_while(
        F.col("value") <= TAKE_WHILE_V, ["ts", "event_id"]
    )
    return out.df.select(
        "event_id", "user_id", epoch(F.col("ts")).alias("ts_epoch"), "value"
    )


def cycle_take(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``StreamExt::cycle`` analog for bounded data
    (``operators.stateless.cycle_index``): round-robin slot
    assignment over the ordered stream, aggregated per slot — the
    deterministic batch reading of an infinite repeat.

    Contract: events rows with a NULL ts are dropped at entry on both
    engines (invariant 18 — a NULL instant has no position on the time
    axis); ordinal positions are defined by the (ts, event_id) total
    order
    """
    ev = _tev(spark, sf_dir)
    return (
        stateless.cycle_index(ev, 7, ["ts", "event_id"])
        .groupBy(F.col("__cycle").cast("long").alias("slot"))
        .agg(
            F.count("*").alias("n"),
            # integer aggregates only: a ~n/7-term double sum crosses
            # 2dp rounding boundaries between engines (invariant #2)
            F.min(epoch(F.col("ts"))).alias("min_ts_epoch"),
            F.max(epoch(F.col("ts"))).alias("max_ts_epoch"),
        )
    )


def merge_take(spark: SparkSession, sf_dir: str) -> DataFrame:
    """
    Contract: events rows with a NULL ts are dropped at entry on both
    engines (invariant 18 — a NULL instant has no position on the time
    axis); the take-N cut is ordered by (ts, event_id) so ties are
    deterministic
    """
    ev = _tev(spark, sf_dir)
    cols = ["event_id", "user_id", "ts", "value"]
    clicks = ev.where(F.col("event_type") == "click").select(*cols)
    views = ev.where(F.col("event_type") == "view").select(*cols)
    merged = stateless.merge(clicks, views)
    return (
        merged.orderBy("ts", "event_id")
        .limit(100)
        .select("event_id", "user_id", epoch(F.col("ts")).alias("ts_epoch"), "value")
    )


def chunk_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """
    Contract: events rows with a NULL ts are dropped at entry on both
    engines (invariant 18 — a NULL instant has no position on the time
    axis); summed measures must be finite with |v| < 1e9 — both
    engines raise the same micros-guard message otherwise (invariant
    19); NULL measures skip the sum
    """
    ev = _tev(spark, sf_dir)
    chunked = stateless.chunk(ev, 500, order_by=["ts", "event_id"])
    return chunked.groupBy(F.col("__chunk").alias("chunk")).agg(
        F.count("*").alias("n"),
        *_msum_parts("value", "v"),
        F.min(epoch(F.col("ts"))).alias("min_ts_epoch"),
        F.max(epoch(F.col("ts"))).alias("max_ts_epoch"),
    ).select(
        "chunk", "n", _mround("v").alias("sum_value"),
        "min_ts_epoch", "max_ts_epoch",
    )


CHUNK_TIMEOUT_SIZE = 200
CHUNK_TIMEOUT_GAP = 1800  # 30 min of event-time silence closes a chunk


def chunk_fold_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-OR-time batching (reference StreamExt::chunks_timeout):
    chunks close at 200 rows or a 30-minute silence gap, folded like
    ``chunk_fold``. See ``operators.stateless.chunk_timeout`` for the
    event-time determinism argument.

    Contract: events rows with a NULL ts are dropped at entry on both
    engines (invariant 18 — a NULL instant has no position on the time
    axis); summed measures must be finite with |v| < 1e9 — both
    engines raise the same micros-guard message otherwise (invariant
    19); NULL measures skip the sum
    """
    ev = _tev(spark, sf_dir)
    chunked = stateless.chunk_timeout(
        ev, CHUNK_TIMEOUT_SIZE, CHUNK_TIMEOUT_GAP, "ts",
        order_by=["ts", "event_id"],
    )
    return chunked.groupBy(
        F.col("__session").alias("session"),
        F.col("__chunk").alias("chunk"),
    ).agg(
        F.count("*").alias("n"),
        *_msum_parts("value", "v"),
        F.min(epoch(F.col("ts"))).alias("min_ts_epoch"),
        F.max(epoch(F.col("ts"))).alias("max_ts_epoch"),
    ).select(
        "session", "chunk", "n", _mround("v").alias("sum_value"),
        "min_ts_epoch", "max_ts_epoch",
    )


def latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """
    Contract: events rows with a NULL ts are dropped at entry on both
    engines (invariant 18 — a NULL instant has no position on the time
    axis); latest is argmax over (ts, event_id) — the whole winning
    row is carried as one struct (invariant 15), never per-column
    fills
    """
    ev = t(spark, sf_dir, "events")
    latest = table.latest_per_key(
        ev, "user_id", "ts", value_cols=["event_id", "event_type", "value"]
    )
    return latest.select(
        "user_id", epoch(F.col("ts")).alias("ts_epoch"), "event_id", "event_type", "value"
    )


def asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (custom op Spark lacks natively): each purchase
    enriched with the latest prior-or-equal view's value per user.
    Oracle uses DuckDB's native ASOF LEFT JOIN — the operator's
    window-fill composition must reproduce it exactly.

    Contract: events rows with a NULL ts are dropped at entry on both
    engines (invariant 18 — a NULL instant has no position on the time
    axis); NULL-key RIGHT rows are dropped at entry (invariant 15);
    the matched row is carried as ONE struct
    """
    ev = _tev(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    # one view row per (user, ts) — max value — so neither engine
    # faces an equal-timestamp tie (ASOF tie order is undefined in
    # both; the aggregation makes parity unconditional)
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    out = joins.asof_join(
        purchases, views, "user_id", "ts", "ts", ["view_value"]
    )
    return out.select(
        "user_id",
        epoch(F.col("ts")).alias("ts_epoch"),
        "event_id",
        "value",
        F.col("r_view_value").alias("view_value"),
    )


def tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """
    Contract: events rows with a NULL ts are dropped at entry on both
    engines (invariant 18 — a NULL instant has no position on the time
    axis); summed measures must be finite with |v| < 1e9 — both
    engines raise the same micros-guard message otherwise (invariant
    19); NULL measures skip the sum
    """
    ev = t(spark, sf_dir, "events")
    out = windows.tumbling_window(
        ev,
        "event_type",
        "ts",
        "1 day",
        F.count("*").alias("n"),
        *_msum_parts("value", "v"),
    )
    return out.select(
        "event_type",
        epoch(F.col("window_start")).alias("window_start_epoch"),
        "n",
        _mround("v").alias("sum_value"),
    )


GAPFILL_TAU = 300.0  # sparse high-value events => real gap windows


def tumbling_window_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-parity empty-window emission (src/window.rs:71-84):
    daily windows over sparse high-value events, with silent days
    emitted as n=0 rows.

    Contract: events rows with a NULL ts are dropped at entry on both
    engines (invariant 18 — a NULL instant has no position on the time
    axis); summed measures must be finite with |v| < 1e9 — both
    engines raise the same micros-guard message otherwise (invariant
    19); NULL measures skip the sum; gapfill emits empty buckets only
    between the key's own min/max window
    """
    ev = t(spark, sf_dir, "events").where(F.col("value") >= GAPFILL_TAU)
    out = windows.tumbling_window(
        ev,
        "event_type",
        "ts",
        "1 day",
        F.count("*").alias("n"),
        *_msum_parts("value", "v"),
        gap_fill=True,
    )
    return out.select(
        "event_type",
        epoch(F.col("window_start")).alias("window_start_epoch"),
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        _mround("v").alias("sum_value"),
    )


def hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """
    Contract: events rows with a NULL ts are dropped at entry on both
    engines (invariant 18 — a NULL instant has no position on the time
    axis); summed measures must be finite with |v| < 1e9 — both
    engines raise the same micros-guard message otherwise (invariant
    19); NULL measures skip the sum
    """
    ev = t(spark, sf_dir, "events")
    out = windows.hopping_window(
        ev,
        "event_type",
        "ts",
        "1 day",
        "6 hours",
        F.count("*").alias("n"),
        *_msum_parts("value", "v"),
    )
    return out.select(
        "event_type",
        epoch(F.col("window_start")).alias("window_start_epoch"),
        "n",
        _mround("v").alias("sum_value"),
    )


def hopping_window_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-parity empty-hop emission (src/window.rs:147-163):
    daily windows hopping by 6h over sparse high-value events; hops
    whose window holds no events appear with n=0.

    Contract: events rows with a NULL ts are dropped at entry on both
    engines (invariant 18 — a NULL instant has no position on the time
    axis); summed measures must be finite with |v| < 1e9 — both
    engines raise the same micros-guard message otherwise (invariant
    19); NULL measures skip the sum
    """
    ev = t(spark, sf_dir, "events").where(F.col("value") >= GAPFILL_TAU)
    out = windows.hopping_window(
        ev,
        "event_type",
        "ts",
        "1 day",
        "6 hours",
        F.count("*").alias("n"),
        *_msum_parts("value", "v"),
        gap_fill=True,
    )
    return out.select(
        "event_type",
        epoch(F.col("window_start")).alias("window_start_epoch"),
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        _mround("v").alias("sum_value"),
    )


def session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """
    Contract: events rows with a NULL ts are dropped at entry on both
    engines (invariant 18 — a NULL instant has no position on the time
    axis); an event landing exactly at previous+gap MERGES into the
    session (inclusive boundary — invariant 16; oracle splits on >)
    """
    ev = t(spark, sf_dir, "events")
    out = windows.session_window(
        ev,
        "user_id",
        "ts",
        "1 hour",
        F.count("*").alias("n"),
        *_msum_parts("value", "v"),
    )
    return out.select(
        "user_id",
        epoch(F.col("session_start")).alias("session_start_epoch"),
        "n",
        _mround("v").alias("sum_value"),
    )


def lag_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """
    Contract: events rows with a NULL ts are dropped at entry on both
    engines (invariant 18 — a NULL instant has no position on the time
    axis); per-key series are retention-bounded by contract
    """
    ev = _tev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            epoch(F.col("ts")).alias("ts_epoch"),
            F.lag("value", 2).over(w).alias("v_2"),
            F.lag("value", 1).over(w).alias("v_1"),
            F.col("value").alias("v_0"),
        )
        .where(F.col("v_2").isNotNull())
    )


def interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """
    Contract: events rows with a NULL ts are dropped at entry on both
    engines (invariant 18 — a NULL instant has no position on the time
    axis); NULL join keys never match (SQL equi-join semantics on both
    engines); a hot key multiplies genuine output (purchases x errors
    within the band) — see PERF.md "Round 9: skew at scale"
    """
    ev = t(spark, sf_dir, "events")
    cols = ["user_id", "event_id", "ts"]
    purchases = ev.where(F.col("event_type") == "purchase").select(*cols)
    errors = ev.where(F.col("event_type") == "error").select(*cols)
    joined = joins.interval_join(
        purchases, errors, "user_id", "user_id", "ts", "ts", "1 hour"
    )
    return joined.select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("r_event_id").alias("error_id"),
        epoch(F.col("ts")).alias("purchase_ts_epoch"),
        epoch(F.col("r_ts")).alias("error_ts_epoch"),
    )


def interval_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT variant of the windowed stream join — the reference lists
    'Left join' as TBD (README Features TBD); here it is the same
    equi-key + time-band plan with outer semantics: unmatched
    purchases survive with NULL error columns.

    Contract: events rows with a NULL ts are dropped at entry on both
    engines (invariant 18 — a NULL instant has no position on the time
    axis); NULL join keys never match (SQL equi-join semantics on both
    engines); unmatched purchases survive with NULL error columns
    """
    ev = t(spark, sf_dir, "events")
    cols = ["user_id", "event_id", "ts"]
    purchases = ev.where(F.col("event_type") == "purchase").select(*cols)
    errors = ev.where(F.col("event_type") == "error").select(*cols)
    joined = joins.interval_join(
        purchases, errors, "user_id", "user_id", "ts", "ts", "1 hour", how="left"
    )
    return joined.select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("r_event_id").alias("error_id"),
        epoch(F.col("ts")).alias("purchase_ts_epoch"),
        epoch(F.col("r_ts")).alias("error_ts_epoch"),
    )


def distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (two-phase under the hood); the
    approx path at 100 TB is approx_count_distinct (HLL) — same call
    site, sketch-based, no exact-distinct shuffle.

    Contract: NULL user_id is not counted by countDistinct on either
    engine; NULL event_type groups as NULL identically on both
    """
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


def stream_table_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """
    Contract: NULL join keys never match (SQL equi-join semantics on
    both engines); the dimension side must be broadcast-sized (it is
    the nation-keyed lookup here)
    """
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    joined = joins.stream_table_join(orders, "o_custkey", customer, "c_custkey")
    return joined.select(
        "o_orderkey", "o_custkey", "c_name", "c_mktsegment", "o_totalprice"
    )


def _candles_df(
    spark: SparkSession, sf_dir: str, with_volume: bool = True
) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    order = F.struct("ts", "event_id")
    vol_aggs = _msum_parts("value", "v") if with_volume else []
    out = windows.tumbling_window(
        ev,
        "event_type",
        "ts",
        "1 day",
        F.min_by("value", order).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", order).alias("close"),
        *vol_aggs,
        F.count("*").alias("n_trades"),
    )
    vol_cols = [_mround("v").alias("volume")] if with_volume else []
    return out.select(
        "event_type",
        epoch(F.col("window_start")).alias("window_start_epoch"),
        "open", "high", "low", "close", *vol_cols, "n_trades",
    )


def candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """
    Contract: events rows with a NULL ts are dropped at entry on both
    engines (invariant 18 — a NULL instant has no position on the time
    axis); summed measures must be finite with |v| < 1e9 — both
    engines raise the same micros-guard message otherwise (invariant
    19); NULL measures skip the sum
    """
    return _candles_df(spark, sf_dir)


def candles_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily candles derived hierarchically: ticks → 6h candles →
    1d rollup (operators/windows.py::rollup_candles). Logically
    identical to ``candles`` — the oracle IS the direct 1-day SQL —
    but the physical plan re-aggregates the small 6h level instead of
    re-scanning ticks: the multi-timeframe lattice strategy for the
    reference's stocks pipeline at 100 TB.

    Contract: events rows with a NULL ts are dropped at entry on both
    engines (invariant 18 — a NULL instant has no position on the time
    axis); summed measures must be finite with |v| < 1e9 — both
    engines raise the same micros-guard message otherwise (invariant
    19); NULL measures skip the sum; ROLLUP on an empty input emits
    the grand-total row on neither engine identically (empty probe)
    """
    ev = t(spark, sf_dir, "events")
    order = F.struct("ts", "event_id")
    fine = windows.tumbling_window(
        ev, "event_type", "ts", "6 hours",
        F.min_by("value", order).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", order).alias("close"),
        # micros parts instead of a raw double sum: long partials
        # re-sum EXACTLY through the lattice (the double form was
        # order-dependent once magnitudes mix — invariant 19), and
        # the domain guard rides the fine level; round once at the top
        *_msum_parts("value", "v"),
        F.count("*").alias("n_trades"),
    )
    day = windows.rollup_candles(
        fine, "event_type", "1 day",
        F.sum("__h_v").alias("__h_v"), F.sum("__l_v").alias("__l_v"),
    )
    return day.select(
        "event_type",
        epoch(F.col("window_start")).alias("window_start_epoch"),
        "open", "high", "low", "close",
        _mround("v").alias("volume"),
        F.col("n_trades").cast("long").alias("n_trades"),
    )


def strat_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """
    Contract: events rows with a NULL ts are dropped at entry on both
    engines (invariant 18 — a NULL instant has no position on the time
    axis); classification thresholds cut on exact per-row doubles
    computed identically on both engines
    """
    c = _candles_df(spark, sf_dir, with_volume=False)
    top = F.greatest("open", "close")
    bottom = F.least("open", "close")
    w = Window.partitionBy("event_type").orderBy("window_start_epoch")
    c = c.select(
        "event_type", "window_start_epoch", "open", "close",
        top.alias("top"), bottom.alias("bottom"),
        F.lag(top).over(w).alias("prev_top"),
        F.lag(bottom).over(w).alias("prev_bottom"),
    ).where(F.col("prev_top").isNotNull())
    above = F.col("top") > F.col("prev_top")
    below = F.col("bottom") < F.col("prev_bottom")
    strat = (
        F.when(above & below, "outside")
        .when(above, "up")
        .when(below, "down")
        .otherwise("inside")
    )
    color = F.when(F.col("open") < F.col("close"), "green").otherwise("red")
    return c.select(
        "event_type", "window_start_epoch",
        strat.alias("strat_class"), color.alias("color"),
    )


N_RANGES = 50
RANGE_CELL = 16.0


def range_band_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed range join (operator Spark lacks natively):
    50 deterministic overlapping value bands, each event joined to
    every band containing its value — planned as a hash join on grid
    cells, not a nested loop (see operators/joins.py::range_join).

    Contract: events rows with a NULL ts are dropped at entry on both
    engines (invariant 18 — a NULL instant has no position on the time
    axis); summed measures must be finite with |v| < 1e9 — both
    engines raise the same micros-guard message otherwise (invariant
    19); NULL measures skip the sum
    """
    ev = t(spark, sf_dir, "events").select("event_id", "value")
    ids = spark.range(N_RANGES)
    lo = F.pmod(hash64(F.col("id").cast("string")), F.lit(90)).cast("double")
    hi = lo + 5 + F.pmod(hash64(F.col("id").cast("string"), salt=1), F.lit(20)).cast("double")
    ranges = ids.select(
        F.col("id").alias("range_id"), lo.alias("lo"), hi.alias("hi")
    )
    joined = joins.range_join(ev, "value", ranges, "lo", "hi", RANGE_CELL)
    return joined.groupBy("range_id", "lo", "hi").agg(
        F.count("*").alias("n"),
        *_msum_parts("value", "v"),
    ).select(
        "range_id", "lo", "hi", "n", _mround("v").alias("sum_value"),
    )


def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per key — the distribution-
    profiling aggregate an analytics engine owes its users. Spark's
    ``percentile`` is the sort-based exact form (same interpolation
    as DuckDB ``quantile_cont``); at 100 TB swap for
    ``approx_percentile`` and drop the oracle to rows-only.

    The two engines interpolate with different FP formula SHAPES
    (lo+frac·(hi-lo) vs lo·(1-frac)+hi·frac), so the doubles differ
    in the last ulp at large n (r6 sf1: p99 230.53 vs 230.53…03).
    The true value is 4dp-exact — 2dp data × ≤2dp fraction (q·(n-1)
    has an exact 2-decimal fractional part for q ∈ {.5,.9,.99}) —
    so rounding the aggregate at 6dp sits ≥5e-7 from every boundary
    while the engines' ~1e-13 noise cannot flip it.

    Values outside the profilable domain are excluded by contract
    (same `abs(value) < 1e18` compare as value_histogram, mirrored
    in the oracle): quantiles over NaN are ill-defined and the
    engines disagree (Spark sorts NaN greatest and interpolates;
    DuckDB's quantile_cont propagates NaN), and near-1e308
    magnitudes make the engines' different interpolation SHAPES
    diverge through (hi-lo) overflow — profile the finite
    distribution, as numpy's nanpercentile does. NULLs pass through
    (both engines ignore them identically).

    Contract: events rows with a NULL ts are dropped at entry on both
    engines (invariant 18 — a NULL instant has no position on the time
    axis); non-finite values are excluded via isfinite twins (they
    have no quantile position)
    """
    ev = t(spark, sf_dir, "events").where(
        F.col("value").isNull() | (F.abs("value") < F.lit(1e18))
    )
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.5), 6).alias("p50"),
        F.round(F.percentile("value", 0.9), 6).alias("p90"),
        F.round(F.percentile("value", 0.99), 6).alias("p99"),
    )


def gap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``StreamExt::timeout`` analog (reference README stateless ops):
    surface per-key silences longer than a bound. Batch form: consecutive
    event pairs with gap > 6h — one shuffle on key, lag over the sorted
    partition.

    Contract: events rows with a NULL ts are dropped at entry on both
    engines (invariant 18 — a NULL instant has no position on the time
    axis); gaps are defined over the per-key (ts, event_id) order
    """
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    out = ev.select(
        "user_id",
        epoch(prev).alias("prev_ts_epoch"),
        epoch(F.col("ts")).alias("ts_epoch"),
        (epoch(F.col("ts")) - epoch(prev)).alias("gap_seconds"),
    )
    return out.where(F.col("gap_seconds") > 6 * 3600)


def parse_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload parsing — the reference's ``from_bytes`` serde
    step (src/lib.rs:25-29) as a Catalyst expression: typed
    ``from_json`` extract, then aggregate over the parsed field.

    Contract: props must be a JSON object or NULL — malformed JSON
    parses to NULL (from_json) identically on both engines; k sums are
    exact integer sums
    """
    ev = t(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.from_json(F.col("props"), "k bigint").getField("k").alias("k"),
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


STRATA_RATES = {"purchase": 1, "view": 10, "click": 4}  # keep 1-in-N


def twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per (event_type, day) — each
    observation weighted by its holding time until the next event of
    the same type that day (stocks-style TWAP). Window lag + one
    grouped agg. Parity shape per invariant #2: round the two
    aggregate SUMS (2 dp), then divide — both engines divide the
    identical rounded doubles, so the ratio itself needs (and gets)
    no rounding.

    Contract: events rows with a NULL ts are dropped at entry on both
    engines (invariant 18 — a NULL instant has no position on the time
    axis); summed measures must be finite with |v| < 1e9 — both
    engines raise the same micros-guard message otherwise (invariant
    19); NULL measures skip the sum
    """
    ev = t(spark, sf_dir, "events")
    day = (F.floor(epoch(F.col("ts")) / DAY) * DAY).cast("long")
    w = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    rows = (
        ev.select("event_type", "ts", "event_id", "value", day.alias("day"))
        .withColumn("next_ts", F.lead("ts").over(w))
        .where(F.col("next_ts").isNotNull())
        .withColumn(
            "dt", (epoch(F.col("next_ts")) - epoch(F.col("ts"))).cast("double")
        )
        .where(F.col("dt") > 0)
    )
    out = rows.groupBy("event_type", "day").agg(
        # micros parts of the value*dt PRODUCT (2dp-exact value x
        # integer seconds stays 2dp-exact; the domain guard rides
        # along, invariant 19)
        *_msum_parts(F.col("value") * F.col("dt"), "w"),
        F.round(F.sum("dt"), 2).alias("tsum"),
        F.count("*").alias("n_obs"),
    )
    return out.select(
        "event_type", "day",
        (_mround("w") / F.col("tsum")).alias("twap"),
        "n_obs",
    )


HIST_BIN = 25.0


def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event_type (profiling op):
    bin = floor(value/width). Pure groupBy — single shuffle of
    (type, bin) partials regardless of SF.

    Values that cannot be binned are excluded by contract: NaN/±Inf
    have no bin, and beyond |value| ~ 1e18 the bin index exceeds a
    long (Spark's unguarded floor silently saturates at
    Long.MaxValue while DuckDB raises a cast error — nonfinite +
    huge_values probe classes, r7). ONE `abs(value) < 1e18` compare
    covers all of it (NaN compares false on both engines); the
    oracle twin mirrors it. NULL values keep their NULL-bin group
    (both engines agree).

    Contract: events rows with a NULL ts are dropped at entry on both
    engines (invariant 18 — a NULL instant has no position on the time
    axis); non-finite values are excluded via isfinite twins on both
    engines (they have no bin); bin edges are exact integer algebra
    """
    ev = t(spark, sf_dir, "events").where(
        F.col("value").isNull() | (F.abs("value") < F.lit(1e18))
    )
    return (
        ev.groupBy(
            "event_type",
            F.floor(F.col("value") / F.lit(HIST_BIN)).cast("long").alias("bin"),
        )
        .agg(F.count("*").alias("n"))
        .withColumn("bin_lo", (F.col("bin") * HIST_BIN).cast("double"))
    )


FOLLOW_WINDOW = "1 hour"


def pattern_followed_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP sequence detection (beyond the reference — the classic
    stream-analytics ask): per user, each 'error' event followed by a
    'purchase' STRICTLY after it within 1 hour, reported as the
    earliest qualifying purchase per error. Same plan family as
    interval_join: equi-join on user, time-band predicate, then a
    min_by per left event — one shuffle on user_id.

    Contract: events rows with a NULL ts are dropped at entry on both
    engines (invariant 18 — a NULL instant has no position on the time
    axis); per-user candidate scans are bounded by the pattern window
    """
    ev = t(spark, sf_dir, "events")
    errs = ev.where(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("err_id"),
        F.col("ts").alias("err_ts"),
    )
    buys = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias("buy_id"),
        F.col("ts").alias("buy_ts"),
    )
    band = F.expr(f"INTERVAL {FOLLOW_WINDOW}")
    joined = errs.join(
        buys,
        (F.col("user_id") == F.col("b_user"))
        & (F.col("buy_ts") > F.col("err_ts"))
        & (F.col("buy_ts") <= F.col("err_ts") + band),
    )
    first_buy = joined.groupBy("user_id", "err_id", "err_ts").agg(
        F.min_by(
            F.struct("buy_ts", "buy_id"), F.struct("buy_ts", "buy_id")
        ).alias("b")
    )
    return first_buy.select(
        "user_id", "err_id",
        epoch(F.col("err_ts")).alias("err_ts_epoch"),
        F.col("b.buy_id").alias("buy_id"),
        epoch(F.col("b.buy_ts")).alias("buy_ts_epoch"),
    )


FUNNEL_STEP_WINDOW = "7 days"


def funnel_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-step conversion funnel (view → click → purchase), each
    step strictly after the previous and within FUNNEL_STEP_WINDOW —
    the n-step generalization of pattern_followed_by. Greedy-earliest
    semantics: the user's FIRST view anchors the funnel, then the
    first qualifying click, then the first qualifying purchase.

    Scale shape: three per-user aggregations, all shuffled on the
    same user_id key (the exchanges reuse the partitioning; no
    re-keying), each joined back by user — never an event-level
    multi-way join. Timestamps only, so cross-engine parity is
    exact (no FP).

    Contract: events rows with a NULL ts are dropped at entry on both
    engines (invariant 18 — a NULL instant has no position on the time
    axis); step order is defined by (ts, event_id); a user advances at
    the FIRST qualifying event per step
    """
    ev = t(spark, sf_dir, "events")
    band = F.expr(f"INTERVAL {FUNNEL_STEP_WINDOW}")
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .join(
            views,
            (F.col("c_user") == F.col("user_id"))
            & (F.col("c_ts") > F.col("t_view"))
            & (F.col("c_ts") <= F.col("t_view") + band),
        )
        .groupBy("user_id", "t_view")
        .agg(F.min("c_ts").alias("t_click"))
    )
    funnels = (
        ev.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .join(
            clicks,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("p_ts") > F.col("t_click"))
            & (F.col("p_ts") <= F.col("t_click") + band),
        )
        .groupBy("user_id", "t_view", "t_click")
        .agg(F.min("p_ts").alias("t_purchase"))
    )
    return funnels.select(
        "user_id",
        epoch(F.col("t_view")).alias("t_view_epoch"),
        epoch(F.col("t_click")).alias("t_click_epoch"),
        epoch(F.col("t_purchase")).alias("t_purchase_epoch"),
    )


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day;
    for each (cohort_day, day_offset) the distinct users active
    again. Two shuffles total (first-seen per user; matrix agg) —
    the standard warehouse shape at any SF.

    Contract: events rows with a NULL ts are dropped at entry on both
    engines (invariant 18 — a NULL instant has no position on the time
    axis); cohort = the user's first-event week; NULL user_id rows are
    not cohorted
    """
    ev = t(spark, sf_dir, "events")
    day = (F.floor(epoch(F.col("ts")) / DAY) * DAY).cast("long")
    seen = ev.select("user_id", day.alias("day"))
    first = seen.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        seen.join(first, "user_id")
        .groupBy(
            "cohort_day",
            ((F.col("day") - F.col("cohort_day")) / DAY).cast("long").alias(
                "day_offset"
            ),
        )
        .agg(F.count_distinct("user_id").cast("bigint").alias("active_users"))
    )


def salted_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-robust two-phase aggregation as a catalog query: the
    salted plan must produce the IDENTICAL totals a plain groupBy
    (the oracle) produces — salting changes the physical
    distribution, never the algebra. The sum rides hi/lo micros
    partials (invariant 2/19): long partials re-combine exactly
    across salt shards in any order, where a double re-sum would be
    shuffle-order-dependent.

    Contract: summed measures must be finite with |v| < 1e9 — both
    engines raise the same micros-guard message otherwise (invariant
    19); NULL measures skip the sum; salts derive from row content via
    xxhash64 (invariant 8), never positional ids
    """
    from ..operators.skew import SaltedAgg, salted_agg

    ev = t(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        ["event_type"],
        [
            SaltedAgg.count("n"),
            # hi/lo micros partials: LONG sums re-combine exactly
            # across the salt shards (a double re-sum would be
            # order-dependent), and invariant 19's domain guard
            # rides phase 1
            SaltedAgg(F.sum(_hi("value")), F.sum, "__h_v"),
            SaltedAgg(F.sum(_lo("value")), F.sum, "__l_v"),
            SaltedAgg.min("value", "min_value"),
            SaltedAgg.max("value", "max_value"),
        ],
        salt_n=8,
        salt_on="event_id",
    )
    return out.select(
        "event_type", "n",
        _mround("v").alias("sum_value"),
        "min_value", "max_value",
    )


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum downsampling — the corpus-rebalance
    op of a training-data pipeline (keep all rare strata, thin the
    dominant ones). Strata not in the rate map are dropped. Pure
    filter over the portable hash: no shuffle, engine-reproducible,
    and any worker can decide membership without coordination.

    Contract: strata not in the rate map are DROPPED; membership is a
    pure filter on the portable hash of event_id — deterministic and
    engine-identical; NULL event_id never passes
    """
    ev = t(spark, sf_dir, "events")
    keep = None
    conds = [
        (F.col("event_type") == stype)
        & (F.pmod(hash64(F.col("event_id").cast("string")), F.lit(n)) == 0)
        for stype, n in sorted(STRATA_RATES.items())
    ]
    for c in conds:
        keep = c if keep is None else keep | c
    return ev.where(keep).select(
        "event_id", "user_id", "event_type",
        epoch(F.col("ts")).alias("ts_epoch"), "value",
    )


def throttle_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """
    Contract: sampling is a pure filter on the portable 60-bit hash of
    event_id (invariant 3) — deterministic, coordination-free, engine-
    identical; NULL event_id never passes
    """
    ev = t(spark, sf_dir, "events")
    keep = F.pmod(hash64(F.col("event_id").cast("string")), F.lit(10)) == 0
    return ev.where(keep).select(
        "event_id", "user_id", "event_type", epoch(F.col("ts")).alias("ts_epoch"), "value"
    )


def split_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """
    Contract: routes outside the configured set are dropped; output is
    independent of input row order (row_shuffle probe)
    """
    ev = t(spark, sf_dir, "events")
    branches = []
    for route in ("purchase", "error"):
        branches.append(
            ev.where(F.col("event_type") == route).select(
                F.lit(route).alias("route"), "event_id", "user_id", "value"
            )
        )
    return stateless.merge(*branches)


TSM_W = 8     # subsequence length
TSM_K = 10    # global top-k matches
TSM_QUERY_USER = 0  # the query pattern = this user's first window
# In-plan ceiling on a single key's collected series (the cap_probes
# discipline): the per-key retention contract is implicit in every
# per-key window operator, but collect_list is the one place a hot
# key with millions of events would OOM an executor SILENTLY at
# 100× — fail loudly instead. ~100k doubles ≈ 800 KB per key.
TSM_MAX_SERIES = 100_000


def _ts_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared entry for both ts_similarity_topk paths: per-user
    time-ordered value series + the in-plan retention guard,
    materialized once (feeds the query-window derivation AND the
    window scan — invariant 9/11)."""
    ev = _tev(spark, sf_dir)
    series = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "value"))
            ),
            lambda x: x["value"].cast("double"),
        ).alias("vals")
    )
    # in-plan retention guard (cap_probes discipline): a hot key past
    # the cap fails with an actionable message instead of OOMing an
    # executor at 100×; assert_true(...).isNull() keeps legal rows and
    # survives column pruning. Mirrored in the DuckDB oracle twin.
    series = series.where(
        F.assert_true(
            F.size("vals") <= TSM_MAX_SERIES,
            F.lit(
                f"ts_similarity_topk: series exceeds TSM_MAX_SERIES="
                f"{TSM_MAX_SERIES}; per-key series are retention-bounded "
                "by contract — trim retention or shard the key"
            ),
        ).isNull()
    )
    # feeds TWO consumers (qrow + wins): lazy-materialize per
    # invariant 9 so the events scan + collect_list agg plans once
    return series.localCheckpoint(eager=False)


def ts_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series subsequence similarity search (the UCR-suite
    shape: z-normalized Euclidean distance between a query pattern
    and every length-W sliding window of every series): the query is
    user 0's first W values; output = the global top-K most similar
    windows across all users (the query window itself excluded).
    Complements the embedding ANN family with the raw-signal motif
    search a market/telemetry engine owes its users.

    Scale shape (r10): one shuffle builds the per-user ordered series
    (retention-bounded per key, loud in-plan cap); windows never
    explode — each series row enters the Arrow kernel ONCE and the
    sliding-window mean/var/distances compute as dim-sequential
    numpy accumulations BIT-IDENTICAL to the oracle's sequential
    list_reduce folds (same add order, same one-sqrt-at-the-end; the
    DuckDB twin is row-equality-pinned in tests/test_series_cap.py
    at sf0.001 and sf0.01). The
    kernel emits only its per-batch top-K, so the global
    ``orderBy().limit(K)`` (distributed TakeOrdered) sees ≤ K rows
    per batch, never points-many rows. The interpreted HOF folds this
    replaces were ~32 ops/window over points-many windows — the
    dominant cost at sf10 (12.3 s).

    Exact Spark-semantics notes, replicated in-kernel (all pinned by
    the probe matrix — null_facts, nonfinite, big_ids, onerow):
    a window containing a NULL value is DROPPED (its JVM fold mean is
    NULL and ``NULL > 0`` filters it; NULL positions ride a JVM-built
    boolean mask column because Arrow→pandas folds NULL and NaN
    together); a window containing NaN is KEPT (``NaN > 0`` is TRUE
    under Spark's NaN-greatest total ordering) and its NaN distance
    sorts LAST; ordering is (dist, user_id NULLS FIRST, start_idx)
    with NaN-greatest dist — reproduced with explicit NaN/NULL flag
    sort keys; a NULL-user window at start_idx==1 is dropped exactly
    like the JVM three-valued ``~((u=0) AND (s=1))`` filter does.

    Contract: events rows with a NULL ts are dropped at entry on both
    engines (invariant 18 — a NULL instant has no position on the time
    axis); a single key's collected series is capped at TSM_MAX_SERIES
    (loud in-plan raise, invariant 19-style); query user's series must
    reach W values or the result is empty on both engines
    """
    import math

    series = _ts_series(spark, sf_dir)
    qrows = (
        series.where(
            (F.col("user_id") == TSM_QUERY_USER)
            & (F.size("vals") >= TSM_W)
        )
        .select(F.slice("vals", 1, TSM_W).alias("qp"))
        .collect()
    )
    empty = spark.createDataFrame(
        [], "user_id bigint, start_idx bigint, dist double, rank bigint"
    )
    if not qrows:
        return empty
    qp = list(qrows[0]["qp"])
    if any(x is None for x in qp):
        # SQL fold semantics: NULL in the query window → NULL mq/vq
        # → the (vq > 0) filter drops every row → empty on both
        # engines
        return empty
    mq = 0.0
    for x in qp:
        mq = mq + x
    mq = mq / float(TSM_W)
    vq = 0.0
    for x in qp:
        vq = vq + (x - mq) * (x - mq)
    vq = vq / float(TSM_W)
    if not (vq > 0 or math.isnan(vq)):
        # exact JVM semantics: vq == 0 drops everything; NaN vq KEEPS
        # rows (NaN > 0 is TRUE under Spark total ordering) — the
        # all-NaN distances then tie-break on (user_id, start_idx)
        return empty
    sq = math.sqrt(vq)
    qz = [(x - mq) / sq for x in qp]

    def _score(batches):
        import numpy as np
        import pandas as pd
        from numpy.lib.stride_tricks import sliding_window_view

        W_, K_ = TSM_W, TSM_K
        qzv = np.array(qz, dtype=np.float64)
        for pdf in batches:
            un_l, uv_l, st_l, di_l = [], [], [], []
            for u_null, u_val, vals, nulls in zip(
                pdf["u_null"], pdf["u_val"], pdf["vals"], pdf["nulls"]
            ):
                v = np.asarray(vals, dtype=np.float64)
                if v.size < W_:
                    continue
                nullm = np.asarray(list(nulls), dtype=bool)
                Wm = sliding_window_view(v, W_)
                winnull = sliding_window_view(nullm, W_).any(axis=1)
                m = Wm.shape[0]
                mw = np.zeros(m)
                for d in range(W_):
                    mw = mw + Wm[:, d]
                mw = mw / float(W_)
                vw = np.zeros(m)
                for d in range(W_):
                    df_ = Wm[:, d] - mw
                    vw = vw + df_ * df_
                vw = vw / float(W_)
                keep = (~winnull) & ((vw > 0) | np.isnan(vw))
                if bool(u_null) or int(u_val) == TSM_QUERY_USER:
                    # JVM ~((u=0) AND (s=1)): drops start_idx==1 for
                    # user 0 AND (three-valued) for NULL users
                    keep[0] = False
                if not keep.any():
                    continue
                Wk, mwk, vwk = Wm[keep], mw[keep], vw[keep]
                swk = np.sqrt(vwk)
                acc = np.zeros(len(mwk))
                with np.errstate(invalid="ignore"):
                    for d in range(W_):
                        df_ = (Wk[:, d] - mwk) / swk - qzv[d]
                        acc = acc + df_ * df_
                dist = np.sqrt(acc)
                st = (np.nonzero(keep)[0] + 1).astype(np.int64)
                un_l.append(np.full(len(st), bool(u_null)))
                uv_l.append(np.full(len(st), np.int64(u_val)))
                st_l.append(st)
                di_l.append(dist)
            if not un_l:
                continue
            un = np.concatenate(un_l)
            uv = np.concatenate(uv_l)
            st = np.concatenate(st_l)
            di = np.concatenate(di_l)
            # Spark total order: dist asc NaN-GREATEST, user_id asc
            # NULLS FIRST, start_idx asc — explicit flag keys because
            # np.lexsort's NaN placement is per-key, not total-order
            nanf = np.isnan(di)
            distf = np.where(nanf, 0.0, di)
            order = np.lexsort(
                (st, np.where(un, 0, uv), (~un).astype(np.int8),
                 distf, nanf.astype(np.int8))
            )[:K_]
            yield pd.DataFrame(
                {
                    "u_null": un[order],
                    "u_val": uv[order],
                    "start_idx": st[order],
                    "dist": di[order],
                }
            )

    scored = (
        series.select(
            F.col("user_id").isNull().alias("u_null"),
            F.coalesce(F.col("user_id"), F.lit(0)).alias("u_val"),
            "vals",
            # NULL positions as a JVM-built mask: Arrow→pandas turns
            # NULL elements into NaN, indistinguishable from data NaN
            F.transform(F.col("vals"), lambda x: x.isNull()).alias("nulls"),
        )
        .mapInPandas(
            _score,
            "u_null boolean, u_val bigint, start_idx bigint, dist double",
        )
        .select(
            F.when(F.col("u_null"), F.lit(None).cast("bigint"))
            .otherwise(F.col("u_val"))
            .alias("user_id"),
            "start_idx", "dist",
        )
    )
    top = scored.orderBy("dist", "user_id", "start_idx").limit(TSM_K)
    wr = Window.orderBy("dist", "user_id", "start_idx")  # <= K rows
    return top.withColumn("rank", F.row_number().over(wr).cast("long")).select(
        "user_id", "start_idx", "dist", "rank",
    )


QUERIES = {
    "map_filter": map_filter,
    "ts_similarity_topk": ts_similarity_topk,
    "fold_count": fold_count,
    "wordcount": wordcount,
    "merge_take": merge_take,
    "chunk_fold": chunk_fold,
    "skip_take": skip_take,
    "take_while": take_while,
    "skip_while": skip_while,
    "cycle_take": cycle_take,
    "chunk_fold_timeout": chunk_fold_timeout,
    "latest_per_key": latest_per_key,
    "tumbling_window": tumbling_window,
    "tumbling_window_gapfill": tumbling_window_gapfill,
    "hopping_window": hopping_window,
    "hopping_window_gapfill": hopping_window_gapfill,
    "session_window": session_window,
    "lag_window": lag_window,
    "interval_join": interval_join,
    "interval_join_left": interval_join_left,
    "distinct_count": distinct_count,
    "stream_table_join": stream_table_join,
    "asof_enrich": asof_enrich,
    "candles": candles,
    "candles_rollup": candles_rollup,
    "strat_classify": strat_classify,
    "range_band_count": range_band_count,
    "value_percentiles": value_percentiles,
    "gap_detect": gap_detect,
    "parse_json_props": parse_json_props,
    "throttle_sample": throttle_sample,
    "stratified_sample": stratified_sample,
    "salted_sum": salted_sum,
    "pattern_followed_by": pattern_followed_by,
    "funnel_3step": funnel_3step,
    "cohort_retention": cohort_retention,
    "twap_daily": twap_daily,
    "value_histogram": value_histogram,
    "split_routes": split_routes,
}

_E = SQL_EPOCH.format(c="ts")


def _candles_cte(volume: bool = True) -> str:
    """The daily-candles oracle CTE. ``volume=False`` mirrors the
    Spark side's ``_candles_df(with_volume=False)``: strat_classify
    never consumes volume, so neither engine may carry the guarded
    micros sum through a column it would then drop (whether an
    engine prunes an unused error() column is not a contract)."""
    vol = f"         {sql_msum('value')} as volume,\n" if volume else ""
    return f"""
with e as (
  select event_type, value, ts, event_id,
         cast(floor(epoch(ts)/{DAY})*{DAY} as bigint) as ws
  from events where ts is not null
), r as (
  select *,
         row_number() over (partition by event_type, ws order by ts, event_id) rf,
         row_number() over (partition by event_type, ws order by ts desc, event_id desc) rl
  from e
), candles as (
  select event_type, ws as window_start_epoch,
         max(case when rf = 1 then value end) as open,
         max(value) as high,
         min(value) as low,
         max(case when rl = 1 then value end) as close,
{vol}         count(*) as n_trades
  from r group by event_type, ws
)
"""

SQL_ORACLES = {
    "ts_similarity_topk": f"""
        with series0 as (
          select user_id,
                 list(value::double order by ts, event_id) as vals
          from events where ts is not null group by user_id
        ),
        series as (
          -- mirrors the Spark side's in-plan TSM_MAX_SERIES guard:
          -- a series past the retention cap fails loudly here too
          select user_id, vals from series0
          where case when len(vals) <= {TSM_MAX_SERIES} then true
                else error('ts_similarity_topk: series exceeds '
                           'TSM_MAX_SERIES={TSM_MAX_SERIES}') end
        ),
        q0 as (
          select vals[1:{TSM_W}] as qp from series
          where user_id = {TSM_QUERY_USER} and len(vals) >= {TSM_W}
        ),
        qs as (
          select qp,
                 list_reduce(qp, (a, x) -> a + x) / {TSM_W}.0 as mq
          from q0
        ),
        qs2 as (
          select qp, mq,
                 list_reduce(list_transform(qp, x -> (x - mq) * (x - mq)),
                             (a, b) -> a + b) / {TSM_W}.0 as vq
          from qs
        ),
        wins as (
          select user_id, i as start_idx,
                 list_slice(vals, i, i + {TSM_W} - 1) as w
          from (select user_id, vals,
                       unnest(range(1, len(vals) - {TSM_W} + 2)) as i
                from series where len(vals) >= {TSM_W})
        ),
        w1 as (
          select user_id, start_idx, w, qp, mq, vq,
                 list_reduce(w, (a, x) -> a + x) / {TSM_W}.0 as mw
          from wins cross join qs2
        ),
        w2 as (
          select *, list_reduce(list_transform(w, x -> (x - mw) * (x - mw)),
                                (a, b) -> a + b) / {TSM_W}.0 as vw
          from w1
        ),
        w3 as (
          select user_id, start_idx,
                 sqrt(list_reduce(list_transform(range(1, {TSM_W} + 1),
                   i -> ((w[i] - mw) / sqrt(vw) - (qp[i] - mq) / sqrt(vq))
                      * ((w[i] - mw) / sqrt(vw) - (qp[i] - mq) / sqrt(vq))),
                   (a, b) -> a + b)) as dist
          from w2 where vw > 0 and vq > 0
        ),
        ranked as (
          select user_id, start_idx, dist,
                 row_number() over (order by dist, user_id, start_idx) as rank
          from w3
          where not (user_id = {TSM_QUERY_USER} and start_idx = 1)
        )
        select user_id, cast(start_idx as bigint) as start_idx, dist,
               cast(rank as bigint) as rank
        from ranked where rank <= {TSM_K}
    """,
    "map_filter": """
        select event_id, user_id, value * 1.1 as value_usd
        from events where event_type = 'purchase' and value > 50
    """,
    "fold_count": f"""
        select event_type, count(*) as n,
               {sql_msum('value')} as sum_value,
               round({sql_mtot("value")} / count(value), 4) as avg_value
        from events group by event_type
    """,
    "wordcount": f"""
        select token, count(*) as n
        from (select unnest({SQL_TOKS.format(c='text')}) as token from documents)
        group by token
    """,
    "skip_take": f"""
        select event_id, user_id, {_E} as ts_epoch, value
        from (
          select *, row_number() over (order by ts, event_id) - 1 as ord
          from events where ts is not null
        ) where ord between 1000 and 1099
    """,
    "take_while": f"""
        with o as (
          select *, row_number() over (order by ts, event_id) - 1 as ord
          from events where ts is not null
        ),
        stop as (select min(ord) as s from o where value > {TAKE_WHILE_V})
        select event_id, user_id, {_E} as ts_epoch, value
        from o, stop where s is null or ord < s
    """,
    "skip_while": f"""
        with o as (
          select *, row_number() over (order by ts, event_id) - 1 as ord
          from events where ts is not null
        ),
        stop as (select min(ord) as s from o where value > {TAKE_WHILE_V})
        select event_id, user_id, {_E} as ts_epoch, value
        from o, stop where ord >= s
    """,
    "cycle_take": f"""
        select cast(ord % 7 as bigint) as slot,
               count(*) as n,
               min({_E}) as min_ts_epoch, max({_E}) as max_ts_epoch
        from (
          select *, row_number() over (order by ts, event_id) - 1 as ord
          from events where ts is not null
        ) group by 1
    """,
    "merge_take": f"""
        select event_id, user_id, {_E} as ts_epoch, value
        from (
          select * from (
            select event_id, user_id, ts, value from events where event_type = 'click' and ts is not null
            union all
            select event_id, user_id, ts, value from events where event_type = 'view' and ts is not null
          ) order by ts, event_id limit 100
        )
    """,
    "chunk_fold": f"""
        with o as (
          select *, row_number() over (order by ts, event_id) - 1 as ord from events
          where ts is not null
        )
        select cast(floor(ord / 500.0) as bigint) as chunk,
               count(*) as n, {sql_msum('value')} as sum_value,
               min({_E}) as min_ts_epoch, max({_E}) as max_ts_epoch
        from o group by 1
    """,
    "chunk_fold_timeout": f"""
        with o as (
          select *, {_E} as e from events where ts is not null
        ),
        b as (
          select *, case when e - lag(e) over (order by ts, event_id)
                              > {CHUNK_TIMEOUT_GAP} then 1 else 0 end as brk
          from o
        ),
        s as (
          select *, cast(sum(brk) over (
            order by ts, event_id rows unbounded preceding) as bigint)
            as session
          from b
        ),
        c as (
          select *, row_number() over (
            partition by session order by ts, event_id) - 1 as ord
          from s
        )
        select session,
               cast(floor(ord / {CHUNK_TIMEOUT_SIZE}.0) as bigint) as chunk,
               count(*) as n, {sql_msum('value')} as sum_value,
               min(e) as min_ts_epoch, max(e) as max_ts_epoch
        from c group by 1, 2
    """,
    "latest_per_key": f"""
        select user_id, {_E} as ts_epoch, event_id, event_type, value
        from (
          select *, row_number() over (
            partition by user_id order by ts desc, event_id desc) as rn
          from events
        ) where rn = 1
    """,
    "tumbling_window": f"""
        select event_type,
               cast(floor(epoch(ts)/{DAY})*{DAY} as bigint) as window_start_epoch,
               count(*) as n, {sql_msum('value')} as sum_value
        from events where ts is not null group by 1, 2
    """,
    "tumbling_window_gapfill": f"""
        with base as (
          select event_type,
                 cast(floor(epoch(ts)/{DAY})*{DAY} as bigint) as ws,
                 count(*) as n, {sql_msum('value')} as sum_value
          from events where value >= {GAPFILL_TAU} group by 1, 2
        ),
        span as (
          select event_type, min(ws) as lo, max(ws) as hi from base group by 1
        ),
        grid as (
          select event_type, unnest(generate_series(lo, hi, {DAY})) as ws
          from span
        )
        select g.event_type, g.ws as window_start_epoch,
               cast(coalesce(b.n, 0) as bigint) as n, b.sum_value
        from grid g
        left join base b on g.event_type = b.event_type and g.ws = b.ws
    """,
    "hopping_window": f"""
        with expanded as (
          select event_type, value,
                 unnest([cast(floor(epoch(ts)/{HOP})*{HOP} - k*{HOP} as bigint)
                         for k in range(0, {DAY // HOP})]) as ws
          from events where ts is not null
        )
        select event_type, ws as window_start_epoch,
               count(*) as n, {sql_msum('value')} as sum_value
        from expanded group by 1, 2
    """,
    "hopping_window_gapfill": f"""
        with expanded as (
          select event_type, value,
                 unnest([cast(floor(epoch(ts)/{HOP})*{HOP} - k*{HOP} as bigint)
                         for k in range(0, {DAY // HOP})]) as ws
          from events where value >= {GAPFILL_TAU}
        ),
        base as (
          select event_type, ws, count(*) as n,
                 {sql_msum('value')} as sum_value
          from expanded group by 1, 2
        ),
        span as (
          select event_type, min(ws) as lo, max(ws) as hi from base group by 1
        ),
        grid as (
          select event_type, unnest(generate_series(lo, hi, {HOP})) as ws
          from span
        )
        select g.event_type, g.ws as window_start_epoch,
               cast(coalesce(b.n, 0) as bigint) as n, b.sum_value
        from grid g
        left join base b on g.event_type = b.event_type and g.ws = b.ws
    """,
    "session_window": f"""
        with marked as (
          select user_id, ts, value,
                 -- STRICT >: Spark's session_window merges an event
                 -- landing exactly at previous + gap (probed on
                 -- Spark 4; its docs suggest otherwise) — split only
                 -- strictly beyond the gap
                 case when lag(ts) over w is null
                        or ts > lag(ts) over w + interval 1 hour
                      then 1 else 0 end as new_session
          from events where ts is not null
          window w as (partition by user_id order by ts)
        ), sessions as (
          select user_id, ts, value,
                 sum(new_session) over (partition by user_id order by ts
                   rows between unbounded preceding and current row) as session_id
          from marked
        )
        select user_id,
               {SQL_EPOCH.format(c='min(ts)')} as session_start_epoch,
               count(*) as n, {sql_msum('value')} as sum_value
        from sessions group by user_id, session_id
    """,
    "lag_window": f"""
        select user_id, ts_epoch, v_2, v_1, v_0 from (
          select user_id, {_E} as ts_epoch,
                 lag(value, 2) over w as v_2,
                 lag(value, 1) over w as v_1,
                 value as v_0
          from events where ts is not null
          window w as (partition by user_id order by ts, event_id)
        ) where v_2 is not null
    """,
    "interval_join": f"""
        select a.user_id,
               a.event_id as purchase_id, b.event_id as error_id,
               {SQL_EPOCH.format(c='a.ts')} as purchase_ts_epoch,
               {SQL_EPOCH.format(c='b.ts')} as error_ts_epoch
        from events a join events b
          on a.user_id = b.user_id
         and a.ts > b.ts - interval 1 hour
         and a.ts < b.ts + interval 1 hour
        where a.event_type = 'purchase' and b.event_type = 'error'
    """,
    "interval_join_left": f"""
        select a.user_id,
               a.event_id as purchase_id, b.event_id as error_id,
               {SQL_EPOCH.format(c='a.ts')} as purchase_ts_epoch,
               {SQL_EPOCH.format(c='b.ts')} as error_ts_epoch
        from (select * from events where event_type = 'purchase') a
        left join (select * from events where event_type = 'error') b
          on a.user_id = b.user_id
         and a.ts > b.ts - interval 1 hour
         and a.ts < b.ts + interval 1 hour
    """,
    "distinct_count": """
        select event_type,
               count(distinct user_id) as n_users,
               count(*) as n_events
        from events group by event_type
    """,
    "stream_table_join": """
        select o_orderkey, o_custkey, c_name, c_mktsegment, o_totalprice
        from orders left join customer on o_custkey = c_custkey
    """,
    "asof_enrich": f"""
        with p as (
          select user_id, ts, event_id, value from events
          where event_type = 'purchase' and ts is not null
        ),
        v as (
          select user_id, ts, max(value) as view_value from events
          where event_type = 'view' and ts is not null group by 1, 2
        )
        select p.user_id,
               {SQL_EPOCH.format(c='p.ts')} as ts_epoch,
               p.event_id, p.value, v.view_value
        from p asof left join v
          on p.user_id = v.user_id and v.ts <= p.ts
    """,
    "candles": _candles_cte() + """
        select * from candles
    """,
    # the rollup is logically the direct daily aggregation — same SQL
    "candles_rollup": _candles_cte() + """
        select * from candles
    """,
    "strat_classify": _candles_cte(volume=False) + """
        , lagged as (
          select event_type, window_start_epoch, open, close,
                 greatest(open, close) as top, least(open, close) as bottom,
                 lag(greatest(open, close)) over w as prev_top,
                 lag(least(open, close)) over w as prev_bottom
          from candles
          window w as (partition by event_type order by window_start_epoch)
        )
        select event_type, window_start_epoch,
               case when top > prev_top and bottom < prev_bottom then 'outside'
                    when top > prev_top then 'up'
                    when bottom < prev_bottom then 'down'
                    else 'inside' end as strat_class,
               case when open < close then 'green' else 'red' end as color
        from lagged where prev_top is not null
    """,
    "range_band_count": f"""
        with r as (
          select i as range_id,
                 cast({sql_h64('cast(i as varchar)')} % 90 as double) as lo,
                 cast({sql_h64('cast(i as varchar)')} % 90 as double)
                   + 5 + cast({sql_h64('cast(i as varchar)', salt=1)} % 20 as double) as hi
          from range({N_RANGES}) t(i)
        )
        select range_id, lo, hi, count(*) as n,
               {sql_msum('value')} as sum_value
        from events join r on value >= lo and value <= hi
        group by range_id, lo, hi
    """,
    "value_percentiles": """
        select event_type,
               round(quantile_cont(value, 0.5), 6) as p50,
               round(quantile_cont(value, 0.9), 6) as p90,
               round(quantile_cont(value, 0.99), 6) as p99
        from events
        where value is null or abs(value) < 1e18
        group by event_type
    """,
    "gap_detect": f"""
        select user_id, prev_ts_epoch, ts_epoch,
               ts_epoch - prev_ts_epoch as gap_seconds
        from (
          select user_id,
                 {SQL_EPOCH.format(c='lag(ts) over w')} as prev_ts_epoch,
                 {_E} as ts_epoch
          from events
          window w as (partition by user_id order by ts, event_id)
        ) where ts_epoch - prev_ts_epoch > {6 * 3600}
    """,
    "parse_json_props": """
        select event_type, count(*) as n,
               cast(sum(cast(json_extract(props, '$.k') as bigint)) as bigint) as sum_k,
               min(cast(json_extract(props, '$.k') as bigint)) as min_k,
               max(cast(json_extract(props, '$.k') as bigint)) as max_k
        from events group by event_type
    """,
    "throttle_sample": f"""
        select event_id, user_id, event_type, {_E} as ts_epoch, value
        from events
        where {sql_h64('cast(event_id as varchar)')} % 10 = 0
    """,
    "twap_daily": f"""
        with rows as (
          select event_type,
                 cast(floor(epoch(ts)/{DAY})*{DAY} as bigint) as day,
                 ts, event_id, value,
                 lead(ts) over (
                   partition by event_type, cast(floor(epoch(ts)/{DAY})*{DAY} as bigint)
                   order by ts, event_id
                 ) as next_ts
          from events
        ),
        d as (
          select event_type, day, value,
                 cast({SQL_EPOCH.format(c='next_ts')}
                      - {SQL_EPOCH.format(c='ts')} as double) as dt
          from rows where next_ts is not null
        )
        select event_type, day,
               {sql_msum('value * dt')} / round(sum(dt), 2) as twap,
               count(*) as n_obs
        from d where dt > 0
        group by 1, 2
    """,
    "value_histogram": f"""
        select event_type, bin, count(*) as n,
               cast(bin * {HIST_BIN} as double) as bin_lo
        from (
          select event_type,
                 cast(floor(value / {HIST_BIN}) as bigint) as bin
          from events
          where value is null or abs(value) < 1e18
        )
        group by 1, 2
    """,
    "pattern_followed_by": f"""
        with errs as (
          select user_id, event_id as err_id, ts as err_ts
          from events where event_type = 'error'
        ),
        buys as (
          select user_id as b_user, event_id as buy_id, ts as buy_ts
          from events where event_type = 'purchase'
        ),
        joined as (
          select user_id, err_id, err_ts, buy_id, buy_ts
          from errs join buys
            on user_id = b_user
           and buy_ts > err_ts
           and buy_ts <= err_ts + interval 1 hour
        ),
        ranked as (
          select *, row_number() over (
            partition by user_id, err_id order by buy_ts, buy_id
          ) as rn
          from joined
        )
        select user_id, err_id,
               {SQL_EPOCH.format(c='err_ts')} as err_ts_epoch,
               buy_id,
               {SQL_EPOCH.format(c='buy_ts')} as buy_ts_epoch
        from ranked where rn = 1
    """,
    "funnel_3step": f"""
        with v as (
          select user_id, min(ts) as t_view
          from events where event_type = 'view' group by user_id
        ),
        c as (
          select e.user_id, v.t_view, min(e.ts) as t_click
          from events e join v on e.user_id = v.user_id
          where e.event_type = 'click'
            and e.ts > v.t_view
            and e.ts <= v.t_view + interval 7 days
          group by e.user_id, v.t_view
        ),
        p as (
          select e.user_id, c.t_view, c.t_click, min(e.ts) as t_purchase
          from events e join c on e.user_id = c.user_id
          where e.event_type = 'purchase'
            and e.ts > c.t_click
            and e.ts <= c.t_click + interval 7 days
          group by e.user_id, c.t_view, c.t_click
        )
        select user_id,
               {SQL_EPOCH.format(c='t_view')} as t_view_epoch,
               {SQL_EPOCH.format(c='t_click')} as t_click_epoch,
               {SQL_EPOCH.format(c='t_purchase')} as t_purchase_epoch
        from p
    """,
    "cohort_retention": f"""
        with seen as (
          select user_id,
                 cast(floor(epoch(ts)/{DAY})*{DAY} as bigint) as day
          from events
        ),
        first as (
          select user_id, min(day) as cohort_day from seen group by user_id
        )
        select cohort_day,
               cast((day - cohort_day) / {DAY} as bigint) as day_offset,
               cast(count(distinct seen.user_id) as bigint) as active_users
        from seen join first on seen.user_id = first.user_id
        group by 1, 2
    """,
    "salted_sum": f"""
        select event_type, count(*) as n,
               {sql_msum('value')} as sum_value,
               min(value) as min_value, max(value) as max_value
        from events group by event_type
    """,
    "stratified_sample": f"""
        select event_id, user_id, event_type, {_E} as ts_epoch, value
        from events
        where {' or '.join(
            f"(event_type = '{stype}' and "
            f"{sql_h64('cast(event_id as varchar)')} % {n} = 0)"
            for stype, n in sorted(STRATA_RATES.items())
        )}
    """,
    "split_routes": """
        select 'purchase' as route, event_id, user_id, value
        from events where event_type = 'purchase'
        union all
        select 'error' as route, event_id, user_id, value
        from events where event_type = 'error'
    """,
}
