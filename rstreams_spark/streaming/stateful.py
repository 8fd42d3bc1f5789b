"""Custom stateful streaming operators via applyInPandasWithState.

``stream_lag_window`` is the live counterpart of the reference's
``lag_window`` (src/window.rs:9-40): per-key buffer of the last N
values, emitting the buffer for every arriving row once full. State
is the per-key buffer (bounded at N rows), partitioned by key across
executors and checkpointed — exactly what the reference's KV store
holds, made distributed and fault-tolerant.

``stream_latest_per_key`` is the reference ``Table`` changelog
(src/table.rs:15-44) as an update-mode streaming aggregation.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ._chunks import concat_time_ordered

__all__ = [
    "stream_lag_window", "stream_latest_per_key", "stream_strat_classify",
    "stream_gap_detect", "stream_chunk_timeout", "stream_ordinal",
    "stream_skip", "stream_cycle", "stream_take_while",
]


def stream_lag_window(
    df: DataFrame,
    key: str,
    ts: str,
    lag: int,
    value_col: str | list[str],
) -> DataFrame:
    """Per-key sliding buffer of the last ``lag`` rows (streaming
    counterpart of ``operators.windows.lag_window``).

    ``value_col`` may be one column name or a list; the buffer holds
    the last ``lag`` double values PER column (parallel arrays in
    state, mirroring the batch operator's struct buffers for numeric
    columns). Output: one ``values_<col> array<double>`` per column,
    oldest → newest. Rows within a microbatch are processed in global
    ``ts`` order across Arrow chunks; buffers carry across batches
    via GroupState — bounded at ``lag`` × columns doubles per key.

    NULL **or NaN** values cannot ride the live buffer: the state
    arrays reject NULL elements, and pandas stores SQL NULL as NaN
    in float columns, so the two are indistinguishable at this layer
    — both raise the same 'NULL or NaN values' error (the batch twin
    buffers NaN; live callers must filter/coalesce both upstream).
    """
    cols = [value_col] if isinstance(value_col, str) else list(value_col)
    # single-column keeps the original "values" name; multi-column
    # disambiguates per source column
    names = ["values"] if len(cols) == 1 else [f"values_{c}" for c in cols]
    # preserve the key's NATIVE dtype: the old unconditional
    # cast-to-string cost ~20% throughput on long keys (string sort
    # in the group-split + string Arrow transfer both ways) and
    # changed the output schema vs the batch twin
    key_type = dict(df.dtypes)[key]
    out_schema = (
        f"{key} {key_type}, {ts} timestamp, "
        + ", ".join(f"{n} array<double>" for n in names)
    )
    state_schema = ", ".join(f"buf_{c} array<double>" for c in cols)

    def fn(
        group_key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        bufs = (
            [list(b) for b in state.get]
            if state.exists
            else [[] for _ in cols]
        )
        # a group's microbatch may span multiple Arrow chunks —
        # concat BEFORE sorting (invariant 7); _chunks skips the
        # copying concat for single-chunk groups and the sort for
        # already-monotonic batches
        whole = concat_time_ordered([pdf for pdf in pdfs if len(pdf)], ts)
        out: dict = {}
        if len(whole):
            # NULL values cannot ride this operator: the buffers are
            # float arrays, and Spark's applyInPandasWithState output
            # decoder rejects NULL array elements outright (probed:
            # even a hand-built array<double> with one None dies with
            # "Value at index is null" in the Arrow accessor), so the
            # batch twin's NULL-in-buffer semantics are unreachable
            # live. Fail with the contract instead of a JVM decode
            # crash; filter or coalesce NULL values upstream. NaN
            # rides the same guard BY CONSTRUCTION: pandas stores SQL
            # NULL as NaN in float columns, so isna() cannot tell the
            # two apart at this layer — a legitimate NaN double (which
            # the batch twin would buffer) is rejected with the same
            # message. Indistinguishable here; documented contract.
            for c in cols:
                if whole[c].isna().any():
                    raise ValueError(
                        f"stream_lag_window: NULL or NaN values in "
                        f"'{c}' — the live lag buffer cannot carry "
                        "them (applyInPandasWithState arrays reject "
                        "NULL elements, and pandas folds NaN and SQL "
                        "NULL together in float columns); filter or "
                        "coalesce upstream"
                    )
            b = len(bufs[0])
            n = len(whole)
            # vectorized sliding buffer: no per-row Python loop (the
            # row-at-a-time version capped the whole Arrow-stateful
            # path at ~0.8 M rows/s; windows are just strided views)
            start = max(lag - 1 - b, 0)  # first batch row with a full buffer
            out[key] = np.repeat(group_key[0], max(n - start, 0))
            out[ts] = whole[ts].iloc[start:].to_numpy()
            for i, c in enumerate(cols):
                allv = np.concatenate(
                    [np.asarray(bufs[i], dtype=float),
                     whole[c].to_numpy(dtype=float)]
                )
                if len(allv) >= lag:
                    win = np.lib.stride_tricks.sliding_window_view(allv, lag)
                    # row p's buffer is the window ENDING at global
                    # index b+p, i.e. win[b+p-lag+1]
                    emit = win[start + b - lag + 1 :]
                    # Python lists, not an Arrow list column: PySpark's
                    # output converter runs list(x) on every row of an
                    # array column anyway (lists measured ~2x cheaper),
                    # and pads a batch holding more groups than rows
                    # with None rows, which an Arrow dtype turns into
                    # pd.NA that list() cannot iterate
                    out[names[i]] = pd.Series(emit.tolist(), dtype=object)
                else:
                    out[names[i]] = []
                bufs[i] = allv[-lag:].tolist()
        else:
            out = {key: [], ts: [], **{nm: [] for nm in names}}
        state.update(tuple(bufs))
        yield pd.DataFrame(out)

    return (
        df.select(key, ts, *cols)
        .groupBy(key)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )


def stream_latest_per_key(df: DataFrame, key: str, ts: str, value_col: str) -> DataFrame:
    """Changelog table as an update-mode streaming aggregation:
    max(struct(ts, value)) per key — one row of state per key."""
    packed = F.max(F.struct(F.col(ts), F.col(value_col))).alias("__latest")
    agg = df.groupBy(key).agg(packed)
    return agg.select(
        key,
        F.col(f"__latest.{ts}").alias(ts),
        F.col(f"__latest.{value_col}").alias(value_col),
    )


def stream_strat_classify(
    candles: DataFrame,
    key: str,
    ts: str,
) -> DataFrame:
    """Live candle-strat classification (reference
    example/stocks.rs classify_candle_strat): per-key state holds the
    previous candle's (top, bottom); each arriving FINALIZED candle
    is classified against it — inside/up/down/outside + color —
    mirroring the batch ``strat_classify`` lag logic exactly.

    Spark forbids a second stateful operator directly after a
    streaming aggregation, so the supported topology is two chained
    queries: candles stream → file/Kafka sink, then this operator
    over the candle stream (tests/test_streaming.py exercises the
    full two-stage pipeline). State is one (top, bottom) pair per
    key — constant size, watermark-independent.
    """
    out_schema = (
        f"{key} string, {ts} timestamp, strat_class string, color string"
    )
    state_schema = "prev_top double, prev_bottom double"

    def fn(
        group_key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        prev = state.get if state.exists else None
        # concat before sorting (invariant 7); fast paths in _chunks
        whole = concat_time_ordered([pdf for pdf in pdfs if len(pdf)], ts)
        out = {key: [], ts: [], "strat_class": [], "color": []}
        if len(whole):
            # vectorized shift-compare: each candle classifies against
            # its predecessor (carried state supplies candle -1)
            o = whole["open"].to_numpy(dtype=float)
            c = whole["close"].to_numpy(dtype=float)
            top, bottom = np.maximum(o, c), np.minimum(o, c)
            p_top = np.roll(top, 1)
            p_bottom = np.roll(bottom, 1)
            have_prev = np.ones(len(whole), dtype=bool)
            if prev is not None:
                p_top[0], p_bottom[0] = prev
            else:
                have_prev[0] = False
            above, below = top > p_top, bottom < p_bottom
            cls = np.where(
                above & below, "outside",
                np.where(above, "up", np.where(below, "down", "inside")),
            )
            out = {
                key: np.repeat(group_key[0], int(have_prev.sum())),
                ts: whole[ts].to_numpy()[have_prev],
                "strat_class": cls[have_prev],
                "color": np.where(o < c, "green", "red")[have_prev],
            }
            prev = (float(top[-1]), float(bottom[-1]))
        if prev is not None:
            state.update(prev)
        yield pd.DataFrame(out)

    return (
        candles.select(
            F.col(key).cast("string").alias(key), ts, "open", "close"
        )
        .groupBy(key)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )


def stream_gap_detect(
    df: DataFrame,
    key: str,
    ts: str,
    gap_seconds: int,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Live silence detection (reference ``StreamExt::timeout``,
    batch twin ``gap_detect``): emits one row per key whose stream
    has gone silent for more than ``gap_seconds`` of EVENT time,
    carrying the key and its last-seen timestamp.

    Event-time timeouts make this deterministic: each key's state
    arms a timeout at ``last_seen + gap``; when the watermark passes
    it, the engine invokes the function with ``hasTimedOut`` and the
    gap row is emitted — no wall-clock dependence, replayable from
    checkpoint. State is one timestamp per key.
    """
    out_schema = f"{key} string, last_seen timestamp"
    state_schema = "last_ms long"

    def fn(
        group_key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            (last_ms,) = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    key: [group_key[0]],
                    "last_seen": [pd.Timestamp(last_ms, unit="ms")],
                }
            )
            return
        last_ms = state.get[0] if state.exists else 0
        for pdf in pdfs:
            if len(pdf):
                batch_max = pdf[ts].max()
                last_ms = max(last_ms, int(batch_max.timestamp() * 1000))
        state.update((last_ms,))
        state.setTimeoutTimestamp(last_ms + gap_seconds * 1000)
        yield pd.DataFrame({key: [], "last_seen": []})

    return (
        df.select(F.col(key).cast("string").alias(key), ts)
        .withWatermark(ts, watermark)
        .groupBy(key)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_chunk_timeout(
    df: DataFrame,
    key: str,
    ts: str,
    size: int,
    gap_seconds: int,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Live count-OR-silence batching (reference
    ``StreamExt::chunks_timeout``, src/lib.rs; batch twin
    ``operators.stateless.chunk_timeout``): every arriving row is
    tagged with its per-key ``(session, chunk)`` id — a new session
    opens after more than ``gap_seconds`` of event-time silence, and
    chunks roll every ``size`` rows within a session.

    State per key is three longs (last event second, session id,
    rows already in the session) — O(1), watermark-independent. Gap
    deltas use WHOLE-SECOND truncation, matching the batch twin's
    ``unix_timestamp()`` exactly (an ms-precision delta would
    disagree with it on sub-second data straddling a second
    boundary). All input columns pass through (output schema =
    input + session/chunk) so consumers can actually batch their
    payloads; the key keeps its native dtype (the forced
    cast-to-string pattern measured ~20% throughput loss in
    ``stream_lag_window``). Each batch's rows are CONCATENATED then
    sorted by event time before the vectorized pass (invariant #7:
    per-chunk sorts would corrupt carried state on multi-chunk
    groups); breaks, session ids and in-session positions are pure
    numpy cumulatives, no Python per-row loop. Deterministic under
    the same watermark discipline as the other stateful ops: data
    later than the watermark bound would re-open past sessions and
    must be dropped upstream.
    """
    in_cols = [f.name for f in df.schema.fields]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", session bigint, chunk bigint"
    state_schema = "last_s long, sess long, pos long"

    def fn(
        group_key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            yield pd.DataFrame({c: [] for c in [*in_cols, "session", "chunk"]})
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ts, kind="mergesort", ignore_index=True
        )
        # whole seconds — identical truncation to the batch twin's
        # unix_timestamp(ts)
        e = (pdf[ts].astype("int64") // 1_000_000_000).to_numpy()
        if state.exists:
            last_s, sess0, pos0 = state.get
        else:
            last_s, sess0, pos0 = None, 0, 0
        prev = np.concatenate(([last_s if last_s is not None else e[0]], e[:-1]))
        brk = (e - prev) > gap_seconds
        if last_s is None:
            brk[0] = False
        sess = sess0 + np.cumsum(brk)
        idx = np.arange(len(e))
        start = np.maximum.accumulate(np.where(brk, idx, -1))
        pos = np.where(start >= 0, idx - start, idx + pos0)
        state.update((int(e[-1]), int(sess[-1]), int(pos[-1]) + 1))
        pdf["session"] = sess.astype("int64")
        pdf["chunk"] = (pos // size).astype("int64")
        yield pdf

    return (
        df.withWatermark(ts, watermark)
        .groupBy(key)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def stream_ordinal(
    df: DataFrame, key: str, ts: str, tiebreakers: list[str] | None = None
) -> DataFrame:
    """Per-key running row ordinal ``__ord`` (0-based, event-time
    order, continuous across microbatches) — the live building block
    for ``StreamExt::skip`` / ``cycle`` exactly as
    ``operators.stateless.ordinal`` is for the batch readings.

    ``tiebreakers``: extra CONTENT columns appended to the sort key.
    Without one, rows sharing an exact event time are numbered in
    arrival order — nondeterministic across reruns/retries (the
    instability class invariant #8 bans for anything persisted), so
    pass a unique content column whenever duplicate timestamps are
    possible and the assignment must be replayable.

    State is ONE long per key (rows seen so far). All input columns
    pass through (the output schema is the input schema + __ord), so
    downstream filters/tags see the full row. Batch rows are
    concatenated then sorted by (ts, *tiebreakers) before numbering
    (invariant #7).
    """
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", __ord bigint"
    state_schema = "seen long"
    cols = [f.name for f in df.schema.fields]
    sort_cols = [ts, *(tiebreakers or [])]

    def fn(
        group_key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            yield pd.DataFrame({c: [] for c in [*cols, "__ord"]})
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            sort_cols, kind="mergesort", ignore_index=True
        )
        seen = state.get[0] if state.exists else 0
        pdf["__ord"] = np.arange(seen, seen + len(pdf), dtype="int64")
        state.update((seen + len(pdf),))
        yield pdf

    return df.groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_skip(
    df: DataFrame, key: str, ts: str, n: int,
    tiebreakers: list[str] | None = None,
) -> DataFrame:
    """Live ``StreamExt::skip``: drop each key's first ``n`` rows
    (event-time order, counted across microbatches)."""
    return (
        stream_ordinal(df, key, ts, tiebreakers)
        .where(F.col("__ord") >= n)
        .drop("__ord")
    )


def stream_cycle(
    df: DataFrame, key: str, ts: str, n: int,
    tiebreakers: list[str] | None = None,
) -> DataFrame:
    """Live ``StreamExt::cycle`` (round-robin reading): tag each row
    with its per-key slot ``__cycle`` = running position mod ``n``."""
    return stream_ordinal(df, key, ts, tiebreakers).withColumn(
        "__cycle", F.pmod(F.col("__ord"), F.lit(n))
    )


def stream_take_while(
    df: DataFrame,
    key: str,
    ts: str,
    cond,
    tiebreakers: list[str] | None = None,
) -> DataFrame:
    """Live ``StreamExt::take_while``: emit each key's rows strictly
    before the FIRST (EVENT-time) row failing ``cond``. ``cond`` is
    a pandas-Series predicate (e.g. ``lambda pdf: pdf['v'] > 0``)
    evaluated vectorized per batch; a NULL/NaN predicate result
    counts as PASSING — the same policy as the batch twin
    (``RStream.take_while`` scans ``~cond`` for the stop ordinal,
    and NULL never satisfies it).

    State per key is the CUT TIMESTAMP (ns; far-future while open),
    not a boolean — so late rows are judged by event time, not
    arrival: a late row BEFORE the cut is still emitted, and a late
    VIOLATOR tightens the cut for everything after it. What append
    mode cannot do is retract already-emitted rows that a late
    violator retroactively invalidates — bound that window with the
    source watermark, the same discipline the sibling stateful ops
    document. Rows sharing the violator's exact timestamp pass only
    if they sorted before it (ts, *tiebreakers) in its own batch.
    """
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    state_schema = "cut_ns long"
    cols = [f.name for f in df.schema.fields]
    sort_cols = [ts, *(tiebreakers or [])]
    OPEN = 1 << 62

    def fn(
        group_key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        cut = state.get[0] if state.exists else OPEN
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            state.update((cut,))
            yield pd.DataFrame({c: [] for c in cols})
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            sort_cols, kind="mergesort", ignore_index=True
        )
        ts_ns = pdf[ts].astype("int64").to_numpy()
        before_cut = ts_ns < cut
        pdf = pdf.iloc[before_cut]
        if not len(pdf):
            state.update((cut,))
            yield pdf
            return
        ok = cond(pdf)
        # NULL result = pass (batch-twin parity)
        viol = (~ok.fillna(True).astype(bool)).to_numpy()
        if viol.any():
            fail = int(viol.argmax())
            cut = min(cut, int(ts_ns[before_cut][fail]))
            pdf = pdf.iloc[:fail]
        state.update((cut,))
        yield pdf

    return df.groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
