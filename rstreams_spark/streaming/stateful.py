"""Custom stateful streaming operators via applyInPandasWithState.

``stream_lag_window`` is the live counterpart of the reference's
``lag_window`` (src/window.rs:9-40): per-key buffer of the last N
values, emitting the buffer for every arriving row once full. Its
state is kept per KEY GROUP, not per key: a key belongs to group
``pmod(hash(key), KEY_GROUPS)``, and one group's state holds the
buffers of all its keys, so each trigger makes at most
``KEY_GROUPS`` Python calls (one more for NULL keys, which take a
group of their own; PySpark's per-call conversion cost, not the
kernel, set the per-key version's trigger time). The price is that a
trigger rewrites the whole state of every group it touches: the
grain assumes a trigger carries most of the state's keys (see
``stream_lag_window``). The groups are partitioned across executors
and checkpointed — what the reference's KV store holds, made
distributed and fault-tolerant.

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

# Key groups of stream_lag_window's state. A checkpoint pins it: its
# blobs record the count, and a key's group is a function of it, so
# changing it would route keys away from their buffers.
KEY_GROUPS = 64
# The grouping value of key group i, so a key's group is
# _GROUP_IDS[pmod(hash(key), 64)]: the smallest non-negative int whose
# Spark `hash` h (the Murmur3 the state shuffle partitions by) has
# pmod(h, 64) = i and pmod(h, 315) = rev6(i), i's six bits reversed.
# Over N state partitions the groups then spread as evenly as 64 can
# for every N = m * 2^k with m dividing 315 and k <= 6 (2, 3, 4, 5, 6,
# 7, 8, 9, 10, 12, 14, 16, 20, 24, 28, 32, 36, 40, 48, 56, 64, 72, 80,
# 96, ...): a partition holds at most ceil(64 / N) groups. For N
# dividing 64, group i lands on partition i mod N, the partition a
# per-key grouping gives each of its keys. Grouping by i itself would
# hash the key twice: 0..63 fall 11/16/16/21 over 4 partitions.
# Pinned, like KEY_GROUPS, by every checkpoint.
_GROUP_IDS = (
    22362, 24714, 7354, 781, 13472, 10717, 14160, 11697,
    35895, 22566, 37333, 7326, 40276, 17993, 11409, 1815,
    3454, 2513, 24998, 25788, 2406, 21225, 10927, 23445,
    13514, 3806, 2941, 35703, 879, 20794, 40463, 6862,
    2260, 59380, 4156, 3971, 3223, 12296, 2725, 29670,
    13176, 83216, 417, 1265, 19000, 46053, 13973, 4853,
    45479, 20605, 8465, 33227, 33070, 11780, 41927, 386,
    5976, 344, 11075, 18965, 326, 12157, 5670, 50933,
)
# NULL keys take a group of their own, so every other group's integral
# keys cross into pandas as int64: a NULL among them would widen the
# column to float64, which rounds keys past 2^53 (invariant 22).
_NULL_GROUP = -1
_KEY_GROUPS_META = b"key_groups"


def _lag_state_decode(blob: bytes, names: list[str]):
    """One key group's state blob -> (keys, slots): the keys as a
    numpy array in the form pandas gives the batch's keys, and one
    float row per slot name, NaN = empty.
    Raises ValueError when the blob was written with another key-group
    count or another slot layout (lag or value-column count)."""
    import numpy as np
    import pyarrow as pa

    tbl = pa.ipc.open_stream(pa.py_buffer(blob)).read_all()
    meta = (tbl.schema.metadata or {}).get(_KEY_GROUPS_META)
    if meta != str(KEY_GROUPS).encode():
        raise ValueError(
            "stream_lag_window: the checkpoint's state was written with "
            f"{meta.decode() if meta else 'no'} key groups, this code "
            f"routes keys to {KEY_GROUPS}; its keys would land in other "
            "groups' state, so start from a fresh checkpoint"
        )
    if tbl.column_names[1:] != names:
        raise ValueError(
            "stream_lag_window: the checkpoint's state holds slots "
            f"{tbl.column_names[1:]}, this query expects {names} (lag or "
            "value columns changed); start from a fresh checkpoint"
        )
    keys = tbl.column(0).to_pandas().to_numpy()
    return keys, np.stack([tbl.column(s).to_numpy() for s in names])


def _lag_state_encode(key: str, keys, slots, names: list[str]) -> bytes:
    """Arrow IPC stream bytes of one key group's state: the key column
    (its native type; the NULL-key group's is whatever pandas held),
    one nullable double column per slot (NULL = empty), and KEY_GROUPS
    in the schema metadata."""
    import numpy as np
    import pyarrow as pa

    cols = [pa.array(keys, from_pandas=True)]
    cols += [pa.array(np.ascontiguousarray(v), from_pandas=True) for v in slots]
    tbl = pa.table(cols, names=[key, *names]).replace_schema_metadata(
        {_KEY_GROUPS_META: str(KEY_GROUPS).encode()}
    )
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, tbl.schema) as w:
        w.write_table(tbl)
    return sink.getvalue().to_pybytes()


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
    the last ``lag`` double values PER column. Output: one
    ``values_<col> array<double>`` per column (``values`` for a single
    column), oldest → newest. Rows of a key are processed in ``ts``
    order across Arrow chunks; buffers carry across batches — bounded
    at ``lag`` × columns doubles per key.

    State is kept per key group, ``pmod(hash(key), KEY_GROUPS)``:
    one Python call per group and trigger orders the group's rows by
    (key, time) and computes every key's windows with numpy gathers.
    The groups are labelled (``_GROUP_IDS``) so that a key lands on
    the state partition a per-key grouping would give it when the
    partition count N divides 64, and no partition holds more than
    ceil(64 / N) groups for N = m * 2^k with m dividing 315 (6, 12, 24,
    48, 96, ...). At most 64 partitions (65 with NULL keys) hold
    groups, so more state partitions than that leave the rest idle for
    this operator; other counts (11, 100, ...) split the groups
    unevenly.

    The grain assumes a trigger carries most of the state's keys, as
    ``stream_ticks`` does (~1,000 symbols, nearly all in every
    trigger). A trigger rewrites the whole state of every group it
    touches, keys without rows included: once it carries more than a
    few dozen keys it touches nearly every group, so its Python work
    and the state-store bytes it checkpoints grow with all the keys
    the state holds, not with the keys it carries. The per-key version
    wrote only the touched keys. A sparse stream (many keys in the
    state, few per trigger) therefore checkpoints far more per trigger
    than it did; its triggers ran faster up to 1M keys held and
    level at ~3M (1,000 keys a trigger).
    ``bench_streaming.py --lag-state`` measures both, and
    PERF.md ("stream_lag_window keeps its state per key group") has
    the numbers.

    A group's state is one ``binary`` field: Arrow IPC stream bytes of
    a table with the key in its native type and one nullable double
    column per buffer slot (NULL = empty), with ``KEY_GROUPS`` in the
    schema metadata — decode it with ``pyarrow.ipc.open_stream``. A
    blob written under another key-group count raises ValueError
    naming both counts rather than re-routing keys. A checkpoint
    written by the earlier per-key version (state keyed by the key,
    scalar slot fields) fails on restart with Spark's state-schema
    error (STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE); start such a query
    from a fresh checkpoint.

    Only plain columns cross the Python boundary (CLAUDE.md invariant
    25): event time goes in as epoch micros, each buffer slot comes
    back as its own double column, and the JVM rebuilds ``ts`` and the
    arrays. NULL keys take a group of their own, so no other group's
    integral keys are widened to float64 by pandas (invariant 22). A
    NULL key is its own key; a NULL ``ts`` sorts last in its
    key and comes out as a NULL ``ts``.

    NULL **or NaN** values cannot ride the live buffer: NULL marks an
    empty state slot, and pandas stores SQL NULL as NaN in float
    columns, so the two are indistinguishable at this layer — both
    raise the same 'NULL or NaN values' error (the batch twin buffers
    NaN; live callers must filter/coalesce both upstream).
    """
    import numpy as np

    cols = [value_col] if isinstance(value_col, str) else list(value_col)
    # single-column keeps the original "values" name; multi-column
    # disambiguates per source column
    names = ["values"] if len(cols) == 1 else [f"values_{c}" for c in cols]
    # internal column names: a prefix no input column starts with, so
    # the internal columns never collide with the key or a value
    pre = "_"
    while any(c.startswith(pre) for c in (key, *cols)):
        pre += "_"
    us, kg, blob = f"{pre}us", f"{pre}kg", f"{pre}state"
    slots = [[f"{pre}v{i}_{j}" for j in range(lag)] for i in range(len(cols))]
    flat = [s for per_col in slots for s in per_col]
    ncols = len(cols)
    # preserve the key's NATIVE dtype: the old unconditional
    # cast-to-string cost ~20% throughput on long keys (string sort
    # in the group-split + string Arrow transfer both ways) and
    # changed the output schema vs the batch twin
    key_type = dict(df.dtypes)[key]
    out_schema = f"`{key}` {key_type}, {us} bigint, " + ", ".join(
        f"{s} double" for s in flat
    )

    def fn(
        group_key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # a group's microbatch may span multiple Arrow chunks —
        # concat BEFORE sorting (invariant 7)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        whole = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        # NULL values cannot ride this operator: NULL marks an empty
        # state slot. Fail with the contract instead of emitting a
        # buffer with holes; filter or coalesce NULL values upstream.
        # NaN rides the same guard BY CONSTRUCTION: pandas stores SQL
        # NULL as NaN in float columns, so the two cannot be told
        # apart at this layer — a legitimate NaN double (which the
        # batch twin would buffer) is rejected with the same message.
        vals = np.stack(
            [whole[c].to_numpy(dtype=float, na_value=np.nan) for c in cols]
        )
        for c, v in zip(cols, vals):
            if np.isnan(v).any():
                raise ValueError(
                    f"stream_lag_window: NULL or NaN values in "
                    f"'{c}' — the live lag buffer cannot carry "
                    "them (NULL marks an empty state slot, and pandas "
                    "folds NaN and SQL NULL together in float "
                    "columns); filter or coalesce upstream"
                )
        keys = whole[key].to_numpy()
        t = whole[us].to_numpy()
        if state.exists:
            prev_keys, prev = _lag_state_decode(state.get[0], flat)
        else:
            prev_keys, prev = keys[:0], np.empty((len(flat), 0))
        s, n = len(prev_keys), len(whole)
        # one code per distinct key over the state's keys and the
        # batch's (the NULL group's one key gets a code too)
        codes, uniq = pd.factorize(
            np.concatenate([prev_keys, keys]), use_na_sentinel=False
        )
        sc, bc = codes[:s], codes[s:]
        u = len(uniq)
        # each key's segment of the buffer: its lag state slots (NaN
        # where empty), then its batch rows in time order
        order = np.lexsort((t, bc))
        cnt = np.bincount(bc, minlength=u)
        seg = np.arange(u) * lag + np.cumsum(cnt) - cnt
        buf = np.full((ncols, u * lag + n), np.nan)
        # state rows are (column, slot) pairs: (ncols * lag, s) ->
        # (ncols, s, lag), one lag-wide run per state key
        buf[:, seg[sc][:, None] + np.arange(lag)] = (
            prev.reshape(ncols, lag, s).transpose(0, 2, 1)
        )
        pos = np.arange(n) + (bc[order] + 1) * lag  # sorted row -> buffer
        buf[:, pos] = vals[:, order]
        # a row emits once its window's oldest slot is filled; slot j
        # of every emitted row is one gather
        first = pos - lag + 1
        emit = ~np.isnan(buf[0, first])
        first = first[emit]
        # new state: the last lag slots of every key's segment,
        # untouched keys (state only) included
        tail = (seg + cnt)[:, None] + np.arange(lag)
        state.update((
            _lag_state_encode(
                key, uniq,
                buf[:, tail].transpose(0, 2, 1).reshape(ncols * lag, u), flat,
            ),
        ))
        if not len(first):
            return
        rows = order[emit]
        out = {key: keys[rows], us: t[rows]}
        for i, per_col in enumerate(slots):
            for j, name in enumerate(per_col):
                out[name] = buf[i, first + j]
        # copy=False: no block consolidation, the gathers go as-is
        yield pd.DataFrame(out, copy=False)

    # NULL event time crosses as a sentinel past every valid timestamp
    # (Spark's max is year 9999, ~2.5e17 µs): the int64 column stays
    # non-nullable, sorts NULLs last, and comes back NULL below
    null_us = F.lit(1 << 62)
    group = F.element_at(
        F.array(*map(F.lit, _GROUP_IDS)),
        F.pmod(F.hash(key), F.lit(KEY_GROUPS)) + 1,
    )
    return (
        df.select(
            key,
            F.coalesce(F.unix_micros(ts), null_us).alias(us),
            *cols,
            F.when(F.col(key).isNull(), F.lit(_NULL_GROUP)).otherwise(group).alias(kg),
        )
        .groupBy(kg)
        .applyInPandasWithState(
            fn, out_schema, f"{blob} binary", "append", GroupStateTimeout.NoTimeout
        )
        .select(
            key,
            F.timestamp_micros(F.nullif(us, null_us)).alias(ts),
            *[F.array(*s).alias(nm) for s, nm in zip(slots, names)],
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
