"""Shared helpers for the query catalog (Spark side + oracle SQL text)."""

from __future__ import annotations

import os
import stat

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one sf table; transparently handles TIMESTAMP(NANOS)
    parquet columns (Spark reads them as long ns with the legacy
    flag; we truncate to µs like DuckDB/Arrow consumers do).

    The returned HANDLE (a lazy plan — no rows, no scan results) is
    memoized per session, keyed by the file's absolute path + mtime +
    size (for a parquet directory: the max mtime and summed size over
    everything under it, so an in-place rewrite of one part file is a
    new key): ``spark.read.parquet`` re-lists the file and re-reads the
    parquet footer on every call, ~0.14 s of driver-side work per
    table PER QUERY BUILD (r13; a 7-table TPC-H build paid ~1 s
    before any job ran). This is schema/listing metadata reuse — the
    same thing a catalog table or Spark's own
    filesourcePartitionFileCacheSize provide — NOT data or result
    caching: every action still scans the parquet inputs. A rewritten
    file (new mtime/size) misses the cache and is re-read, so
    regenerated probe corpora stay correct within one process."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # parquet timestamps read as timestamp_ntz; epoch outputs
    # (unix_timestamp) interpret ntz in the session zone — pin UTC so
    # results match the DuckDB oracle regardless of the host TZ
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    cache = getattr(spark, "_rstreams_table_cache", None)
    if cache is None:
        cache = {}
        spark._rstreams_table_cache = cache
    try:
        key = _stat_key(path)
    except OSError:
        key = None  # non-local/odd path: fall through uncached
    if key is not None and key in cache:
        return cache[key]
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if key is not None:
        cache[key] = df
    return df


def _stat_key(path: str) -> tuple:
    """(abspath, mtime_ns, size) of a file; for a directory the max
    mtime_ns and summed size over the directory and everything under
    it — its own stat does not change when a part file inside is
    rewritten in place."""
    st = os.stat(path)
    mtime, size = st.st_mtime_ns, st.st_size
    if stat.S_ISDIR(st.st_mode):
        for root, dirs, files in os.walk(path):
            for n in dirs + files:
                est = os.stat(os.path.join(root, n))
                mtime = max(mtime, est.st_mtime_ns)
                size += est.st_size
    return (os.path.abspath(path), mtime, size)


def epoch(col: Column) -> Column:
    """Timestamp → whole epoch seconds (bigint): the second CONTAINING
    the instant, i.e. floor toward -inf — engine-portable (DuckDB:
    floor(epoch(ts))). NOT unix_timestamp: that truncates sub-seconds
    toward zero, which lands pre-1970 instants one second late
    (1964-…58.778 → …59; an r6 probe with a -60y corpus diverged on
    every ts_epoch output). cast-to-double is micros/1e6 in BOTH
    engines — bit-identical, and exact-floor for |epoch| ≲ 142 years
    of 1970 (2^52 µs); beyond that both engines still floor the same
    double. The intermediate cast("timestamp") maps TIMESTAMP_NTZ
    through the (UTC-pinned) session zone — NTZ has no direct double
    cast."""
    return F.floor(col.cast("timestamp").cast("double")).cast("long")


# DuckDB text fragments mirroring rstreams_spark.functions.text —
# keep these byte-for-byte aligned with the Spark expressions.
SQL_EPOCH = "cast(floor(epoch({c})) as bigint)"
# translate(İ→I) before lower: the one token-affecting JVM/utf8proc
# lowercase divergence (see functions/text.py::_fold_i)
SQL_NORM = (
    "trim(regexp_replace(lower(translate({c}, 'İ', 'I')),"
    " '[^a-z0-9]+', ' ', 'g'))"
)
SQL_TOKS = "list_filter(string_split(" + SQL_NORM + ", ' '), x -> x != '')"
SQL_H64 = "cast(('0x' || substr(md5('{salt}:' || {s}), 1, 15)) as bigint)"


def sql_h64(s: str, salt: int = 0) -> str:
    return SQL_H64.format(salt=salt, s=s)


# DuckDB twins of tpch.py's integer-micros exact sums (_msum_parts /
# _mround / _mtot_d / _mdec — see the design note there). DuckDB sums
# bigint into HUGEINT, so the integer algebra is exact without the
# hi/lo overflow ceiling; values < 2^63 cast to the same double as
# Spark's long→double. `//` (DuckDB) and `div` (Spark) both truncate,
# and every numerator here is non-negative where it matters (L ≥ 0).
def _sql_fin(expr: str, inner: str) -> str:
    """``inner`` when ``expr`` is NULL or in the micros-sum domain
    (finite, |x| < 1e9 — NaN/Inf compare false), else a loud error —
    the twin of tpch._finite_or_raise (same message, so the engines
    fail identically on out-of-domain measures)."""
    return (
        f"case when ({expr}) is null or abs(({expr})) < 1000000000.0"
        f" then {inner}"
        f" else cast(error('measure outside exact micros-sum domain"
        f" (finite, |x| < 1e9 required): '"
        f" || ({expr})::varchar) as bigint) end"
    )


def sql_mhi(expr: str) -> str:
    return f"sum({_sql_fin(expr, f'cast(floor(({expr})) as bigint)')})"


def sql_mlo(expr: str) -> str:
    inner = (
        f"cast(floor((({expr}) - floor(({expr}))) * 1000000.0 + 0.5)"
        " as bigint)"
    )
    return f"sum({_sql_fin(expr, inner)})"


def sql_msum(expr: str, nd: int = 2) -> str:
    """Rounded-nd-dp double of an exact micros sum (mirror of
    tpch._mround over _msum_parts)."""
    d = 10 ** (6 - nd)
    return (
        f"cast(({sql_mhi(expr)} * {10**nd}"
        f" + ({sql_mlo(expr)} + {d // 2}) // {d}) as double)"
        f" / {float(10**nd)}"
    )


def sql_mtot(expr: str) -> str:
    """Exact micros-sum total as double (mirror of tpch._mtot_d)."""
    return (
        f"(cast({sql_mhi(expr)} as double)"
        f" + cast({sql_mlo(expr)} as double) / 1000000.0)"
    )
