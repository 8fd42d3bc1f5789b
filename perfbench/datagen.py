"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``(seed, size)``: the same seed
writes byte-identical parquet files. The program under test only ever
sees the files.

- ``write_tpch``: the TPC-H-shaped star schema the catalog reads
  (region, nation, customer, supplier, part, orders, lineitem), with
  the same column names, types and value domains as the project's
  test tables. ``sf`` scales row counts (sf 1 = 6 M lineitem rows).
- ``write_ticks``: a stock-tick stream split into parquet files, one
  file per micro-batch. Symbols are Zipf-skewed over ``n_syms`` keys;
  a stated share of ticks is displaced later in the stream by at most
  ``max_delay_s`` of event time (out of order, but inside the
  watermark), so no tick is ever dropped as late.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]

DAY_US = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(datetime(y, m, d, tzinfo=timezone.utc).timestamp()) * 1_000_000


def _days(rng, n: int, lo: tuple, hi: tuple) -> pa.Array:
    """Midnight timestamps drawn uniformly from [lo, hi] (whole days)."""
    a, b = _epoch_us(*lo), _epoch_us(*hi)
    d = rng.integers(0, (b - a) // DAY_US + 1, n)
    return pa.array(a + d * DAY_US, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    """Two-decimal amounts, as the test tables store them."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng, values: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), values).cast(pa.string())


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def write_tpch(out: str, seed: int, sf: float) -> None:
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": rng.integers(9000, 10000, n_part) / 10.0,
    })
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, (1995, 1, 1), (2001, 8, 1)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, (1995, 1, 2), (2001, 11, 4)),
    })


TICK_T0_US = _epoch_us(2024, 1, 2)


def write_ticks(
    out: str, seed: int, n_files: int, rows_per_file: int, *,
    n_syms: int = 1000, zipf_s: float = 1.1, ooo_share: float = 0.05,
    max_delay_s: int = 3,
) -> dict:
    """Write ``n_files`` tick files (``ticks/part-NNNN.parquet``) and a
    symbol dimension (``symbols.parquet``); returns the input profile.

    Ticks arrive one per 1 ms of event time, each with a distinct
    timestamp. A displaced tick keeps its event time but moves up to
    ``max_delay_s`` seconds later in arrival order. File modification
    times increase with the file index, so a file source reading one
    file per trigger replays them in this order."""
    rng = np.random.default_rng([seed, 2])
    n = n_files * rows_per_file
    ranks = np.arange(1, n_syms + 1, dtype=np.float64)
    p = ranks ** -zipf_s
    sym_idx = rng.choice(n_syms, size=n, p=p / p.sum())
    # per-symbol base price, random-walk-free noise keeps values exact
    base = rng.integers(1000, 50000, n_syms)
    price = (base[sym_idx] + rng.integers(-500, 501, n)) / 100.0
    qty = rng.integers(1, 1000, n).astype(np.int64)
    ts = TICK_T0_US + np.arange(n, dtype=np.int64) * 1000
    # arrival order: displaced ticks move later by up to max_delay_s
    arrival = np.arange(n, dtype=np.float64)
    late = rng.random(n) < ooo_share
    arrival[late] += rng.integers(1, max_delay_s * 1000, int(late.sum()))
    order = np.argsort(arrival, kind="stable")
    sym_idx, price, qty, ts = sym_idx[order], price[order], qty[order], ts[order]
    tick_id = order.astype(np.int64)
    ooo = float(np.mean(ts < np.maximum.accumulate(ts)))

    syms = np.array([f"S{i:04d}" for i in range(n_syms)], dtype=object)
    tdir = os.path.join(out, "ticks")
    os.makedirs(tdir, exist_ok=True)
    sizes = []
    for f in range(n_files):
        sl = slice(f * rows_per_file, (f + 1) * rows_per_file)
        path = os.path.join(tdir, f"part-{f:04d}.parquet")
        pq.write_table(pa.table({
            "tick_id": tick_id[sl],
            "sym": pa.array(syms[sym_idx[sl]], pa.string()),
            "ts": pa.array(ts[sl], pa.timestamp("us", tz="UTC")),
            "price": price[sl],
            "qty": qty[sl],
        }), path)
        mtime = 1_700_000_000 + f
        os.utime(path, (mtime, mtime))
        sizes.append(os.path.getsize(path))
    sectors = [f"SECTOR_{i}" for i in range(11)]
    pq.write_table(pa.table({
        "sym": pa.array(syms, pa.string()),
        "sector": pa.array([sectors[i % 11] for i in range(n_syms)]),
        "lot": pa.array(rng.integers(1, 101, n_syms)),
    }), os.path.join(out, "symbols.parquet"))

    counts = np.bincount(sym_idx, minlength=n_syms)
    top = np.sort(counts)[::-1][: max(1, n_syms // 100)]
    return {
        "files": n_files,
        "rows_per_file": rows_per_file,
        "file_bytes": sizes,
        "symbols": n_syms,
        "top1pct_share": round(float(top.sum()) / n, 4),
        "ooo_share": round(ooo, 4),
    }


TPCH_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]

# workload -> generator settings; ``run.py`` calls ``prepare`` before the
# worker starts, so input generation is never part of set-up time.
# stream_ticks: file 0 warms the pipelines up, each timed pass feeds one
# more file, at most ``n_files - 1`` passes
SIZES = {
    "tpch_sf01": {"sf": 0.1},
    "stream_ticks": {"n_files": 4, "rows_per_file": 50_000},
}


def prepare(workload: str, seed: int, out: str) -> dict:
    """Write ``workload``'s inputs under ``out``; return what was written."""
    size = SIZES[workload]
    if workload.startswith("tpch"):
        write_tpch(out, seed, size["sf"])
        rec = {"sf": size["sf"]}
        for name in TPCH_TABLES:
            path = os.path.join(out, f"{name}.parquet")
            rec[name] = {"rows": pq.read_metadata(path).num_rows,
                         "bytes": os.path.getsize(path)}
        return rec
    return write_ticks(out, seed, **size)
