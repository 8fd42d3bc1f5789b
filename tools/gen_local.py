"""Derive the local scale datasets (not test data) with DuckDB.

The read-only test data (TESTDATA.md) tops out at sf0.1; superlinear
growth (pair blowups, window skew) often only shows a decade or two
up. Every level here is a per-table union of per-copy projections of
a source directory (``derive``); the levels differ only in their copy
counts and their ``(table, column, copy) → SQL`` transform:

- ``sf1`` tiles sf0.1 ×10, ``sf10`` tiles sf1 ×10, ``sf30`` tiles
  sf10 ×3 (embeddings ×4 per decade, the test data's own growth, and
  ×3 at sf30). Each copy is a self-contained key universe: every table
  key and FK between tiled tables shifts by ``copy × (max_key+1)`` of
  the owning table, so join fan-outs and selectivities are preserved
  exactly; ``s_name``/``c_name`` stay key-derived and unique
  (tpch_q21 groups by s_name); region/nation stay fixed; events keep
  their one-month span (density grows).
- Copies 1+ of ``documents.text`` rewrite one letter per level ('e' →
  'q{i}', 'a' → 'x{i}', 'o' → 'z{i}'). Most words change, so
  cross-copy shingle overlap collapses, while identical source texts
  map to identical outputs, so the within-copy duplicate structure
  (the organic dup rate) is preserved. Each level needs a letter the
  earlier levels left in place and that every source document
  contains; a document without it would be byte-identical across
  copies.
- Copies 1+ of ``embeddings`` apply an orthogonal map (norms and
  intra-copy cosines exactly preserved) from a family disjoint from
  the other levels', so no two copies share a transform and no exact
  twins appear: rotations by 16i at sf1 (dim 64 has only 4 of them),
  a Walsh sign flip on bit i-1 after a rotation by 8i at sf10, and
  the reversal (orientation-reversing, so no rotation equals it)
  rotated by 4(i-1) with a flip on bit 2+i at sf30.
- ``sf1_skew`` keeps sf1's rows and bytes and redirects keys: 90% of
  lineitem rows to one orderkey, 30% of events to one user, and a
  shared boilerplate prefix on 30% of documents (hot shingles and LSH
  band buckets). PERF.md "Round 9: skew at scale" has its numbers.

After a tiled level is written, two checks fail the run: the docs
exact-dup rate must equal the source's, and no two embeddings may be
equal. The cross-copy cosine tail of same-base vectors is printed for
information.

Usage: python tools/gen_local.py <sf1|sf10|sf30|sf1_skew> [out_dir]
(writes .localdata/<name>; sf1 ~240 MB in under a minute, sf10
~2.4 GB in a few minutes; sf10/sf30/sf1_skew read the level below)
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

import duckdb

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOCAL = os.path.join(HERE, ".localdata")
SF01 = "/root/testdata/sf0.1"
# level -> the directory it derives from
SOURCE = {
    "sf1": SF01,
    "sf10": os.path.join(LOCAL, "sf1"),
    "sf30": os.path.join(LOCAL, "sf10"),
    "sf1_skew": os.path.join(LOCAL, "sf1"),
}

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()
FIXED = ("region", "nation")
# key column -> (table, key) whose max+1 is the column's per-copy stride
KEYS = {
    "c_custkey": ("customer", "c_custkey"), "o_custkey": ("customer", "c_custkey"),
    "o_orderkey": ("orders", "o_orderkey"), "l_orderkey": ("orders", "o_orderkey"),
    "p_partkey": ("part", "p_partkey"), "l_partkey": ("part", "p_partkey"),
    "s_suppkey": ("supplier", "s_suppkey"), "l_suppkey": ("supplier", "s_suppkey"),
    "event_id": ("events", "event_id"), "user_id": ("events", "user_id"),
    "doc_id": ("documents", "doc_id"), "vec_id": ("embeddings", "vec_id"),
}
NAMES = {"s_name": ("Supplier", "s_suppkey"), "c_name": ("Customer", "c_custkey")}
BOILER = " ".join(f"boiler{i} common prefix token" for i in range(8))


def derive(con, src: str, out: str, copies: dict[str, int],
           transform: Callable[[str, str, int], str | None]) -> None:
    """Write ``out/<table>.parquet`` for each table in ``copies`` as the
    union of its copies: column ``c`` of copy ``i`` is
    ``transform(table, c, i)`` (an SQL expression) or ``c`` unchanged
    when the transform returns None."""
    os.makedirs(out, exist_ok=True)
    for tbl, n in copies.items():
        path = f"read_parquet('{src}/{tbl}.parquet')"
        cols = [r[0] for r in con.sql(f"describe select * from {path}").fetchall()]
        parts = []
        for i in range(n):
            sel = []
            for c in cols:
                expr = transform(tbl, c, i)
                sel.append(c if expr is None else f"{expr} as {c}")
            parts.append(f"select {', '.join(sel)} from {path}")
        con.sql(f"copy ({' union all '.join(parts)}) to '{out}/{tbl}.parquet' "
                "(format parquet)")
        n_rows = con.sql(f"select count(*) from read_parquet('{out}/{tbl}.parquet')").fetchone()[0]
        print(f"{tbl}: {n_rows} rows")


def _rot(e: str, k: int) -> str:
    return f"({e}[{k + 1}:] || {e}[1:{k}])" if k else e


def _flip(e: str, bit: int) -> str:
    return (f"list_transform(range(1, len(embedding) + 1), d -> case when "
            f"((d - 1) // {1 << bit}) % 2 = 1 then -{e}[d] else {e}[d] end)")


# level -> (copies, embedding copies, text letter, text tag, embedding
#           map of copy i > 0)
TILED: dict[str, tuple[int, int, str, str, Callable[[int], str]]] = {
    "sf1": (10, 4, "e", "q", lambda i: _rot("embedding", 16 * i)),
    "sf10": (10, 4, "a", "x", lambda i: _flip(_rot("embedding", 8 * i), i - 1)),
    "sf30": (3, 3, "o", "z",
             lambda i: _flip(_rot("list_reverse(embedding)", 4 * (i - 1)), 2 + i)),
}


def tile(con, src: str, out: str, level: str) -> None:
    """One ``TILED`` level from ``src`` into ``out``, then its checks."""
    n, emb_n, letter, tag, emb = TILED[level]
    stride = {
        c: con.sql(f"select max({k}) + 1 from read_parquet('{src}/{t}.parquet')").fetchone()[0]
        for c, (t, k) in KEYS.items()
    }

    def transform(tbl: str, c: str, i: int) -> str | None:
        if c in KEYS:
            return f"{c} + {i * stride[c]}"
        if c in NAMES:
            word, key = NAMES[c]
            return f"printf('{word}#%09d', {key} + {i * stride[key]})"
        if i and (tbl, c) == ("documents", "text"):
            return f"replace(text, '{letter}', '{tag}{i}')"
        if i and (tbl, c) == ("embeddings", "embedding"):
            return emb(i)
        return None

    copies = {t: 1 if t in FIXED else emb_n if t == "embeddings" else n for t in TABLES}
    derive(con, src, out, copies, transform)
    check(con, src, out)


def check(con, src: str, out: str) -> None:
    """Fail unless the docs exact-dup rate equals the source's and no
    two embeddings are equal; print the cosine tail of same-base
    vectors across copies."""
    def dup_rate(d: str) -> float:
        n, dups = con.sql(
            "select count(*), count(*) - count(distinct md5(text)) "
            f"from read_parquet('{d}/documents.parquet')"
        ).fetchone()
        return dups / n

    rate, rate0 = dup_rate(out), dup_rate(src)
    print(f"docs exact-dup rate: {rate:.4%} (source {rate0:.4%})")
    if abs(rate - rate0) > 1e-9:
        raise SystemExit("gen_local: the text rewrite minted or destroyed "
                         "cross-copy twins; pick a letter every source "
                         "document contains")
    emb = f"read_parquet('{out}/embeddings.parquet')"
    twins = con.sql(
        f"select count(*) - count(distinct embedding::varchar) from {emb}"
    ).fetchone()[0]
    print(f"exact-duplicate embeddings: {twins}")
    if twins:
        raise SystemExit("gen_local: an embedding transform aliased another copy's")
    s = con.sql(
        f"select max(vec_id) + 1 from read_parquet('{src}/embeddings.parquet')"
    ).fetchone()[0]
    pairs, tail, top = con.sql(f"""
        with c as (
          select list_cosine_similarity(a.embedding::double[],
                                        b.embedding::double[]) as cos
          from {emb} a join {emb} b
            on a.vec_id % {s} = b.vec_id % {s} and a.vec_id < b.vec_id)
        select count(*), count(*) filter (cos >= 0.4), max(cos) from c
    """).fetchone()
    print(f"cross-copy same-base cosine tail: {tail}/{pairs} pairs >= 0.4, "
          f"max {top if top is None else round(top, 3)}")


def skew(con, src: str, out: str) -> None:
    """``src`` with 90% of lineitem on one orderkey, 30% of events on
    one user and a boilerplate prefix on 30% of documents."""
    hot_order = con.sql(
        f"select min(o_orderkey) from read_parquet('{src}/orders.parquet')"
    ).fetchone()[0]
    hot_user = con.sql(
        f"select min(user_id) from read_parquet('{src}/events.parquet')"
    ).fetchone()[0]
    rewrites = {
        ("lineitem", "l_orderkey"): "case when (l_orderkey * 31 + l_linenumber) % 10 < 9 "
                                    f"then {hot_order} else l_orderkey end",
        ("events", "user_id"): f"case when event_id % 10 < 3 then {hot_user} else user_id end",
        ("documents", "text"): f"case when doc_id % 10 < 3 then '{BOILER} ' || text else text end",
    }
    derive(con, src, out, dict.fromkeys(TABLES, 1), lambda t, c, i: rewrites.get((t, c)))


def build(name: str, src: str, out: str) -> None:
    con = duckdb.connect()
    if name in TILED:
        tile(con, src, out, name)
    else:
        skew(con, src, out)


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in SOURCE:
        sys.exit(__doc__)
    name = sys.argv[1]
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(LOCAL, name)
    if not os.path.isdir(SOURCE[name]):
        sys.exit(f"gen_local: {SOURCE[name]} is missing; derive it first")
    build(name, SOURCE[name], out)


if __name__ == "__main__":
    main()
