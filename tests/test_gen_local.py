"""The local scale derivations (tools/gen_local.py) on small data.

Every level runs on sf0.001 into a temporary directory, DuckDB only:
the tiled levels must keep each copy a self-contained key universe
(row counts, distinct keys and join match counts scale exactly with
the copy count, key-derived names stay unique, no exact embedding
twins), and sf1_skew must put the hot keys where its docstring says
while leaving the tables it does not rewrite as they were.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import gen_local  # noqa: E402
from conftest import SF_SMOKE  # noqa: E402

# the generated lineitem repeats some (l_orderkey, l_linenumber)
# pairs, so it has no primary key; its pairs must still not collide
# across copies
PKEYS = {
    "region": "r_regionkey", "nation": "n_nationkey",
    "customer": "c_custkey", "supplier": "s_suppkey", "part": "p_partkey",
    "orders": "o_orderkey", "events": "event_id", "documents": "doc_id",
    "embeddings": "vec_id", "lineitem": "l_orderkey, l_linenumber",
}
JOINS = {
    "lineitem_orders": "lineitem join orders on l_orderkey = o_orderkey",
    "orders_customer": "orders join customer on o_custkey = c_custkey",
    "lineitem_supplier": "lineitem join supplier on l_suppkey = s_suppkey",
}


def _con(d: str):
    con = duckdb.connect()
    for t in gen_local.TABLES:
        con.sql(f"create view {t} as select * from read_parquet('{d}/{t}.parquet')")
    return con


def _one(con, sql: str):
    return con.sql(sql).fetchone()[0]


@pytest.mark.parametrize("level", sorted(gen_local.TILED))
def test_tiled_level_keeps_copies_disjoint(tmp_path, level):
    out = str(tmp_path / level)
    gen_local.build(level, SF_SMOKE, out)
    src, dst = _con(SF_SMOKE), _con(out)
    n, emb_n = gen_local.TILED[level][:2]
    for t, key in PKEYS.items():
        copies = 1 if t in gen_local.FIXED else emb_n if t == "embeddings" else n
        rows = _one(dst, f"select count(*) from {t}")
        assert rows == copies * _one(src, f"select count(*) from {t}"), t
        keys = _one(dst, f"select count(distinct ({key})) from {t}")
        assert keys == copies * _one(src, f"select count(distinct ({key})) from {t}"), t
        assert keys == rows or t == "lineitem", t
    for name, join in JOINS.items():
        assert (_one(dst, f"select count(*) from {join}")
                == n * _one(src, f"select count(*) from {join}")), name
    for t, col in (("supplier", "s_name"), ("customer", "c_name")):
        assert _one(dst, f"select count(distinct {col}) from {t}") == _one(
            dst, f"select count(*) from {t}"), col
    assert _one(dst, "select count(*) - count(distinct embedding::varchar) "
                     "from embeddings") == 0


def test_skew_level_puts_hot_keys_and_keeps_the_rest(tmp_path):
    out = str(tmp_path / "sf1_skew")
    gen_local.build("sf1_skew", SF_SMOKE, out)
    src, dst = _con(SF_SMOKE), _con(out)

    def top_share(t: str, col: str) -> float:
        return _one(dst, f"select max(c) / sum(c) from (select count(*) c "
                         f"from {t} group by {col})")

    assert top_share("lineitem", "l_orderkey") >= 0.89
    # 30% redirected, on top of the hot user's own events
    assert 0.28 <= top_share("events", "user_id") <= 0.4
    prefixed = _one(dst, "select avg((text like 'boiler0 common prefix%')::int) "
                         "from documents")
    assert prefixed == pytest.approx(0.3, abs=0.03)
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "embeddings"):
        a = f"read_parquet('{SF_SMOKE}/{t}.parquet')"
        b = f"read_parquet('{out}/{t}.parquet')"
        assert _one(dst, f"select count(*) from {a}") == _one(dst, f"select count(*) from {b}")
        for x, y in ((a, b), (b, a)):
            assert _one(dst, f"select count(*) from (select * from {x} "
                             f"except all select * from {y})") == 0, t
    assert _one(src, "select count(*) from lineitem") == _one(dst, "select count(*) from lineitem")
