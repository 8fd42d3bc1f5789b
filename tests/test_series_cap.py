"""In-plan per-key series cap for ts_similarity_topk (r8).

The per-key collect_list rides an implicit retention contract; the
cap_probes discipline makes it LOUD: a hot key past TSM_MAX_SERIES
fails the job with an actionable message on BOTH engines instead of
silently OOMing an executor at 100× data. Driven here by shrinking
the cap below sf0.001's real series lengths (max 88 values/key).
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

from rstreams_spark.queries import ORACLES, core

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
from oracle_check import canon  # noqa: E402

SF = "/root/testdata/sf0.001"
TABLES = ("events",)


def _oracle_con(sf: str = SF):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from '{sf}/{t}.parquet'")
    return con


def test_spark_side_raises_past_cap(spark, monkeypatch):
    monkeypatch.setattr(core, "TSM_MAX_SERIES", 10)
    with pytest.raises(Exception, match="TSM_MAX_SERIES"):
        core.ts_similarity_topk(spark, SF).collect()


def test_oracle_side_raises_past_cap():
    sql = ORACLES["ts_similarity_topk"]
    assert str(core.TSM_MAX_SERIES) in sql  # the twin carries the bound
    shrunk = sql.replace(str(core.TSM_MAX_SERIES), "10")
    con = _oracle_con()
    with pytest.raises(Exception, match="TSM_MAX_SERIES"):
        con.sql(shrunk).fetchall()


def test_default_cap_keeps_parity_rows(spark):
    got = core.ts_similarity_topk(spark, SF)
    con = _oracle_con()  # keep the connection alive past .sql()
    want = con.sql(ORACLES["ts_similarity_topk"]).fetchall()
    assert got.count() == len(want) > 0  # full hash parity rides `make oracle`


def test_kernel_matches_oracle_rows(spark):
    """The Arrow sliding-window kernel returns the oracle's rows
    EXACTLY (same dists bit-for-bit, same ranks): its dim-sequential
    accumulations follow the oracle's sequential list_reduce add
    order, so equality is on raw doubles, no tolerance."""
    for sf in (SF, "/root/testdata/sf0.01"):
        got = core.ts_similarity_topk(spark, sf).toPandas()
        con = _oracle_con(sf)  # keep the connection alive past .sql()
        want = con.sql(ORACLES["ts_similarity_topk"]).df()
        assert sorted(got.columns) == sorted(want.columns)
        assert len(got) > 0
        assert canon(got).equals(canon(want)), sf
