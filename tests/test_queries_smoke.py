"""Smoke: every catalog query runs at sf0.001 with a stable schema,
and every query key has oracle coverage recorded as designed."""

import pytest

import __spark_entry__ as entry_mod
from rstreams_spark.queries import ORACLES, REGISTRY

from conftest import SF_SMOKE

ROWS_ONLY: set = set()  # every catalog entry carries a DuckDB oracle


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_runs(spark, name):
    df = REGISTRY[name](spark, SF_SMOKE)
    assert df.columns  # non-empty schema
    assert df.count() >= 0


def test_every_query_has_oracle_unless_rows_only():
    assert set(ORACLES) == set(REGISTRY) - ROWS_ONLY


def test_entry_contract(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert set(entry_mod.queries()) == set(REGISTRY)
    assert set(entry_mod.oracle_sql()) == set(ORACLES)


def test_every_catalog_entry_states_its_contract():
    """r9 (VERDICT item 8): every queries() entry documents its input
    contract — preconditions (unique ids, probe caps), NULL/non-finite
    handling, and determinism guarantees — as a 'Contract:' line in
    its docstring, so a user never has to mine SURVEY prose for what
    an operator assumes about its input."""
    from rstreams_spark.queries import REGISTRY

    missing = [
        n for n, f in REGISTRY.items() if "Contract:" not in (f.__doc__ or "")
    ]
    assert missing == []


def test_repeated_tpch_pass_recompiles_nothing(spark):
    """get_spark sizes Spark's codegen cache to the catalog
    (session.CODEGEN_CACHE_ENTRIES): a second pass of the 17 TPC-H
    headliners finds every generated class still compiled. At Spark's
    100-entry default a pass (~200 classes) evicted each class before
    it came round again, and every pass recompiled ~200 of them."""
    from bench import HEADLINERS
    from rstreams_spark.session import codegen_stats

    tpch = [n for n in HEADLINERS if n.startswith("tpch_")]
    assert len(tpch) == 17

    def one_pass():
        for name in tpch:
            REGISTRY[name](spark, SF_SMOKE).write.format("noop").mode("overwrite").save()

    one_pass()
    before = codegen_stats(spark)["compiles"]
    one_pass()
    assert codegen_stats(spark)["compiles"] - before < 25
