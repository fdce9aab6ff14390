"""Driver-contract gate: every query runs; oracle pairs hash-match at
sf0.001 (the driver runs the same comparison at sf0.01)."""

import pytest

from __spark_entry__ import entry, oracle_sql, queries
from tests.conftest import SF0001, assert_matches_oracle
from tools.compare_oracle import oracle_db


@pytest.fixture(scope="module")
def con():
    return oracle_db(SF0001)


def test_entry_smoke(spark):
    df = entry(spark)
    assert df.count() > 0


def test_every_query_has_impl():
    qs, os_ = queries(), oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 25


@pytest.mark.parametrize("name", sorted(queries()))
def test_query_vs_oracle(registry, con, name):
    sdf = registry[name].rows()
    sql = oracle_sql().get(name)
    if sql is None:
        assert sdf is not None  # rows-only contract: runs with stable schema
        return
    odf = con.execute(sql).df()
    # both engines returning no rows would hash-match and prove nothing
    assert len(odf) > 0, f"{name}: the oracle returns no rows at sf0.001"
    assert_matches_oracle(sdf, odf)
