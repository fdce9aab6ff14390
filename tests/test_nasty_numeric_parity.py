"""Spark-vs-DuckDB parity over ADVERSARIAL numeric rows — the money-tier
analog of the nasty-text suite.

The cents-quantization rule (floor(x*100) BEFORE summing) is the repo's
central cross-engine determinism device; this suite feeds it the inputs
the synthetic tables never contain: negative amounts, exact band-edge and
half-cent boundary values, float-representation traps (19.99 is not 1999
cents), tiny fractions, 1e13 magnitudes, and zero. Every oracled query
whose Spark plan reads lineitem, orders or events (derived from its read
set, ``registry`` in tests/conftest.py) must keep hash-parity. NULL
numerics stay out of scope here (the gate tables declare them
NOT-NULL-by-construction; NULL text has its own suite).
"""

import datetime

import pytest

from tests.conftest import SF0001, assert_pair_matches, write_corpus

PARITY_CORPUS = "nasty_numeric"

# adversarial amounts: band edges, half-cent boundaries, float traps,
# negatives, zero, tiny, huge
NASTY_AMOUNTS = [
    -1234.56, -0.01, -0.005, 0.0, 0.001, 0.005, 0.009999999,
    19.99, 29.999999999999996, 99.995, 100.0, 900.0, 901.0,
    1e-9, 1e13, 123456789.987654321,
]


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("nastynum"))
    ts = datetime.datetime(2024, 3, 1, 12, 0, 0)
    li_x = spark.createDataFrame(
        [
            (9_000_000 + i, 1, 1, 1, 1.0, amt, 0.05, 0.01, "N", "O", ts)
            for i, amt in enumerate(NASTY_AMOUNTS)
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    )
    od_x = spark.createDataFrame(
        [
            (9_000_000 + i, 1 + (i % 5), "O", amt, ts, "1-URGENT")
            for i, amt in enumerate(NASTY_AMOUNTS)
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    ev_x = spark.createDataFrame(
        [
            (9_000_000 + i, ts, 7 + (i % 3), "purchase", amt, "{}")
            for i, amt in enumerate(NASTY_AMOUNTS)
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    changed = {
        t: spark.read.parquet(f"{SF0001}/{t}.parquet").unionByName(x)
        for t, x in (("lineitem", li_x), ("orders", od_x), ("events", ev_x))
    }
    return out, write_corpus(spark, out, changed)


def test_nasty_numeric_query_vs_oracle(spark, corpus, name):
    assert_pair_matches(spark, *corpus, name)
