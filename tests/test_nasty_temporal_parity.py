"""Spark-vs-DuckDB parity over ADVERSARIAL timestamps — the fourth parity
axis (gate corpus / NULL text / adversarial unicode / adversarial
numerics) covering the date-arithmetic tier: pre-epoch and epoch-zero
instants, a year-1900 row, a far-future year-2200 row (inside parquet's
int64-nanosecond range), a leap day, and a year boundary. Every oracled
query whose Spark plan reads events or orders (derived from its read set,
``registry`` in tests/conftest.py) must keep hash-parity —
strftime/date_format, datediff day-frames, sessionization gaps, windows,
and as-of joins all cross this surface. Session TZ is pinned UTC on both
engines (dq.session), which is what makes the instants comparable.
"""

import datetime

import pytest

from tests.conftest import SF0001, assert_pair_matches, write_corpus

PARITY_CORPUS = "nasty_temporal"

NASTY_TS = [
    datetime.datetime(1969, 12, 31, 23, 59, 59),   # pre-epoch
    datetime.datetime(1970, 1, 1, 0, 0, 0),        # epoch zero
    datetime.datetime(1900, 6, 15, 1, 2, 3),       # far past
    datetime.datetime(2200, 1, 1, 0, 0, 0),        # far future (< 2262 ns cap)
    datetime.datetime(2024, 2, 29, 12, 0, 0),      # leap day
    datetime.datetime(2024, 12, 31, 23, 59, 59),   # year boundary
]


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("nastyts"))
    ev_x = spark.createDataFrame(
        [(8_000_000 + i, t, 3, "purchase", 10.0, "{}") for i, t in enumerate(NASTY_TS)],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    od_x = spark.createDataFrame(
        [(8_000_000 + i, 2, "O", 50.0, t, "1-URGENT") for i, t in enumerate(NASTY_TS)],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    changed = {
        t: spark.read.parquet(f"{SF0001}/{t}.parquet").unionByName(x)
        for t, x in (("events", ev_x), ("orders", od_x))
    }
    return out, write_corpus(spark, out, changed)


def test_nasty_temporal_query_vs_oracle(spark, corpus, name):
    assert_pair_matches(spark, *corpus, name)
