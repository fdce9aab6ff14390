"""Shared fixtures: one local[8] session, deterministic synthetic pages."""

from __future__ import annotations

import pytest

from dq.session import get_spark

SF0001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dq-tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def pages_pdf():
    from dq import synth

    return synth.generate_pages_pdf(n_rows=400)


@pytest.fixture(scope="session")
def pages(spark, pages_pdf):
    from dq.schema import PAGES

    df = spark.createDataFrame(pages_pdf, schema=PAGES).cache()
    df.count()
    return df


def jobs_fired(spark, action) -> int:
    """Spark jobs ``action`` fires, by job id from the status tracker after
    the listener bus drains."""
    sc = spark.sparkContext

    def ids():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(None))

    before = ids()
    action()
    return len(ids() - before)
