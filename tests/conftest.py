"""Shared fixtures: one local[8] session, deterministic synthetic pages."""

from __future__ import annotations

import threading

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


def py4j_calls(spark, action) -> int:
    """py4j commands the main thread sends to the JVM while ``action`` runs:
    the driver's plan-build round trips. py4j's finalizer thread, which
    releases Python-side references to JVM objects, is not counted."""
    client = spark.sparkContext._gateway._gateway_client
    send, main, n = client.send_command, threading.main_thread(), 0

    def counting(*args, **kwargs):
        nonlocal n
        n += threading.current_thread() is main
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        action()
    finally:
        del client.send_command
    return n
