"""Shared fixtures: one local[8] session, deterministic synthetic pages, and
the session's query registry (every ``QUERIES`` entry built once)."""

from __future__ import annotations

import functools
import os
import re
import threading
from typing import NamedTuple

import pytest
from pyspark.sql import DataFrame

from dq.session import get_spark

SF0001 = "/root/testdata/sf0.001"


def suite_session():
    """The suite's one local[8] session (``getOrCreate``: the same session
    whether a fixture or module-level code asks first)."""
    return get_spark("dq-tests", master="local[8]", shuffle_partitions=8)


@pytest.fixture(scope="session")
def spark():
    yield suite_session()


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


class Built(NamedTuple):
    """One registry entry: the query's frame, its executed-plan text and its
    read set, the (table, column) pairs its file scans read."""

    frame: DataFrame
    plan: str
    reads: frozenset[tuple[str, str]]

    def rows(self):
        """The query's rows as pandas, collected through a fresh Dataset over
        the frame's plan (the no-op ``select("*")`` plans away): run in
        place, the frame would pin its execution state, broadcast relations
        and AQE stages, for the rest of the session (~2.6 GB of live heap
        over all 169 queries)."""
        return self.frame.select("*").toPandas()


# a file scan's location and, on the same line (executed-plan text) or a
# later one (the status store's formatted plan), its read schema
_SCAN = re.compile(r"Location: [^\[\n]*\[([^\]\n]*)\].*?ReadSchema: struct<", re.S)


def read_set(plan: str) -> set[tuple[str, str]]:
    """(table, column) pairs of every file scan in ``plan``: the table is the
    scanned path's basename without ``.parquet``, the columns are the read
    schema's top-level fields. A scan that reads no column (a row count)
    contributes ``(table, "")``."""
    out = set()
    for m in _SCAN.finditer(plan):
        tables = [
            os.path.basename(p.strip().rstrip("/")).removesuffix(".parquet")
            for p in m.group(1).split(",")
        ]
        fields, depth, start = [], 1, m.end()
        for i in range(m.end(), len(plan)):
            ch = plan[i]
            if ch in "<(":
                depth += 1
            elif ch in ">)":
                depth -= 1
            if depth == 0 or (depth == 1 and ch == ","):
                fields.append(plan[start:i].split(":", 1)[0])
                start = i + 1
            if depth == 0:
                break
        out |= {(t, f) for t in tables for f in fields}
    return out


@functools.cache
def build_registry() -> dict[str, Built]:
    """Every ``QUERIES`` entry built once on sf0.001. The read set joins the
    frame's executed plan with the plans of the SQL executions its build
    fired (eager gates, ``localCheckpoint`` rounds, collects): some queries
    scan their tables only there. Built on first call: at collection when
    a parity module is collected, since its parameters are read sets."""
    from dq.queries import QUERIES

    spark = suite_session()
    spark.catalog.clearCache()  # cached fragments can hide a plan's nodes
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def last_execution() -> int:
        bus.waitUntilEmpty()
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).head().executionId() if n else -1

    out = {}
    for name, fn in QUERIES.items():
        first = last_execution() + 1
        frame = fn(spark, SF0001)
        plan = frame._jdf.queryExecution().executedPlan().toString()
        reads = read_set(plan)
        for i in range(first, last_execution() + 1):
            ex = store.execution(i)
            if ex.isDefined():
                reads |= read_set(ex.get().physicalPlanDescription())
        out[name] = Built(frame, plan, frozenset(reads))
    return out


@pytest.fixture(scope="session")
def registry(spark) -> dict[str, Built]:
    return build_registry()


# what each adversarial parity corpus changes: a table name means rows
# appended to that table, a (table, column) pair means that column's values
# changed
CORPUS_CHANGES = {
    "null_text": {("documents", "text")},
    "nasty_text": {"documents"},
    "nasty_numeric": {"lineitem", "orders", "events"},
    "nasty_temporal": {"events", "orders"},
}


def meets(reads, corpus: str) -> bool:
    """Whether a query with read set ``reads`` reads what ``corpus`` changes."""
    changes = CORPUS_CHANGES[corpus]
    return any(t in changes or (t, c) in changes for t, c in reads)


def pytest_generate_tests(metafunc):
    """A parity module names its corpus in ``PARITY_CORPUS``; the ``name``
    of its parity test runs over the oracled queries that meet that corpus.
    Any other query would read only the gate's own inputs there."""
    corpus = getattr(metafunc.module, "PARITY_CORPUS", None)
    if corpus and "name" in metafunc.fixturenames:
        from __spark_entry__ import oracle_sql

        reg = build_registry()
        metafunc.parametrize(
            "name", [n for n in sorted(oracle_sql()) if meets(reg[n].reads, corpus)]
        )


def write_corpus(spark, out: str, changed: dict[str, DataFrame]):
    """Write a parity corpus to ``out``: the ``changed`` tables as parquet,
    the others linked to sf0.001. Returns DuckDB views over it."""
    from dq.io import TABLES
    from tools.compare_oracle import oracle_db

    for t in TABLES:
        if t in changed:
            changed[t].coalesce(1).write.parquet(f"{out}/{t}.parquet")
        else:
            os.symlink(f"{SF0001}/{t}.parquet", f"{out}/{t}.parquet")
    return oracle_db(out)


def assert_pair_matches(spark, sf: str, con, name: str) -> None:
    """Query ``name`` on the corpus at ``sf`` equals its DuckDB twin on the
    same corpus (``con``)."""
    from __spark_entry__ import oracle_sql, queries

    assert_matches_oracle(
        queries()[name](spark, sf).toPandas(), con.execute(oracle_sql()[name]).df()
    )


def assert_matches_oracle(sdf, odf) -> None:
    """A Spark result (pandas) equals its DuckDB twin's: same row count, same
    column names, same order-insensitive value hash."""
    from tools.compare_oracle import frame_hash, normalize

    s, o = normalize(sdf), normalize(odf)
    assert len(s) == len(o)
    assert sorted(s.columns) == sorted(o.columns)
    assert frame_hash(s) == frame_hash(o)
