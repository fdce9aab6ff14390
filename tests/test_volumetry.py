"""Volumetria family: gate, measure, SCD merge, idempotence."""

from pyspark.sql import functions as F

from dq import volumetry

PEXPR = "date_format(ts, 'yyyyMMdd')"


def _events(spark):
    rows = [(i, f"2024-01-{1 + i % 3:02d} 10:00:00") for i in range(30)]
    return spark.createDataFrame(rows, "id long, s string").select(
        "id", F.to_timestamp("s").alias("ts")
    )


def test_measure_row_counts_partition(spark):
    row = volumetry.measure_row(_events(spark), "db", "ev", "20240102", PEXPR).collect()[0]
    assert row.qtde_registros == 10
    assert (row.banco, row.tabela, row.dt_foto, row.fonte) == ("db", "ev", "20240102", "2")


def test_gate_failure_row(spark):
    hist = volumetry.empty_history(spark)
    new_hist, fail = volumetry.collect_volumetria(
        spark, _events(spark), hist, "db", "ev", "20991231", PEXPR
    )
    assert new_hist is None
    r = fail.collect()[0]
    assert (r.dt_foto, r.status) == ("20991231", 0)


def test_gate_success_merges(spark):
    hist = volumetry.empty_history(spark)
    new_hist, fail = volumetry.collect_volumetria(
        spark, _events(spark), hist, "db", "ev", "20240101", PEXPR
    )
    assert fail is None
    assert new_hist.count() == 1


def test_merge_upsert_replaces_and_idempotent(spark):
    hist = volumetry.empty_history(spark)
    fresh1 = volumetry.measure_row(_events(spark), "db", "ev", "20240101", PEXPR)
    h1 = volumetry.merge_history(hist, fresh1)
    # re-measure same key with different source data -> replaces, not appends
    fewer = _events(spark).where(F.col("id") < 15)
    fresh2 = volumetry.measure_row(fewer, "db", "ev", "20240101", PEXPR)
    h2 = volumetry.merge_history(h1, fresh2)
    assert h2.count() == 1
    assert h2.collect()[0].qtde_registros == 5
    # idempotence: merging the same row twice == once
    h3 = volumetry.merge_history(h2, fresh2)
    assert h3.collect() == h2.collect()


def test_merge_null_safe_keys(spark):
    """NULL in a key column must not nuke the row (concat-key bug fixed)."""
    ddl = "banco string, tabela string, dt_foto string, dt_processamento string, qtde_registros long, fonte string"
    hist = spark.createDataFrame([("db", None, "20240101", "20260101", 7, "1")], ddl)
    fresh = spark.createDataFrame([("db", None, "20240101", "20260101", 9, "2")], ddl)
    out = volumetry.merge_history(hist, fresh).collect()
    assert len(out) == 1 and out[0].qtde_registros == 9


def _py_supersede(hist, fresh, nkeys=4):
    """Pure-Python keyed supersede: history rows whose key (None == None)
    has a fresh row are dropped, then history + fresh, distinct."""
    fresh_keys = {r[:nkeys] for r in fresh}
    return sorted({r for r in hist if r[:nkeys] not in fresh_keys} | set(fresh), key=repr)


def test_merge_history_matches_python_supersede(spark):
    """Planted cases: NULL keys, duplicate history rows, a fresh side with a
    repeated key, and one fresh key superseding several history rows."""
    from dq.io import literal_frame

    ddl = "banco string, tabela string, dt_foto string, dt_processamento string, qtde_registros long, fonte string"
    hist = [
        ("db", None, "20240101", "p0", 7, "1"),  # NULL key, superseded
        ("db", None, "20240102", "p0", 3, "1"),  # NULL key, survives
        ("db", "t", "20240101", "p0", 5, "1"),  # duplicate history rows
        ("db", "t", "20240101", "p0", 5, "1"),
        ("db", "t", "20240103", "p0", 1, "1"),  # one key, several history rows,
        ("db", "t", "20240103", "p0", 2, "2"),  # all superseded by one fresh row
        ("db", "t", "20240103", "p0", None, None),
        ("db", "u", "20240101", "p0", 4, "1"),  # superseded by a repeated fresh key
    ]
    fresh = [
        ("db", None, "20240101", "p0", 9, "2"),
        ("db", "t", "20240103", "p0", 10, "2"),
        ("db", "u", "20240101", "p0", 11, "2"),
        ("db", "u", "20240101", "p0", 12, "3"),
        ("db", "u", "20240101", "p0", 12, "3"),
        ("db", "v", "20240101", "p0", 13, "2"),  # new key
    ]
    got = volumetry.merge_history(
        literal_frame(spark, hist, ddl), literal_frame(spark, fresh, ddl)
    ).collect()
    assert sorted(map(tuple, got), key=repr) == _py_supersede(hist, fresh)
    assert len(got) == 7


# ---- robust anomaly flags ---------------------------------------------------


def _hist(spark, pairs):
    return spark.createDataFrame(pairs, "day string, n_rows long")


def test_count_anomalies_flags_planted_outlier(spark):
    pairs = [(f"2024010{i}", 100 + i % 3) for i in range(1, 9)] + [("20240109", 5)]
    out = {r.day: r for r in volumetry.count_anomalies(_hist(spark, pairs)).collect()}
    assert out["20240109"].is_anomaly
    assert not any(r.is_anomaly for d, r in out.items() if d != "20240109")
    # outputs are two-valued, never NULL
    assert all(r.is_anomaly in (True, False) for r in out.values())


def test_count_anomalies_lower_median_even_history(spark):
    # 4 rows -> rank (4+1) DIV 2 = 2 under (value, day) order: LOWER median
    pairs = [("d1", 1), ("d2", 2), ("d3", 3), ("d4", 4)]
    out = volumetry.count_anomalies(_hist(spark, pairs)).collect()
    assert all(r.med == 2 for r in out)
    # devs |1-2|,0,1,2 sorted [0,1,1,2] -> rank 2 -> mad = 1
    assert all(r.mad == 1 for r in out)
    # k=3.5: flag when dev*100 > 350*1 -> only dev >= 4 would flag; none here
    assert not any(r.is_anomaly for r in out)


def test_count_anomalies_zero_mad_flags_any_deviation(spark):
    pairs = [("d1", 5), ("d2", 5), ("d3", 5), ("d4", 5), ("d5", 7)]
    out = {r.day: r for r in volumetry.count_anomalies(_hist(spark, pairs)).collect()}
    assert all(r.mad == 0 for r in out.values())
    assert out["d5"].is_anomaly and out["d5"].dev == 2
    assert not any(r.is_anomaly for d, r in out.items() if d != "d5")


def test_count_anomalies_median_tiebreak_deterministic(spark):
    # equal counts break ties on the label: result must be stable across runs
    pairs = [("b", 10), ("a", 10), ("c", 3)]
    a = volumetry.count_anomalies(_hist(spark, pairs)).collect()
    b = volumetry.count_anomalies(_hist(spark, pairs)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert all(r.med == 10 for r in a)
