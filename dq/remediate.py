"""Failure-manifest remediation loop — the reference's flop family.

CorrigirBuraco (flop/CorrigirBuraco.scala:31-219) re-runs failed checks:
read the failure table, collect() the (small) manifest to the driver, and
per failed (banco, tabela, dt_foto): re-gate the partition, recompute the
metric, merge it into history, and flip status 0 -> 1. Collect-to-driver is
kept ONLY for the manifest (O(#failures), a control table — S9); all data
work stays distributed. Every iteration is idempotent: re-running a
remediated unit recomputes the same rows and the merge dedups them.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dq import volumetry
from dq.io import literal_frame, partition_exists
from dq.schema import DQ_FAILURES


@dataclass
class Failure:
    banco: str
    tabela: str
    dt_foto: str
    var_nome_campo: str
    var_formato_dt_foto: str


def failure_window(failures: DataFrame, mode: str, today: str | None = None) -> DataFrame:
    """Select open failures in the daily/weekly lookback window
    (≙ CorrigirBuraco.scala:34-54; we keep status=0 in BOTH modes — the
    weekly branch dropping it is a reference inconsistency, SURVEY.md §3.3).

    ``today`` (yyyyMMdd) is injectable for deterministic tests.
    """
    today_col = F.lit(today) if today else F.date_format(F.current_date(), "yyyyMMdd")
    ref = F.to_date(today_col, "yyyyMMdd")
    if mode == "diario":
        lo = F.date_format(F.date_add(ref, -1), "yyyyMMdd")
        window = F.col("dt_foto") >= lo
    elif mode == "semanal":
        lo = F.date_format(F.date_add(ref, -7), "yyyyMMdd")
        hi = F.date_format(F.date_add(ref, -2), "yyyyMMdd")
        window = F.col("dt_foto").between(lo, hi)
    else:
        raise ValueError(f"mode must be diario|semanal, got {mode!r}")
    return failures.where((F.col("status") == 0) & window)


def remediate_volumetria(
    spark: SparkSession,
    failures: DataFrame,
    history: DataFrame,
    table_loader,
    mode: str = "diario",
    today: str | None = None,
    excluded_tables: set[str] | None = None,
    partition_expr_for=None,
) -> tuple[DataFrame, DataFrame]:
    """Remediation loop (C3). Returns (new_history, new_failures).

    ``table_loader(banco, tabela) -> DataFrame`` resolves monitored tables;
    ``partition_expr_for(campo, formato) -> str`` resolves the format dispatch
    in Python (P5 fix). Exclusion set ≙ the hard-coded NOT IN
    (CorrigirBuraco.scala:39 — config-driven here, C5).
    """
    excluded = excluded_tables or set()
    if partition_expr_for is None:
        partition_expr_for = default_partition_expr

    manifest = [
        Failure(r.banco, r.tabela, r.dt_foto, r.var_nome_campo, r.var_formato_dt_foto)
        for r in failure_window(failures, mode, today)
        .where(~F.col("tabela").isin(list(excluded)) if excluded else F.lit(True))
        .collect()  # control table only: O(#failures) rows
    ]

    # accumulate every healed failure's fresh row and fixed flag, then do
    # ONE merge + ONE flip: the old per-failure chaining stacked a merge
    # PER manifest entry, so a 300-
    # failure backlog built a 300-deep lazy plan (the iterative-loop trap —
    # CLAUDE.md documents a 12-round uncheckpointed loop hanging >5 min)
    fresh_rows: list[DataFrame] = []
    fixed: list[Failure] = []
    for f in manifest:
        try:
            monitored = table_loader(f.banco, f.tabela)
        except LookupError:
            # no mapping for this monitored table: leave the failure open
            # (status stays 0, visible in the open-failure count) instead
            # of aborting the whole remediation run on one unmapped entry
            continue
        pexpr = partition_expr_for(f.var_nome_campo, f.var_formato_dt_foto)
        if not partition_exists(monitored, pexpr, f.dt_foto):
            continue  # hole still there; failure row stays open
        fresh_rows.append(
            volumetry.measure_row(monitored, f.banco, f.tabela, f.dt_foto, pexpr, fonte="3")
        )
        fixed.append(f)

    if not fixed:
        return history, failures
    from functools import reduce

    all_fresh = reduce(lambda a, b: a.unionByName(b), fresh_rows)
    new_history = volumetry.merge_history(history, all_fresh)
    new_failures = flip_status_all(spark, failures, fixed)
    return new_history, new_failures


def default_partition_expr(campo: str, formato: str) -> str:
    """The reference's two-format dispatch (ColetaVolumetria.scala:14-15,
    37-45) resolved in Python — formato '1' = string column already in
    yyyyMMdd, '2' = date/timestamp column — so the partition predicate is a
    plain equality Catalyst can prune on (P5 fix, SURVEY.md §4.1)."""
    return campo if formato == "1" else f"date_format({campo}, 'yyyyMMdd')"


def flip_status_all(
    spark: SparkSession, failures: DataFrame, fs: list[Failure]
) -> DataFrame:
    """Status flip 0->1 for a BATCH of healed failures (≙ CorrigirBuraco.
    scala:172-215): the :func:`dq.volumetry.merge_history` keyed supersede
    on (banco, tabela, dt_foto) by the status=1 rows, a JVM-side literal
    frame — one exchange, so plan depth is constant in the number of
    failures."""
    fixed = literal_frame(
        spark,
        [
            (f.banco, f.tabela, f.dt_foto, f.var_nome_campo, f.var_formato_dt_foto, 1)
            for f in fs
        ],
        DQ_FAILURES,
    )
    return volumetry.merge_history(failures, fixed, keys=["banco", "tabela", "dt_foto"])
