"""Snapshot distribution drift: banded scorecard + exact total variation.

Data-quality monitoring addition in the reference's own spirit (the
volumetria layer reconciles row COUNTS across snapshots — SURVEY.md §2.11;
this lifts the same reconcile-two-snapshots semantics from counts to the
SHAPE of a distribution, the classic production drift monitor usually run
as PSI). PSI's log term is transcendental and can't be bit-reproduced
across engines, so the scorecard reports the two distribution-distance
pieces that are exact in integer arithmetic:

- per-band rates in DRIFT_SCALE fixed point (parts-per-million):
  r = c * DRIFT_SCALE DIV t — the banded histogram both sides;
- the signed per-band rate delta, whose absolute sum halved is the exact
  TOTAL VARIATION distance between the two banded distributions (TV is
  what PSI monotonically tracks for small shifts; unlike PSI it is defined
  at zero-count bands without epsilon hacks).

Overflow/precision: c * DRIFT_SCALE stays in int64 for band counts to
~9.2e12 documents at SCALE=1e6 — covers the 10^12-doc target with 1 ppm
rate granularity (drift thresholds in practice are 1e4+ ppm). The floor
quantization makes TV exact over the QUANTIZED distributions — both
engines compute the identical integer, and the quantization error is
bounded by n_bands/SCALE (~1e-4 here), far under any alerting threshold.

Scale shape (100 TB notes): each snapshot contributes one map-side-
combinable (band, count) hash agg — band count is bounded by the band
width, not the corpus (~1e4 rows); the full-outer band join, totals, and
deltas all operate on the tiny banded table. Two corpus scans total (one
per snapshot), text never read (bands come from numeric columns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---- shared constants (dq.oracles generates SQL from these) ----------------

DRIFT_BAND_WIDTH = 40     # n_chars per band
DRIFT_SCALE = 10**6       # rate fixed point (parts-per-million)


def _band_counts(snap: DataFrame, value_col: str, width: int) -> DataFrame:
    return snap.select(
        F.expr(f"CAST({value_col} AS BIGINT) DIV {width}").alias("band")
    ).groupBy("band").agg(F.count(F.lit(1)).cast("bigint").alias("c"))


def band_drift(
    old: DataFrame,
    new: DataFrame,
    value_col: str = "n_chars",
    width: int = DRIFT_BAND_WIDTH,
) -> DataFrame:
    """Per-band drift scorecard between two snapshots of the same metric:
    (band, c_old, c_new, r_old_ppm, r_new_ppm, delta_ppm) — full outer on
    band (absent side counts 0), rates in DRIFT_SCALE fixed point,
    delta = r_new - r_old (signed)."""
    o = _band_counts(old, value_col, width).withColumnRenamed("c", "c_old")
    n = _band_counts(new, value_col, width).withColumnRenamed("c", "c_new")
    j = o.join(n, "band", "full_outer").select(
        "band",
        F.coalesce("c_old", F.lit(0)).cast("bigint").alias("c_old"),
        F.coalesce("c_new", F.lit(0)).cast("bigint").alias("c_new"),
    )
    tot = j.agg(
        F.sum("c_old").cast("bigint").alias("t_old"),
        F.sum("c_new").cast("bigint").alias("t_new"),
    )
    return j.crossJoin(F.broadcast(tot)).select(
        "band", "c_old", "c_new",
        F.expr(f"CAST(c_old * {DRIFT_SCALE} AS BIGINT) DIV t_old").alias("r_old_ppm"),
        F.expr(f"CAST(c_new * {DRIFT_SCALE} AS BIGINT) DIV t_new").alias("r_new_ppm"),
        F.expr(
            f"CAST(c_new * {DRIFT_SCALE} AS BIGINT) DIV t_new"
            f" - CAST(c_old * {DRIFT_SCALE} AS BIGINT) DIV t_old"
        ).alias("delta_ppm"),
    )


def drift_summary(bands: DataFrame) -> DataFrame:
    """1-row rollup of a band_drift scorecard: (n_bands, n_grown, n_shrunk,
    tv_ppm) — tv_ppm = sum(|delta_ppm|) DIV 2, the exact total-variation
    distance between the quantized banded distributions."""
    return bands.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bands"),
        F.sum(F.when(F.col("delta_ppm") > 0, 1).otherwise(0))
        .cast("bigint").alias("n_grown"),
        F.sum(F.when(F.col("delta_ppm") < 0, 1).otherwise(0))
        .cast("bigint").alias("n_shrunk"),
        # DIV, not `/`: bigint `/` is double division in Spark and decimal
        # in DuckDB — the floor-div is the shared exact form
        F.expr("CAST(sum(abs(delta_ppm)) AS BIGINT) DIV 2").alias("tv_ppm"),
    )


def planted_length_snapshots(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """dq.crawldiff's planted two-crawl construction lifted to the n_chars
    metric (same shared constants, so the drift gate query and the crawl
    diff gate query describe the SAME planted snapshot pair): OLD drops its
    planted residue class, NEW drops a different one and the 'changed' docs
    grow by the suffix length — a real, deterministic length-shape shift."""
    from dq.crawldiff import (
        CHANGED_MOD,
        CHANGED_REM,
        CHANGED_SUFFIX,
        NEW_DROP_MOD,
        NEW_DROP_REM,
        OLD_DROP_MOD,
        OLD_DROP_REM,
    )

    did = F.col("doc_id")
    old = docs.where(did % OLD_DROP_MOD != OLD_DROP_REM).select("n_chars")
    new = docs.where(did % NEW_DROP_MOD != NEW_DROP_REM).select(
        F.when(
            did % CHANGED_MOD == CHANGED_REM,
            F.col("n_chars") + len(CHANGED_SUFFIX),
        )
        .otherwise(F.col("n_chars"))
        .alias("n_chars")
    )
    return old, new


# ---- pure-python twin (the pytest oracle) -----------------------------------


def band_drift_py(
    old_vals: list[int],
    new_vals: list[int],
    width: int = DRIFT_BAND_WIDTH,
) -> dict[int, tuple[int, int, int, int, int]]:
    """{band: (c_old, c_new, r_old_ppm, r_new_ppm, delta_ppm)} — must match
    the Spark path integer-for-integer (pytest-pinned)."""
    co: dict[int, int] = {}
    cn: dict[int, int] = {}
    for v in old_vals:
        co[v // width] = co.get(v // width, 0) + 1
    for v in new_vals:
        cn[v // width] = cn.get(v // width, 0) + 1
    t_o, t_n = sum(co.values()), sum(cn.values())
    out = {}
    for b in set(co) | set(cn):
        a, c = co.get(b, 0), cn.get(b, 0)
        ro, rn_ = a * DRIFT_SCALE // t_o, c * DRIFT_SCALE // t_n
        out[b] = (a, c, ro, rn_, rn_ - ro)
    return out


def ks_drift(old: DataFrame, new: DataFrame, value_col: str = "n_chars") -> DataFrame:
    """1-row EXACT two-sample Kolmogorov-Smirnov distance between two
    snapshots' value distributions — the unbinned companion to
    :func:`band_drift`: TV-over-bands can hide a shift that stays inside
    one band; KS is sup over every threshold.

    Exactness without floats: D = max_v |Fa(v)/na - Fb(v)/nb| is compared
    via the cross-multiplied integer |Fa(v)*nb - Fb(v)*na| (the
    token_drift_topk discipline); the reported ks_ppm is one final DIV of
    exact integers. The binding product is ks_ppm's numerator
    ks_num * 1000000 with ks_num <= na*nb, so it stays in int64 only while
    na*nb < 9.2e12 (~3e6 rows per side) — past that, run KS on a
    fixed-rate sample per side or lift the products to decimal(38,0); the
    gate corpus is nowhere near.

    Scale shape: each corpus reduces to value-grouped counts (one map-side
    combinable hash-agg each, value never the row); the cumulative window
    runs over DISTINCT values only — bounded by the metric's value domain
    (doc lengths: thousands of rows), the signal_fusion_rrf precedent for
    a safe unpartitioned window. The argmax is TakeOrdered with a
    deterministic min-value tie-break.
    """
    from pyspark.sql import Window

    ca = old.groupBy(F.col(value_col).alias("v")).agg(F.count(F.lit(1)).alias("_ca"))
    cb = new.groupBy(F.col(value_col).alias("v")).agg(F.count(F.lit(1)).alias("_cb"))
    merged = (
        ca.join(cb, "v", "full_outer")
        .select(
            "v",
            F.coalesce("_ca", F.lit(0)).alias("_ca"),
            F.coalesce("_cb", F.lit(0)).alias("_cb"),
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cums = merged.select(
        "v", F.sum("_ca").over(w).alias("_fa"), F.sum("_cb").over(w).alias("_fb")
    )
    totals = old.agg(F.count(F.lit(1)).alias("n_old")).crossJoin(
        new.agg(F.count(F.lit(1)).alias("n_new"))
    )
    scored = cums.crossJoin(totals).select(
        "v",
        "n_old",
        "n_new",
        F.abs(F.col("_fa") * F.col("n_new") - F.col("_fb") * F.col("n_old")).alias(
            "_num"
        ),
    )
    return (
        scored.orderBy(F.col("_num").desc(), F.col("v").asc())
        .limit(1)
        .select(
            F.col("v").cast("bigint").alias("ks_at"),
            F.col("_num").cast("bigint").alias("ks_num"),
            F.col("n_old").cast("bigint").alias("n_old"),
            F.col("n_new").cast("bigint").alias("n_new"),
            F.expr("(_num * 1000000) div (n_old * n_new)")
            .cast("bigint")
            .alias("ks_ppm"),
        )
    )


def rank_sum_drift(old: DataFrame, new: DataFrame, value_col: str = "n_chars") -> DataFrame:
    """1-row EXACT Mann-Whitney U between two snapshots' value
    distributions — the location-shift companion to :func:`ks_drift` (KS
    is sup-distance; U asks "is a NEW doc longer than an OLD doc more
    often than chance"). cles_ppm is the common-language effect size
    U_old / (n_old*n_new) — exactly P(old > new) + P(tie)/2, i.e. the
    AUC between the two samples.

    Tie-exact integer arithmetic: midranks would be halves, so everything
    carries DOUBLED ranks — a value spanning ranks S+1..S+c has doubled
    midrank 2S + c + 1, and u2 = 2U stays integral: u2_old =
    Σ c_old(v)·m2(v) − n_old·(n_old+1). The invariant
    u2_old + u2_new == 2·n_old·n_new is pytest-pinned. Same scale shape
    as ks_drift: per-value count aggs, one value-domain-bounded window.
    int64 headroom is set by cles_ppm's numerator u2_old * 1000000 with
    u2_old <= 2·n_old·n_new, so n_old·n_new < 4.6e12 (~2e6 rows/side).
    """
    from pyspark.sql import Window

    ca = old.groupBy(F.col(value_col).alias("v")).agg(F.count(F.lit(1)).alias("_ca"))
    cb = new.groupBy(F.col(value_col).alias("v")).agg(F.count(F.lit(1)).alias("_cb"))
    merged = ca.join(cb, "v", "full_outer").select(
        "v",
        F.coalesce("_ca", F.lit(0)).alias("_ca"),
        F.coalesce("_cb", F.lit(0)).alias("_cb"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = merged.select(
        "_ca",
        "_cb",
        # doubled midrank: 2*(cumulative BEFORE this value) + span + 1
        (
            2 * (F.sum(F.col("_ca") + F.col("_cb")).over(w) - F.col("_ca") - F.col("_cb"))
            + F.col("_ca")
            + F.col("_cb")
            + 1
        ).alias("_m2"),
    )
    return cum.agg(
        F.sum("_ca").cast("bigint").alias("n_old"),
        F.sum("_cb").cast("bigint").alias("n_new"),
        F.sum(F.col("_ca") * F.col("_m2")).alias("_r2a"),
        F.sum(F.col("_cb") * F.col("_m2")).alias("_r2b"),
    ).select(
        "n_old",
        "n_new",
        (F.col("_r2a") - F.col("n_old") * (F.col("n_old") + 1))
        .cast("bigint")
        .alias("u2_old"),
        (F.col("_r2b") - F.col("n_new") * (F.col("n_new") + 1))
        .cast("bigint")
        .alias("u2_new"),
        F.expr(
            "((_r2a - n_old * (n_old + 1)) * 1000000) div (2 * n_old * n_new)"
        )
        .cast("bigint")
        .alias("cles_ppm"),
    )
