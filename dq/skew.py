"""Skew handling for hot keys (north rule: 'salted keys for hot domains').

At 10^12 docs a handful of domains own double-digit percentages of rows; a
groupBy/join keyed by domain sends each hot key to ONE reducer. Four
standard defusals, all exact:

- algebraic aggs (count/sum/min/max): nothing to do — Spark's partial
  (map-side) aggregation already combines per input partition before the
  shuffle; hot keys arrive at the reducer as a handful of partials.
- distinct-style aggs per key: two-phase salted aggregation where the salt
  is derived from the ENTITY (so a given entity lands in exactly one
  bucket and the per-bucket distinct counts sum exactly).
- joins against a small-but-not-broadcastable side: replicate-and-salt
  (small side exploded x B salts, big side salted by a uniform row hash).
- per-key top-k: nothing to salt — :func:`topk` emits the plain
  ``row_number() <= k`` window, which the optimizer caps map-side
  (``WindowGroupLimit ... Partial`` below the exchange): a hot key crosses
  the shuffle as at most k rows per input partition. The registry plan
  sweep (tests/test_plans.py) pins that every top-k window plans this way.

AQE's runtime skew-join splitting (enabled in dq.session) is the backstop
for residual skew these shapes don't cover.

Reference has no skew handling (SURVEY.md §4.3 item 5) — this is an
engine addition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 32


def salt_from(col: Column, buckets: int = DEFAULT_BUCKETS) -> Column:
    """Deterministic uniform salt derived from a column (not rand(): resume
    and retries must re-derive identical salts)."""
    return F.pmod(F.xxhash64(col), F.lit(buckets)).cast("int")


def topk(
    df: DataFrame,
    keys: list[str | Column],
    order: list[str | Column],
    k: int,
    rank_col: str,
) -> DataFrame:
    """The first ``k`` rows per ``keys`` group under ``order``: ``df`` plus
    an int ``rank_col`` (1..k), i.e. ``row_number() OVER (PARTITION BY keys
    ORDER BY order) <= k``. Empty ``keys`` ranks the whole frame.

    Skew bound: with ``k`` a literal <= ``spark.sql.optimizer.
    windowGroupLimitThreshold`` (default 1000), Spark plans a partial
    ``WindowGroupLimit`` below the window's exchange, so each input
    partition ships at most k rows per key; the keyless form plans as
    ``TakeOrderedAndProject``. Give ``order`` a total order (a unique
    tiebreak) when the result must be deterministic.
    """
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn(rank_col, F.row_number().over(w).cast("int")).where(
        F.col(rank_col) <= k
    )


def salted_distinct_count(
    df: DataFrame,
    group_cols: list[str],
    entity_col: str,
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Exact count(distinct entity) per group, skew-proof.

    Phase 1 shuffles on (group, salt(entity)) — a hot group fans out over
    ``buckets`` reducers; because the salt is a function of the entity, each
    entity is counted in exactly one bucket, so phase 2's sum is exact.
    """
    salted = df.withColumn("_salt", salt_from(F.col(entity_col), buckets))
    phase1 = salted.groupBy(*group_cols, "_salt").agg(
        F.count_distinct(F.col(entity_col)).alias("_partial")
    )
    return phase1.groupBy(*group_cols).agg(
        F.sum("_partial").cast("bigint").alias(f"{entity_col}_distinct")
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    row_col: str,
    buckets: int = DEFAULT_BUCKETS,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where ``big`` is skewed on ``key`` and ``small`` is too big
    to broadcast: salt the big side by a uniform hash of ``row_col`` (any
    high-cardinality column), replicate the small side across all salts,
    join on (key, salt). A hot key's rows spread over ``buckets`` tasks.

    Only big-side-preserving joins are valid: the small side is REPLICATED
    across all buckets, so right/full-outer would emit ``buckets`` copies
    of each unmatched small-side row.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi", "left_anti", "leftanti"}
    if how.lower() not in allowed:
        raise ValueError(f"salted_join supports {sorted(allowed)}, not {how!r}: "
                         "the replicated small side would duplicate unmatched rows")
    b = big.withColumn("_salt", salt_from(F.col(row_col), buckets))
    s = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(buckets)]))
    )
    out = b.join(s, [key, "_salt"], how)
    return out.drop("_salt")


def top_keys(df: DataFrame, key: str, min_fraction: float = 0.01) -> DataFrame:
    """Hot-key detector: keys owning >= min_fraction of rows (drives
    :func:`hybrid_hot_cold_join`: broadcast-join the hot keys' rows,
    shuffle the cold rest). One pass, algebraic aggs only."""
    total = df.count()
    # floor(2) guard: on tiny inputs int(total*min_fraction) degenerates to
    # <= 1 and EVERY key with a single row counts as hot — hybrid_hot_cold_
    # join would then broadcast the entire small side, the exact failure the
    # hot/cold split exists to avoid (the oracle twin applies the same max)
    threshold = max(int(total * min_fraction), 2)
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= F.lit(threshold))
        .withColumn("fraction", F.col("n") / F.lit(total))
    )


def hybrid_hot_cold_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    min_fraction: float = 0.01,
    how: str = "inner",
) -> DataFrame:
    """Hybrid plan driven by the hot-key detector: big-side rows whose key
    owns >= ``min_fraction`` of the table join via BROADCAST of the small
    side's hot-key subset — the hot rows never shuffle at all — while the
    cold remainder takes the ordinary shuffle join, whose worst per-key
    reducer volume is now bounded by ``min_fraction`` of the table. The
    hot-key set itself is tiny by construction (at most 1/min_fraction
    keys), so both the split tag and the hot small-subset broadcast are
    free of wide exchanges.

    Exact for big-side-preserving joins: the hot/cold slices partition the
    big side, and each big row meets the full set of its key's small rows
    in exactly one slice. Same join-type restriction as
    :func:`salted_join` (the small side's hot subset is broadcast, so
    right/full-outer would lose or duplicate unmatched small rows).

    vs AQE skew-join: AQE splits oversized SMJ partitions at runtime but
    still sorts and shuffles every row; this shape removes the hot rows
    from the exchange entirely — use it when the skew is stable/known
    (crawl domains), AQE as the backstop for the residue.

    Scan cost: the hot-key set is materialized ONCE (localCheckpoint —
    it is tiny by construction, and without it the detector aggregation
    would re-run inside each of the two broadcast uses), so the big side
    is read twice for detection + tagging and once more per slice under
    the union — cache/checkpoint ``big`` upstream when it is not a cheap
    columnar scan, or feed a pre-computed key list via ``top_keys``.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi", "left_anti", "leftanti"}
    if how.lower() not in allowed:
        raise ValueError(f"hybrid_hot_cold_join supports {sorted(allowed)}, not {how!r}: "
                         "the broadcast hot subset would mishandle unmatched small rows")
    hot_keys = F.broadcast(
        top_keys(big, key, min_fraction).select(key).localCheckpoint(eager=True)
    )
    tagged = big.join(
        hot_keys.withColumn("_hot", F.lit(True)), key, "left"
    )  # broadcast tag join: the big side does not shuffle here
    hot_rows = tagged.where(F.col("_hot").isNotNull()).drop("_hot")
    cold_rows = tagged.where(F.col("_hot").isNull()).drop("_hot")
    small_hot = F.broadcast(small.join(hot_keys, key, "left_semi"))
    return hot_rows.join(small_hot, key, how).unionByName(cold_rows.join(small, key, how))


def gini_concentration(df: DataFrame, key: str) -> DataFrame:
    """1-row exact Gini coefficient of row-count concentration across a
    key's values — the skew MEASUREMENT this module's defusals act on
    (salting policy, crawl-budget caps, AQE expectations are all set by
    how concentrated the domain distribution actually is).

    Exact integers end-to-end: counts x_i ranked ascending (ties by key —
    the rank assignment is tie-order-invariant because equal x at ranks
    i, j contribute (i+j)*x either way), then
    G = (2*Σ i*x_i - (n+1)*Σx) / (n*Σx), reported as gini_ppm via one
    integer DIV; top_share_ppm (largest value's row share) rides along.
    The rank window orders the per-key COUNT table — bounded by the key's
    value domain (domains, not documents), the fusion precedent for an
    unpartitioned window. Headroom: Σ i*x_i <= n * total, int64-safe while
    n_keys * total_rows < 2^63.
    """
    from pyspark.sql import Window

    counts = df.groupBy(F.col(key).alias("k")).agg(F.count(F.lit(1)).alias("x"))
    w = Window.orderBy(F.col("x").asc(), F.col("k").asc())
    ranked = counts.select("x", F.row_number().over(w).alias("i"))
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("x").cast("bigint").alias("total_rows"),
        F.sum(F.col("i") * F.col("x")).alias("_ix"),
        F.max("x").alias("_mx"),
    ).select(
        "n_keys",
        "total_rows",
        F.expr(
            "(2 * _ix - (n_keys + 1) * total_rows) * 1000000"
            " div (n_keys * total_rows)"
        )
        .cast("bigint")
        .alias("gini_ppm"),
        F.expr("(_mx * 1000000) div total_rows").cast("bigint").alias("top_share_ppm"),
    )
