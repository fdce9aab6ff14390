"""Row-volume collection & reconciliation — the reference's volumetria family.

Semantics reproduced from volumetria/ColetaVolumetria.scala:31-123:
partition gate -> (failure row | measured count row) -> SCD-style history
merge. Deviations (documented, SURVEY.md §4.3): the merge key is a real
multi-column key (a null-safe keyed supersede), NOT a null-unsafe concat
string (ColetaVolumetria.scala:100); the pre-write ORDER BY is dropped
(non-semantic); read-then-overwrite is staged (Spark 3 legality).

Scale: the measured count is a partition-pruned scan + partial (map-side)
count — no shuffle of data rows; the history merge is one exchange of the
history and fresh rows on the merge keys; the failure row and empty
histories are JVM-side literal frames (``dq.io.literal_frame``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dq.io import literal_frame, partition_exists
from dq.schema import DQ_FAILURES, DQ_VOLUMETRIA

MERGE_KEYS = ["banco", "tabela", "dt_foto", "dt_processamento"]


def failure_row(
    spark: SparkSession, banco: str, tabela: str, dt_foto: str, campo: str, formato: str
) -> DataFrame:
    """Constant-projection failure row, status=0 (≙ ColetaVolumetria.scala:54-62)."""
    return literal_frame(spark, [(banco, tabela, dt_foto, campo, formato, 0)], DQ_FAILURES)


def measure_row(
    df: DataFrame,
    banco: str,
    tabela: str,
    dt_foto: str,
    partition_expr: str,
    fonte: str = "2",
) -> DataFrame:
    """Labeled count(*) of one partition (≙ ColetaVolumetria.scala:77-94).

    ``partition_expr`` is the already-resolved (format-dispatched in Python)
    partition expression, so the equality predicate prunes at the scan.
    """
    counted = (
        df.where(F.expr(partition_expr) == F.lit(dt_foto))
        .agg(F.count(F.lit(1)).cast("bigint").alias("qtde_registros"))
    )
    return counted.select(
        F.lit(banco).alias("banco"),
        F.lit(tabela).alias("tabela"),
        F.lit(dt_foto).alias("dt_foto"),
        F.date_format(F.current_date(), "yyyyMMdd").alias("dt_processamento"),
        F.col("qtde_registros"),
        F.lit(fonte).alias("fonte"),
    )


def merge_history(history: DataFrame, fresh: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """SCD-style upsert (C2 ≙ ColetaVolumetria.scala:97-123).

    history rows whose key collides with a fresh row are replaced, then the
    result is distinct. A keyed supersede: history (tag 0) and fresh (tag 1)
    are unioned and a key keeps only its rows of ``max(tag)``. The window
    groups NULL keys together, so the match is null-safe (the reference's
    concat trick is not, P4). One exchange, on ``keys``: the distinct needs
    its rows clustered on all columns, which a partitioning on a subset of
    them already gives.
    """
    keys = keys or MERGE_KEYS
    tagged = history.withColumn("_tag", F.lit(0)).unionByName(fresh.withColumn("_tag", F.lit(1)))
    top = tagged.withColumn("_top", F.max("_tag").over(Window.partitionBy(*keys)))
    return top.where(F.col("_tag") == F.col("_top")).drop("_tag", "_top").dropDuplicates()


def collect_volumetria(
    spark: SparkSession,
    monitored: DataFrame,
    history: DataFrame,
    banco: str,
    tabela: str,
    dt_foto: str,
    partition_expr: str,
    campo: str = "dt_foto",
    formato: str = "1",
) -> tuple[DataFrame | None, DataFrame | None]:
    """Full ColetaVolumetria lifecycle. Returns (new_history, failure_row) —
    exactly one is non-None (partition gate, C1)."""
    if not partition_exists(monitored, partition_expr, dt_foto):
        return None, failure_row(spark, banco, tabela, dt_foto, campo, formato)
    fresh = measure_row(monitored, banco, tabela, dt_foto, partition_expr)
    return merge_history(history, fresh), None


def empty_history(spark: SparkSession) -> DataFrame:
    return literal_frame(spark, [], DQ_VOLUMETRIA)


# ---- robust anomaly flags over a volumetry history --------------------------

# flag when |count - median| * 100 > ANOM_K_X100 * MAD  (k = 3.5, the
# textbook robust-zscore cutoff, carried as an integer x100)
ANOM_K_X100 = 350


def count_anomalies(counts: DataFrame, label_col: str = "day",
                    count_col: str = "n_rows") -> DataFrame:
    """Median/MAD anomaly flags over a (label, count) volumetry history —
    the alerting layer the reference's volumetria tier feeds (it collects
    and reconciles counts; this decides which collected count is WRONG).
    Robust statistics on purpose: mean/stddev break exactly when the
    history contains the outage being hunted (masking); the median and
    the median-absolute-deviation do not.

    Integer determinism: both medians are LOWER medians picked by
    row_number (rank (n+1) DIV 2 under a total order with the label as
    tie-break) — never an averaged even-split, which would be a double.
    A zero MAD (>= half the history identical) degenerates to flagging
    ANY deviation — the standard robust-zscore behavior, documented
    rather than epsilon-patched.

    Scale shape: the input is a volumetry history — one row per
    (partition label), bounded by the calendar (~10^4 rows a decade),
    control-plane scale by construction; the two unpartitioned
    row_number windows and the broadcast of the two 1-row median frames
    see only those rows (same discipline as token packing's super-bucket
    window, CLAUDE.md). The heavy part — producing the counts — is the
    caller's map-side-combinable count agg.

    Returns (label, count, med, mad, dev, is_anomaly) — is_anomaly is
    two-valued (never NULL: all inputs are non-null integers).
    """
    c = counts.select(
        F.col(label_col).alias("_label"), F.col(count_col).cast("bigint").alias("_n")
    )
    total = c.agg(F.count(F.lit(1)).alias("_total"))

    def lower_median(df: DataFrame, val: str) -> DataFrame:
        w = Window.orderBy(F.col(val), F.col("_label"))
        return (
            df.crossJoin(F.broadcast(total))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == F.expr("(_total + 1) DIV 2"))
            .select(F.col(val).alias("_med"))
        )

    med = lower_median(c, "_n")
    devs = c.crossJoin(F.broadcast(med)).withColumn(
        "_dev", F.abs(F.col("_n") - F.col("_med"))
    )
    mad = lower_median(devs.select("_label", "_dev"), "_dev").select(
        F.col("_med").alias("_mad")
    )
    return (
        devs.crossJoin(F.broadcast(mad))
        .select(
            F.col("_label").alias(label_col),
            F.col("_n").alias(count_col),
            F.col("_med").alias("med"),
            F.col("_mad").alias("mad"),
            F.col("_dev").alias("dev"),
            (F.col("_dev") * 100 > ANOM_K_X100 * F.col("_mad")).alias("is_anomaly"),
        )
    )
