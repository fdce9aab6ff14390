"""Per-partition duplicate metric + consolidation — the duplicidade family.

The reference computes qtde1=count(rows), qtde2=count(distinct rows),
diferenca=qtde1-qtde2 with TWO full scans joined to a constant anchor row
(duplicidade/ColetaDuplicidade.scala:86-149). We keep those semantics but
compute both counts in ONE scan + one shuffle (SURVEY.md §4.3 item 3):

    groupBy(row-fingerprint).count()  ->  agg(sum(cnt), count(*))

The row fingerprint is sha2 over to_json(struct(*)) — null-safe and
delimiter-safe, unlike concat_ws which collapses NULLs (SURVEY.md §7.3
item 2). At 10^12 rows this is the only formulation that survives: one
shuffle keyed by a uniform 256-bit hash (no skew by construction), partial
map-side aggregation, and no ``distinct *`` row-wide shuffle.

Consolidation (JuntaTabela) merges aux rows into the history cube with a
REAL keyed supersede (``dq.volumetry.merge_history``: one exchange on the
keys) — fixing the reference's self-tautology join bug
(duplicidade/JuntaTabela2.scala:48-50, SURVEY.md §2.3 J3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dq.io import literal_frame
from dq.schema import DQ_DUPLICADOS
from dq.volumetry import merge_history


def row_fingerprint(df: DataFrame, cols: list[str] | None = None) -> F.Column:
    """Null-safe 256-bit row hash over the given (default: all) columns."""
    cols = cols or df.columns
    return F.sha2(F.to_json(F.struct(*[F.col(c) for c in cols])), 256)


def dup_counts(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Single-scan (qtde1, qtde2, diferenca) over ``df`` (A3)."""
    per_row = df.groupBy(row_fingerprint(df, cols).alias("_fp")).agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    # coalesce: on empty input sum() is NULL — the metric must report
    # (0, 0, 0) exactly like the reference two-scan formulation
    return per_row.agg(
        F.coalesce(F.sum("_cnt"), F.lit(0)).cast("bigint").alias("qtde1"),
        F.count(F.lit(1)).cast("bigint").alias("qtde2"),
        (F.coalesce(F.sum("_cnt"), F.lit(0)) - F.count(F.lit(1)))
        .cast("bigint")
        .alias("diferenca"),
    )


def dup_cluster_histogram(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Duplicate-family size distribution — the dataset-card power-law
    figure (how much of the corpus sits in 1x / 2x / 100x-replicated
    families; FineWeb/RefinedWeb report exactly this curve around their
    dedup stages). One row per observed family size: (cluster_size,
    n_clusters, n_docs, share_bp), the share quantized to basis points by
    integer cross-multiplication so both engines agree bit-for-bit.

    Scale shape: docs reduce to the null-safe 8-B fingerprint count (text
    never shuffles — dq.dedup.fingerprint_col), then to an
    O(distinct sizes) table: two map-side-combinable hash-aggs plus a
    1-row broadcast of the corpus total. No window, no join back against
    the corpus."""
    from dq.dedup import fingerprint_col

    fams = df.groupBy(fingerprint_col(F.col(text_col)).alias("_fp")).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    total = df.agg(F.count(F.lit(1)).cast("bigint").alias("_total"))
    hist = fams.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters")
    )
    return hist.crossJoin(F.broadcast(total)).select(
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        "n_clusters",
        (F.col("cluster_size") * F.col("n_clusters")).cast("bigint").alias("n_docs"),
        F.expr(
            "CAST((cluster_size * n_clusters * 10000) DIV _total AS BIGINT)"
        ).alias("share_bp"),
    )


def dup_counts_two_scan(df: DataFrame) -> DataFrame:
    """Literal reference formulation (ColetaDuplicidade.scala:113-148):
    count(*) minus count over SELECT DISTINCT *. Used to equality-test the
    single-scan version; never the production path."""
    q1 = df.agg(F.count(F.lit(1)).cast("bigint").alias("qtde1"))
    q2 = df.distinct().agg(F.count(F.lit(1)).cast("bigint").alias("qtde2"))
    return q1.crossJoin(q2).select(
        "qtde1", "qtde2", (F.col("qtde1") - F.col("qtde2")).cast("bigint").alias("diferenca")
    )


def dup_metric_row(
    df: DataFrame,
    banco: str,
    tabela: str,
    dt_foto: str,
    partition_expr: str | None = None,
    fonte: str = "2",
    cols: list[str] | None = None,
) -> DataFrame:
    """Labeled one-row dup metric for a partition (≙ the reference CTAS output
    shape banco,tabela,dt_foto,dt_processamento,qtde1,qtde2,diferenca)."""
    scoped = df if partition_expr is None else df.where(F.expr(partition_expr) == F.lit(dt_foto))
    return dup_counts(scoped, cols).select(
        F.lit(banco).alias("banco"),
        F.lit(tabela).alias("tabela"),
        F.lit(dt_foto).alias("dt_foto"),
        F.date_format(F.current_date(), "yyyyMMdd").alias("dt_processamento"),
        "qtde1",
        "qtde2",
        "diferenca",
        F.lit(fonte).alias("fonte"),
    )


def consolidate(history: DataFrame, aux: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """JuntaTabela merge: history rows not superseded by aux + aux, distinct
    (≙ JuntaTabela.scala:31-87, with a real key match) — the same keyed
    supersede as :func:`dq.volumetry.merge_history`, on the same four keys."""
    return merge_history(history, aux, keys)


def empty_history(spark: SparkSession) -> DataFrame:
    return literal_frame(spark, [], DQ_DUPLICADOS)
