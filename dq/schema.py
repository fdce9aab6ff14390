"""Schema constants — replaces the reference's Hive DDLs with explicit StructTypes.

Reference DDL sites: dq_volumetria_falhas (reference README.md:3-15),
dq_duplicidade_falhas (flop/CorrigirBuracoDuplicidade.scala:27-34),
volumetria history shape (volumetria/ColetaVolumetria.scala:79-94),
duplicidade metric shape (duplicidade/ColetaDuplicidade.scala:95-102).
The primary input table shape comes from BASELINE.json input_hint.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Primary input: Common-Crawl-style pages (BASELINE.json input_hint).
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# Failure manifest (status 0 = open, 1 = remediated) — shared shape of
# dq_volumetria_falhas / dq_duplicidade_falhas in the reference.
DQ_FAILURES = T.StructType(
    [
        T.StructField("banco", T.StringType(), False),
        T.StructField("tabela", T.StringType(), False),
        T.StructField("dt_foto", T.StringType(), False),
        T.StructField("var_nome_campo", T.StringType(), True),
        T.StructField("var_formato_dt_foto", T.StringType(), True),
        T.StructField("status", T.LongType(), False),
    ]
)

# Row-volume history (volumetria family output).
DQ_VOLUMETRIA = T.StructType(
    [
        T.StructField("banco", T.StringType(), False),
        T.StructField("tabela", T.StringType(), False),
        T.StructField("dt_foto", T.StringType(), False),
        T.StructField("dt_processamento", T.StringType(), False),
        T.StructField("qtde_registros", T.LongType(), True),
        T.StructField("fonte", T.StringType(), True),
    ]
)

# Duplicate-metric history (duplicidade family output):
# qtde1 = count(rows), qtde2 = count(distinct rows), diferenca = qtde1-qtde2.
DQ_DUPLICADOS = T.StructType(
    [
        T.StructField("banco", T.StringType(), False),
        T.StructField("tabela", T.StringType(), False),
        T.StructField("dt_foto", T.StringType(), False),
        T.StructField("dt_processamento", T.StringType(), False),
        T.StructField("qtde1", T.LongType(), True),
        T.StructField("qtde2", T.LongType(), True),
        T.StructField("diferenca", T.LongType(), True),
        T.StructField("fonte", T.StringType(), True),
    ]
)

# Per-partition lineage/metrics written by the keep/drop pipeline.
DQ_LINEAGE = T.StructType(
    [
        T.StructField("dt_foto", T.StringType(), False),
        T.StructField("n_input", T.LongType(), False),
        T.StructField("n_kept", T.LongType(), False),
        T.StructField("n_dropped", T.LongType(), False),
        T.StructField("n_scrubbed", T.LongType(), False),
        T.StructField("n_exact_dups", T.LongType(), False),
        T.StructField("dt_processamento", T.StringType(), False),
        T.StructField("status", T.LongType(), False),
    ]
)
