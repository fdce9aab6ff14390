"""Spark-vs-DuckDB parity over a corpus WITH NULL texts.

The gate corpora contain zero NULL texts, so NULL-handling drift
between a query and its oracle twin is invisible at the gate: NOT-IN NULL
poisoning, size(NULL) = -1 vs len(NULL) = NULL, sha256(NULL) dropping rows
from ledgers. This suite re-runs every oracled query whose Spark plan reads
documents.text over a documents table where every 7th doc has NULL text —
any future divergence on the NULL paths fails here first. Membership is
derived from each query's read set (``registry``, tests/conftest.py), not
listed.
"""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF0001, assert_pair_matches, write_corpus

PARITY_CORPUS = "null_text"
NULL_MOD = 7


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("nulltext"))
    docs = spark.read.parquet(f"{SF0001}/documents.parquet").withColumn(
        "text",
        F.when(F.col("doc_id") % NULL_MOD == 0, F.lit(None)).otherwise(F.col("text")),
    )
    return out, write_corpus(spark, out, {"documents": docs})


def test_null_text_query_vs_oracle(spark, corpus, name):
    assert_pair_matches(spark, *corpus, name)
