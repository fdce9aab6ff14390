"""Spark-vs-DuckDB parity over a corpus WITH NULL texts.

The driver-gate corpora contain zero NULL texts, so NULL-handling drift
between a query and its oracle twin is invisible at the gate (review
finding, r3): NOT-IN NULL poisoning, size(NULL) = -1 vs len(NULL) = NULL,
sha256(NULL) dropping rows from ledgers. This suite re-runs the text-tier
oracle pairs over a documents table where every 7th doc has NULL text —
any future divergence on the NULL paths fails here first.
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from __spark_entry__ import oracle_sql, queries
from dq.io import TABLES
from tools.compare_oracle import frame_hash, normalize

SF = "/root/testdata/sf0.001"
NULL_MOD = 7

# every oracled query that reads documents.text (the NULL-sensitive tier)
TEXT_QUERIES = [
    "line_dedup_global",
    "dup_line_metrics",
    "quality_classifier",
    "ccnet_quality_buckets",
    "token_budget_packing",
    "incremental_dedup_batch2",
    "bloom_ledger_probe",
    "kmv_corpus_overlap",
    "tfidf_top_terms",
    "crawl_snapshot_diff",
    "crawl_diff_summary",
    "temperature_sampled",
    "token_counts",
    "script_profiles",
    "corpus_report",
    "heuristic_metrics",
    "pipeline_keep_sql",
    "pipeline_funnel",
    "ngram_jaccard_pairs",
    "near_dup_clusters",
    "doc_fingerprints",
    "quality_scores",
    "lang_hint_sql",
    "repetition_metrics",
    "dup_ngram_metrics",
    "dup_span_fractions",
    "contamination_scores",
    "c4_line_filter",
    "nfc_normalized",
    "exact_dedup_survivors",
    "dup_metric_text",
    "scrub_pii",
    "doc_chunks",
    "dup_by_source",
    "token_drift_topk",
    "soft404_filter",
    "pii_type_counts",
    "dsir_selection",
    "domain_boilerplate",
    "vocab_stats",
    "lang_confusion",
    "doclen_percentiles_by_lang",
    "dup_span_removed",
    "snapshot_dedup_rates",
    "term_postings",
    "site_keep_rollup",
    "heuristic_threshold_sweep",
    "ngram_lm_counts",
    "winnowing_fps",
    "winnow_dup_pairs",
    "paragraph_bloom_dedup",
    "dup_cluster_histogram",
    "bpe_pair_counts",
    "bpe_token_fertility",
    "unimax_lang_budget",
    "readability_scores",
    "collocation_topk",
    "filter_agreement",
    "near_dup_survivors",
    "markup_density",
    "vocab_coverage_cutoffs",
    "quality_weighted_sample",
    "canonical_content_audit",
    "split_leakage_check",
    "meta_robots_filter",
    "classifier_calibration",
    "lm_doc_scores",
    "bm25_topk",
    "classifier_auc",
    "signal_fusion_rrf",
    "heavy_hitter_tokens",
    "homoglyph_metrics",
    "filter_overlap_matrix",
    "perceptron_weights",
    "perceptron_preds",
    "bootstrap_keep_rates",
    "containment_pairs",
    "mixture_weights",
    "editdist_pairs",
    "snapshot_line_churn",
    "blocklist_hits",
    "blocklist_filter",
    "recrawl_schedule",
    "allpairs_sim_pairs",
    "cm_token_counts",
    "coverage_source_picks",
    "ams_f2_tokens",
]


@pytest.fixture(scope="module")
def null_sf(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("nulltext"))
    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "text",
        F.when(F.col("doc_id") % NULL_MOD == 0, F.lit(None)).otherwise(F.col("text")),
    )
    docs.coalesce(1).write.parquet(f"{out}/documents.parquet")
    for t in TABLES:
        if t != "documents":
            spark.read.parquet(f"{SF}/{t}.parquet").write.parquet(
                f"{out}/{t}.parquet"
            )
    return out


@pytest.fixture(scope="module")
def null_con(null_sf):
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{null_sf}/{t}.parquet/*.parquet'")
    return c


@pytest.mark.parametrize("name", TEXT_QUERIES)
def test_null_text_query_vs_oracle(spark, null_sf, null_con, name):
    assert name in oracle_sql(), f"{name} lost its oracle"
    sdf = queries()[name](spark, null_sf).toPandas()
    odf = null_con.execute(oracle_sql()[name]).df()
    s, o = normalize(sdf), normalize(odf)
    assert len(s) == len(o)
    assert sorted(s.columns) == sorted(o.columns)
    assert frame_hash(s) == frame_hash(o)


def test_text_queries_list_is_complete():
    """CLAUDE.md invariant, enforced mechanically: every oracled query whose
    SQL reads documents.text must be in TEXT_QUERIES (ADVICE r3 found three
    absentees by hand; this makes the next one a test failure)."""
    import re

    missing = []
    for k, sql in oracle_sql().items():
        s = sql.lower()
        if "documents" in s and re.search(r"\btext\b", s) and k not in TEXT_QUERIES:
            missing.append(k)
    assert missing == [], f"oracled text readers absent from TEXT_QUERIES: {missing}"
