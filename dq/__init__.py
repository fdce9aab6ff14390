"""dq — a from-scratch PySpark-native web-text quality-filter + data-quality engine.

Capability parity target: jonatastv/dataquality (reference at /root/reference,
Scala/Spark-1.6 Hive DQ suite; see SURVEY.md). Re-expressed Spark-first:
DataFrame/SQL + Catalyst for everything relational, vectorized pandas/Arrow
UDFs only for the payload stages SQL cannot express (language-ID, perplexity),
zero per-row Python, zero custom Catalyst rules.

Modules
-------
schema      StructType constants (replaces the reference's Hive DDLs)
synth       deterministic Common-Crawl-style ``pages`` generator (input_hint)
io          parquet/table read+write, partition manifest, checkpoint manifest
extract     html -> text extraction (byte-identical per url invariant)
langid      char-n-gram language ID (vectorized pandas UDF)
perplexity  n-gram LM perplexity scoring (vectorized pandas UDF)
heuristics  Gopher/C4-style quality rules (native Catalyst expressions)
scrub       regex PII scrubbing (regexp_replace chains)
dedup       exact / MinHash-LSH / SimHash / n-gram-Jaccard duplicate detection
similarity  embedding ANN: brute-force cosine top-k + LSH-bucketed variant
volumetry   partition row-count collection & reconciliation (volumetria family)
dupcheck    per-partition duplicate metric + history merge (duplicidade family)
metrics     grouped profiling aggregations (qualitativo family)
remediate   failure-manifest remediation loop (flop family)
textstats   token counting, quality scoring, fingerprinting
pipeline    end-to-end keep/drop pipeline with lineage + metrics sinks

Payload scope: web text (url, warc_ts, html, text, lang). Binary media
(image/audio/video decode) is out of scope.
"""

__version__ = "0.1.0"
