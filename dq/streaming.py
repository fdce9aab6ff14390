"""Structured Streaming variant of the quality-filter pipeline.

The reference is batch-only (SURVEY.md §2.9); this module adds the
streaming surface a continuous-crawl ingest needs, reusing the SAME stage
expressions as the batch pipeline (heuristics / fused NLP UDF / scrub are
all stateless column expressions, so they drop into a streaming plan
unchanged). The two stateful differences vs batch:

- dedup: the batch survivor pick is unsupported on streams; the
  streaming-safe equivalent is ``dropDuplicatesWithinWatermark([content
  hash])`` — state is one 32-byte hash per doc within the watermark
  horizon, and Spark evicts it as event time advances. (Plain
  ``dropDuplicates([hash])`` would NOT evict: watermark eviction applies
  only when the event-time column is part of the dedup subset, so state
  grows unboundedly on a continuous stream.) Cross-horizon dups are caught
  by the batch dedup pass downstream.
- lineage: per-partition counts become a watermarked event-time window
  aggregation (append mode -> each window's lineage row is emitted once,
  exactly the idempotent-append contract of the batch manifest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dq.pipeline import PipelineConfig, kept_projection, with_partition
from dq.schema import PAGES

WATERMARK = "2 days"


def stream_pages(spark: SparkSession, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of pages parquet drops (schema pinned — streams
    cannot infer)."""
    reader = spark.readStream.schema(PAGES)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def streaming_enrich(
    pages: DataFrame, config: PipelineConfig | None = None, dedup: bool = True
) -> DataFrame:
    """Stateless stages + watermarked exact-dedup; mirrors batch ``enrich``
    minus the window-based survivor pick. ``dedup=False`` yields a fully
    stateless plan (for complete-mode downstream aggregations)."""
    from dq.dedup import fingerprint_col
    from dq.pipeline import _native_stages, _nlp_gates

    cfg = config or PipelineConfig()
    # the stage chain is SHARED with batch enrich (_native_stages:
    # heuristics + keep_heuristic + scrub + pii_found; _nlp_gates: the
    # configured model's fused UDF + lang/ppl gates) — one definition, so
    # thresholds, wiring and weights cannot drift between the two modes
    out = _nlp_gates(_native_stages(with_partition(pages), cfg), cfg)
    # the SHARED null-safe fingerprint: streaming hashes must join against
    # batch/ledger fingerprints (sha2 of NULL text would never match)
    out = out.withColumn("content_hash", fingerprint_col(F.col("text")))
    if dedup:
        out = out.withWatermark("warc_ts", WATERMARK).dropDuplicatesWithinWatermark(
            ["content_hash"]
        )
    return out.withColumn(
        "keep", F.col("keep_heuristic") & F.col("keep_lang") & F.col("keep_ppl")
    )


def streaming_lineage(enriched: DataFrame, window: str = "1 day") -> DataFrame:
    """Watermarked event-time-window lineage counts (append-mode safe)."""
    return (
        enriched.groupBy(F.window("warc_ts", window).alias("w"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_input"),
            F.sum(F.col("keep").cast("long")).cast("bigint").alias("n_kept"),
            F.sum((~F.col("keep")).cast("long")).cast("bigint").alias("n_dropped"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyyMMdd").alias("dt_foto"),
            "n_input",
            "n_kept",
            "n_dropped",
        )
    )


def run_stream(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    checkpoint: str,
    config: PipelineConfig | None = None,
    available_now: bool = True,
):
    """Kept docs to parquet, exactly-once via checkpointed file sink.
    ``available_now`` drains existing input then stops (the batch-parity
    test mode; continuous deployments pass False)."""
    kept = kept_projection(streaming_enrich(stream_pages(spark, in_path), config))
    writer = (
        kept.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_stream_with_ledger(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    checkpoint: str,
    ledger_path: str,
    config: PipelineConfig | None = None,
    available_now: bool = True,
):
    """Continuous ingest with CROSS-RUN exact dedup: each micro-batch runs
    the incremental fingerprint-ledger dedup
    (dq.dedup.incremental_non_survivor_keys) inside ``foreachBatch``, drops
    the losers, appends kept docs to the output and the batch's NEW
    fingerprints to the durable ledger.

    Complements ``dropDuplicatesWithinWatermark`` (whose state is bounded
    by the watermark horizon): the ledger catches re-crawls arbitrarily far
    apart, and its state lives on storage (32 B/distinct doc, fp-bucketable)
    instead of in the streaming state store. Replay safety: a crashed batch
    re-runs under the same batchId; re-appending its fingerprints is
    harmless because every ledger read distinct-collapses, and the
    within-batch survivor pick is deterministic. The kept-output parquet
    append can duplicate a replayed batch's rows — on Iceberg/Delta commit
    kept+ledger in one transaction keyed by batchId for exactly-once.
    """
    from pyspark.errors import AnalysisException

    from dq.dedup import fingerprint_col, incremental_non_survivor_units

    enriched = streaming_enrich(stream_pages(spark, in_path), config, dedup=False)

    def process_batch(batch_df, batch_id: int) -> None:
        from pyspark import StorageLevel

        # first-batch probe must work on any Hadoop filesystem (s3a/hdfs
        # paths would always fail a driver-local os.path check and silently
        # disable the ledger) — let the storage layer answer
        try:
            ledger = spark.read.parquet(ledger_path)
        except AnalysisException:
            ledger = None
        # foreachBatch actions re-execute the batch plan from the source:
        # without the persist, the kept write and the ledger append would
        # each re-run the whole enrich chain (the fused NLP UDF is the
        # dominant per-batch cost)
        batch_df = batch_df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            units, new_fps = incremental_non_survivor_units(batch_df, ledger)
            # drop by (fingerprint, url) UNIT, not by url: a url that carries a
            # duplicate text AND unique text loses only the losing copy — same
            # semantics as the batch join-back (dq.dedup.non_survivor_units)
            kept = kept_projection(
                batch_df.withColumn("_fp", fingerprint_col(F.col("text")))
                .join(units, ["_fp", "url"], "left_anti")
            )
            kept.write.mode("append").parquet(out_path)
            new_fps.write.mode("append").parquet(ledger_path)
        finally:
            batch_df.unpersist()

    writer = (
        enriched.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_stream_with_neardup_ledger(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    checkpoint: str,
    ledger_path: str,
    config: PipelineConfig | None = None,
    available_now: bool = True,
):
    """Continuous ingest with CROSS-RUN *near*-dup suppression: each
    micro-batch probes the durable LSH band ledger
    (dq.dedup.incremental_neardup_flags), drops docs sharing a band bucket
    with any previously-ledgered content (near-copies, boilerplate
    re-crawls) OR with a smaller-id doc in the SAME batch (within-batch
    family pick, dq.dedup.neardup_batch_losers — without it a backlog
    drained in one micro-batch would emit every near-copy it contains),
    and appends the batch's new band keys.

    The fuzzy sibling of :func:`run_stream_with_ledger` (which catches
    byte-exact re-crawls): the ledger holds distinct (band, key) pairs —
    16 B each, sublinear once near-dup families repeat — and lives on
    storage, not in the streaming state store. LSH-candidate semantics: a
    band hit is a high-overlap candidate, the right default for dropping
    boilerplate at ingest; pipelines needing verified Jaccard keep per-doc
    signatures in a side table and verify hits only. Replay safety matches
    the exact ledger: band appends distinct-collapse on read, so a
    re-processed batch is harmless.
    """
    from pyspark.errors import AnalysisException

    from dq.dedup import (
        incremental_neardup_flags,
        minhash_band_units,
        neardup_batch_losers,
    )

    enriched = streaming_enrich(stream_pages(spark, in_path), config, dedup=False)

    def process_batch(batch_df, batch_id: int) -> None:
        from pyspark import StorageLevel

        try:
            ledger = spark.read.parquet(ledger_path)
        except AnalysisException:
            ledger = None
        # two persists: the batch frame (foreachBatch actions re-run the
        # enrich UDF chain otherwise) and the band units (the MinHash
        # signature pass feeds flags, the within-batch pick AND the ledger
        # append — three consumers, one computation)
        batch_df = batch_df.persist(StorageLevel.MEMORY_AND_DISK)
        units = minhash_band_units(batch_df, id_col="url").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            flags, new_bands = incremental_neardup_flags(
                batch_df, ledger, id_col="url", units=units
            )
            # within-batch suppression: the ledger only knows PRIOR batches,
            # so a drained backlog's near-copy family would otherwise be
            # emitted in full — keep one representative per band-connected
            # family (same funnel as the exact sibling's rank() pick).
            # BOTH drops are left_anti on url, matching the exact sibling's
            # shape: an inner join against flags would silently discard
            # NULL-url rows (NULL keys never match), diverging from
            # run_stream_with_ledger on identical input.
            prior = flags.where(F.col("neardup_prior")).select("url")
            losers = neardup_batch_losers(units).select(F.col("doc").alias("url"))
            kept = kept_projection(
                batch_df.join(prior, "url", "left_anti").join(losers, "url", "left_anti")
            )
            kept.write.mode("append").parquet(out_path)
            new_bands.write.mode("append").parquet(ledger_path)
        finally:
            units.unpersist()
            batch_df.unpersist()

    writer = (
        enriched.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def domain_col(url_col="url"):
    """Domain extracted from the url (the natural hot key of a crawl)."""
    return F.regexp_extract(F.col(url_col), r"(?i)^[a-z]+://([^/]+)", 1)


def domain_running_counts(pages: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-domain
    cumulative document counter maintained across micro-batches (update
    mode). The state is one (count,) tuple per domain — the shape for
    running per-domain quality/volume monitors on a continuous crawl where
    a windowed agg won't do (state must survive arbitrarily many windows).

    State sizing at scale: one long per distinct domain (~10^7 domains ->
    ~100 MB across the cluster, hash-partitioned by domain; a hot domain is
    ONE state row, not a skew problem — volume concentrates in the input,
    not the state).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update_fn(key, pdfs, state):
        import pandas as pd

        (domain,) = key
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"domain": [domain], "n_docs": [total]})

    return (
        pages.withColumn("domain", domain_col())
        .groupBy("domain")
        .applyInPandasWithState(
            update_fn,
            "domain string, n_docs long",
            "n long",
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
