"""Physical-plan shape assertions: the properties that make these operators
survive a 100x scale-up (single scans, broadcasts, partition pruning,
codegen, bounded exchanges) — checked on the actual executed plans."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


import contextlib
import io
import re


def _explain(df, mode: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def plan_of(df) -> str:
    return _explain(df, "formatted")


def simple_plan_of(df) -> str:
    return _explain(df, "simple")


def test_dup_counts_single_scan(spark):
    """Single-scan formulation: one parquet scan, vs two in the literal
    reference shape (SURVEY.md §4.3 item 3)."""
    from dq.dupcheck import dup_counts, dup_counts_two_scan

    df = spark.read.parquet(f"{SF}/documents.parquet")
    assert simple_plan_of(dup_counts(df)).count("Scan parquet") == 1
    assert simple_plan_of(dup_counts_two_scan(df)).count("Scan parquet") == 2


def test_merge_history_one_keyed_exchange(spark, tmp_path):
    """The history merge is a keyed supersede: no join, and exactly one
    exchange above its inputs, hash-partitioned on the merge keys (the
    distinct reuses it)."""
    from dq import io as dqio, volumetry
    from dq.schema import DQ_VOLUMETRIA

    rows = [("db", "t", "20240101", "20260101", 7, "1"), ("db", "t", "20240102", "20260101", 8, "1")]
    p = str(tmp_path / "hist")
    dqio.literal_frame(spark, rows, DQ_VOLUMETRIA).write.parquet(p)
    hist = dqio.read_path(spark, p, default_schema=DQ_VOLUMETRIA)
    fresh = dqio.literal_frame(spark, rows[:1], DQ_VOLUMETRIA)
    plan = simple_plan_of(volumetry.merge_history(hist, fresh))
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    args = re.search(r"Exchange hashpartitioning\(([^)]*)\)", plan).group(1)
    keys = [re.sub(r"#\d+$", "", a.strip()) for a in args.split(",")[:-1]]
    assert keys == volumetry.MERGE_KEYS, plan


def test_enrich_has_single_wide_op(spark):
    """The filter pipeline is narrow except the dedup pass: exactly one
    exchange (hash by sha2(text)) in the whole enriched plan (forced-
    broadcast form — the single-job plan whose shape the gate reproduces
    with the narrow pass cached instead of inlined above its bound)."""
    from dq.pipeline import enrich
    from dq.queries import docs_as_pages

    # an earlier auto-mode run above the broadcast bound leaves its dedup
    # unit set cached, and the CacheManager would substitute it into this
    # plan, hiding the exchange this test asserts — clear to assert the cold
    # single-job shape
    spark.catalog.clearCache()
    plan = simple_plan_of(
        enrich(docs_as_pages(spark, SF), verify_extraction=False)
    )
    # ONE narrow exchange: the full-corpus (sha2, url) survivor window; the
    # fan-out-guard distinct groups on (_fp, url), a superset of the window
    # partitioning, so it reuses the same exchange. Width asserted in
    # test_enrich_exchange_is_narrow.
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan  # no accidental sorts
    # the dup flag comes back via broadcast join — the wide side never shuffles
    assert "SortMergeJoin" not in plan


def test_enrich_auto_gates_dedup_broadcast(spark, monkeypatch):
    """The dedup gate picks the join-back strategy from MEASURED counts (VERDICT r2 wrong-#1 — broadcast-always does not
    survive day-scale arithmetic). The scope's row count bounds the unit
    set: at or under the budget it broadcasts and caches nothing; above it
    the unit set is persisted and counted, and that count decides."""
    from dq import pipeline
    from dq.dedup import non_survivor_units
    from dq.pipeline import enrich
    from dq.queries import docs_as_pages

    cache = spark._jsparkSession.sharedState().cacheManager()
    pages = docs_as_pages(spark, SF)
    rows, units = pages.count(), non_survivor_units(pages, "text", "url").count()
    assert units < rows

    # (a) rows <= bound: broadcast on the row count alone, no cached unit set
    spark.catalog.clearCache()
    monkeypatch.setattr(pipeline, "DEDUP_BROADCAST_MAX_UNITS", rows)
    below = simple_plan_of(enrich(pages, verify_extraction=False))
    assert "BroadcastHashJoin [_fp" in below
    assert "SortMergeJoin" not in below
    assert cache.isEmpty()

    # (b) units <= bound < rows: broadcast, chosen through the counted unit set
    monkeypatch.setattr(pipeline, "DEDUP_BROADCAST_MAX_UNITS", units)
    counted = simple_plan_of(enrich(pages, verify_extraction=False))
    assert "BroadcastHashJoin [_fp" in counted
    assert not cache.isEmpty() and "InMemoryRelation" in counted
    spark.catalog.clearCache()

    # (c) over the budget the engine no longer FORCES a broadcast; emulate
    # the at-scale statistics (a 250 GB unit set is never size-eligible) by
    # disabling size-based auto-broadcast, and assert the planned fallback
    # is the sort-free shuffle_hash join
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    monkeypatch.setattr(pipeline, "DEDUP_BROADCAST_MAX_UNITS", -1)
    try:
        above = simple_plan_of(enrich(pages, verify_extraction=False))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.catalog.clearCache()
    assert "BroadcastHashJoin [_fp" not in above
    assert "ShuffledHashJoin [_fp" in above


def test_enrich_exchange_is_narrow(spark):
    """The one exchange carries only (fingerprint, url) ≈ 100 B/doc — never
    the document row (SCALING.md §2; VERDICT r1 wrong-#1). Holds for both
    the full UDF pipeline and the SQL-only tier."""
    import re

    from dq.pipeline import enrich, enrich_sql_only
    from dq.queries import docs_as_pages

    spark.catalog.clearCache()  # same cache-substitution hazard as above
    pages = docs_as_pages(spark, SF)
    for enriched in (
        enrich(pages, verify_extraction=False),
        enrich_sql_only(pages),
    ):
        plan = plan_of(enriched)
        # formatted plan: each node is "(n) NodeName" + attribute lines
        nodes = re.split(r"\n(?=\(\d+\) )", plan)
        exchanges = [
            n for n in nodes if n.split("\n")[0].rstrip().endswith("Exchange")
            and "hashpartitioning" in n
        ]
        assert exchanges, f"no hash exchange found in plan:\n{plan}"
        for node in exchanges:
            inp = re.search(r"Input \[(\d+)\]: \[([^\]]*)\]", node)
            assert inp, node
            n_cols, cols = int(inp.group(1)), inp.group(2)
            assert n_cols <= 3, f"exchange too wide ({n_cols} cols): {cols}"
            assert "text#" not in cols and "html#" not in cols, cols


def test_percentiles_window_over_histogram_not_rows(spark):
    """qualitativo_percentiles must aggregate to a per-flag value histogram
    BEFORE any window: the old row_number() form sorted the whole table on
    3 reducers (VERDICT r2 wrong-#2). The Window's subtree (text below it
    in the simple plan) must therefore contain a HashAggregate."""
    from dq.queries import qualitativo_percentiles

    plan = simple_plan_of(qualitativo_percentiles(spark, SF))
    assert "row_number" not in plan
    below_window = plan[plan.rindex("Window") :]
    assert "HashAggregate" in below_window


def test_exact_dedup_survivors_narrow_exchange(spark):
    """The survivor pick is one hash-agg (no window) over a (fingerprint,
    doc_id) projection — document text never enters an exchange (VERDICT
    r2 wrong-#3)."""
    import re

    from dq.queries import exact_dedup_survivors

    plan = plan_of(exact_dedup_survivors(spark, SF))
    assert "Window" not in plan, plan
    nodes = re.split(r"\n(?=\(\d+\) )", plan)
    exchanges = [n for n in nodes if n.split("\n")[0].rstrip().endswith("Exchange")]
    assert exchanges, f"no exchange found in plan:\n{plan}"
    for node in exchanges:
        inp = re.search(r"Input \[(\d+)\]: \[([^\]]*)\]", node)
        assert inp, node
        assert "text#" not in inp.group(2), inp.group(2)


def test_c4_line_filter_no_exchange(spark):
    """C4 line rules are pure column work: the whole query must plan with
    ZERO exchanges (scan -> project, fully codegen)."""
    from dq.queries import c4_line_filter

    plan = plan_of(c4_line_filter(spark, SF))
    assert "Exchange" not in plan, plan


def test_line_dedup_hot_agg_exchange_is_narrow(spark):
    """line_dedup_global's only shuffle (hot-line counting) carries the
    8-byte fingerprint + doc_id — never the line text; in broadcast mode
    the documents themselves never shuffle (dq/lines.py scale notes)."""
    import re

    from dq import lines
    from dq.queries import _t

    base = lines.multiline_docs(_t(spark, SF, "documents"))
    plan = plan_of(lines.line_dedup_global(base, mode="broadcast"))
    nodes = re.split(r"\n(?=\(\d+\) )", plan)
    for node in nodes:
        if not node.split("\n")[0].rstrip().endswith("Exchange"):
            continue
        if "hashpartitioning" in node:
            inp = re.search(r"Input \[(\d+)\]: \[([^\]]*)\]", node)
            assert inp, node
            assert int(inp.group(1)) <= 2, node
            assert "line#" not in inp.group(2) and "lines#" not in inp.group(2), node


def test_url_rules_filter_no_exchange(spark):
    """URL rules are pure column work over the url string: zero exchanges."""
    from dq.queries import url_rules_filter

    plan = plan_of(url_rules_filter(spark, SF))
    assert "Exchange" not in plan, plan


def test_contamination_no_text_in_exchange(spark):
    """Contamination scoring exchanges carry only (doc_id, fp/count) —
    the document text never shuffles; the benchmark side is broadcast."""
    import re

    from dq.queries import contamination_scores

    plan = plan_of(contamination_scores(spark, SF))
    assert "BroadcastExchange" in plan, plan  # bench fp set broadcast
    nodes = re.split(r"\n(?=\(\d+\) )", plan)
    for node in nodes:
        if not node.split("\n")[0].rstrip().endswith("Exchange"):
            continue
        if "hashpartitioning" in node:
            inp = re.search(r"Input \[(\d+)\]: \[([^\]]*)\]", node)
            assert inp, node
            assert "text#" not in inp.group(2) and "gram#" not in inp.group(2), node


def test_quality_classifier_no_exchange_single_split(spark):
    """The scorer is one codegen projection: zero exchanges, and the staged
    words array must not be re-inlined per lambda (CollapseProject trap —
    one split() in the optimized plan, not one per HOF reference)."""
    from dq.queries import quality_classifier

    plan = plan_of(quality_classifier(spark, SF))
    assert "Exchange" not in plan, plan
    assert plan.count("split(") <= 2, plan


def test_kmeans_broadcast_centroids_no_cartesian(spark):
    """Every Lloyd scoring pass broadcasts the k-row centroid frame; the
    corpus side never enters a cartesian shuffle, and the argmin is a
    map-side-combinable aggregate (HashAggregate), not a row window."""
    from dq.queries import kmeans_clusters

    plan = plan_of(kmeans_clusters(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    # argmin is an aggregate (min(struct) -> SortAggregate: partial/final,
    # map-side combinable), never a per-vector row window. Note the plan only
    # shows the FINAL scoring pass — localCheckpoint cuts the Lloyd-round
    # lineage (and with it the rounds' HashAggregates) out of the plan.
    assert "Aggregate" in plan, plan
    assert "Window" not in plan, plan


def test_dup_span_no_text_in_exchange(spark):
    """Every exchange in the dup-span detector carries (doc_id, fp)-width
    rows — never document text or gram strings."""
    import re

    from dq.queries import dup_span_fractions

    plan = plan_of(dup_span_fractions(spark, SF))
    nodes = re.split(r"\n(?=\(\d+\) )", plan)
    saw_exchange = False
    for node in nodes:
        if not node.split("\n")[0].rstrip().endswith("Exchange"):
            continue
        saw_exchange = True
        inp = re.search(r"Input \[(\d+)\]: \[([^\]]*)\]", node)
        assert inp, node
        assert "text#" not in inp.group(2) and "gram#" not in inp.group(2), node
    assert saw_exchange, plan


def test_stratified_sample_no_exchange(spark):
    """Deterministic sampling is a pure codegen filter: zero exchanges."""
    from dq.queries import stratified_sample

    plan = plan_of(stratified_sample(spark, SF))
    assert "Exchange" not in plan, plan


def _shuffle_records_written(spark, action) -> int:
    """Shuffle records written by the stages ``action`` runs, read from the
    status store after the listener bus drains (no extra Spark job)."""
    sc = spark.sparkContext._jsc.sc()
    quantiles = spark.sparkContext._gateway.new_array(
        spark.sparkContext._gateway.jvm.double, 0
    )

    def stages():
        it = sc.statusStore().stageList(None, False, False, quantiles, None).iterator()
        out = {}
        while it.hasNext():
            st = it.next()
            out[(st.stageId(), st.attemptId())] = st.shuffleWriteRecords()
        return out

    sc.listenerBus().waitUntilEmpty()
    before = set(stages())
    action()
    sc.listenerBus().waitUntilEmpty()
    return sum(n for sid, n in stages().items() if sid not in before)


def test_domain_cap_one_key_mega_frame_capped_map_side(spark):
    """One domain owning every row of a 400k-row frame: the top-K is exact,
    and the map-side WindowGroupLimit lets at most K rows per input
    partition cross the domain exchange — the skew bound topk relies on."""
    from dq.sampling import DOMAIN_CAP_K, domain_cap_sample

    n, parts, mul = 400_000, 8, 7919  # id * mul % n is a bijection on [0, n)
    base = spark.range(0, n, 1, parts).select(
        ((F.col("id") * mul) % n).alias("doc_id"), F.lit("hot").alias("domain")
    )
    out = domain_cap_sample(base)
    rows = []
    shuffled = _shuffle_records_written(spark, lambda: rows.extend(out.collect()))
    want = [
        (doc_id, "hot", rank)
        for rank, doc_id in enumerate(sorted(i * mul % n for i in range(n))[:DOMAIN_CAP_K], 1)
    ]
    assert sorted(tuple(r) for r in rows) == want
    assert 0 < shuffled <= DOMAIN_CAP_K * parts, shuffled


def test_token_packing_no_text_in_exchange(spark):
    """The scan's exchanges carry (doc_id, n_tokens, bucket) — never text;
    the only unpartitioned window is over the tiny bucket-level table."""
    import re

    from dq.queries import token_budget_packing

    plan = plan_of(token_budget_packing(spark, SF))
    nodes = re.split(r"\n(?=\(\d+\) )", plan)
    for node in nodes:
        if not node.split("\n")[0].rstrip().endswith("Exchange"):
            continue
        inp = re.search(r"Input \[(\d+)\]: \[([^\]]*)\]", node)
        assert inp, node
        assert "text#" not in inp.group(2), node


def test_partition_pruning_on_partitioned_output(spark, pages, tmp_path):
    """kept/ is written partitioned by dt_foto; an equality predicate must
    prune at the directory level (PartitionFilters, not a post-filter)."""
    from dq.pipeline import run

    run(spark, pages, str(tmp_path / "o"))
    kept = spark.read.parquet(str(tmp_path / "o" / "kept"))
    pruned = kept.where(F.col("dt_foto") == "20240301")
    plan = plan_of(pruned)
    assert "PartitionFilters: [isnotnull(dt_foto" in plan
    # full-scan row count > pruned scan row count proves pruning is live
    assert pruned.count() < kept.count()


def test_filter_pushdown_reaches_scan(spark):
    """Plain column predicates land in PushedFilters at the parquet scan."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    plan = plan_of(li.where(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity"))
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]" in plan
    # column pruning: the 2-column projection reads a 2-column schema
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_heuristics_native_and_cse(spark):
    """Heuristic metrics are native JVM expressions (no Python evaluation
    nodes; scan stage codegen'd — the higher-order-function Project itself
    is interpreted, which is Spark's ceiling for lambdas), and the token
    arrays are materialized once: the text is split at most twice per row,
    not once per metric."""
    from dq import heuristics

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = simple_plan_of(heuristics.with_heuristic_metrics(docs))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in plan
    assert "*(" in plan  # whole-stage-codegen'd scan stage
    assert plan.count("split(") <= 2


def test_minhash_no_cartesian(spark):
    """LSH candidate generation must be an equi-join on band buckets —
    never a cartesian/nested-loop product."""
    from dq.dedup import minhash_candidates

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = simple_plan_of(minhash_candidates(docs, id_col="doc_id", text_col="text"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_vectorized_corpus_never_shuffles_wide(spark):
    """GEMM top-k: the only exchange moves P x Q x k candidate rows, and the
    corpus scan feeds mapInPandas directly."""
    from dq.queries import ann_topk_bruteforce

    plan = simple_plan_of(ann_topk_bruteforce(spark, SF))
    # one exchange for the final window re-rank of the tiny candidate set
    assert plan.count("Exchange hashpartitioning") == 1


def test_aqe_coalesces_shuffle_partitions(spark):
    """AQE (on in dq.session) shrinks the configured 8 shuffle partitions
    to fit the tiny actual exchange — the runtime re-plan the engine leans
    on for the small-partition tail at scale."""
    df = (
        spark.read.parquet(f"{SF}/events.parquet")
        .groupBy("event_type")
        .count()
    )
    df.collect()  # AQE finalizes the plan only on execution
    plan = plan_of(df)
    assert "AQEShuffleRead" in plan
    assert "coalesced" in plan.lower()


def test_broadcast_threshold_salting_interplay(spark):
    """salted_join plan: replicate-small via explode, equi-join on
    (key, salt) — no shuffle of the big side beyond the join itself."""
    from dq import skew

    big = spark.range(1000).selectExpr("id", "concat('d', id % 3) as domain")
    small = spark.createDataFrame([("d0", 1), ("d1", 2)], "domain string, w int")
    plan = simple_plan_of(skew.salted_join(big, small, "domain", "id", buckets=4))
    assert "CartesianProduct" not in plan


def test_bucketed_storage_joins_without_wide_side_exchange(spark):
    """When a table is bucketed by ALL of a join's keys, a non-broadcast
    join needs NO exchange on the bucketed side — only the (tiny) other
    side shuffles to match the bucketing. Demonstrated on a bucketed
    saveAsTable joined on url alone: exactly one exchange, and it is not
    the bucketed side. The dedup join-back keys on (_fp, url), so url
    bucketing does not spare its wide side (SCALING.md §2)."""
    from dq import io as dqio

    dqio.drop_table(spark, "dq_bucketed_pages")
    spark.range(1000).selectExpr("cast(id as string) as url", "id as v").write.bucketBy(
        8, "url"
    ).sortBy("url").mode("overwrite").saveAsTable("dq_bucketed_pages")
    pages = spark.read.table("dq_bucketed_pages")
    units = spark.range(100).selectExpr("cast(id as string) as url").withColumn(
        "_is_dup", F.lit(True)
    )
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = simple_plan_of(pages.join(units.hint("shuffle_hash"), "url", "left"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SelectedBucketsCount" in plan  # the wide side reads its buckets
    dqio.drop_table(spark, "dq_bucketed_pages")


def test_run_ts_range_predicate_pushes_to_scan(spark, pages, tmp_path):
    """The warc_ts day-range predicate pipeline.run derives from pending
    partitions reaches the parquet scan as a pushed filter (row-group
    min/max skipping; on date-partitioned Iceberg it prunes partitions)."""
    from dq.pipeline import _ts_range_pred

    src = str(tmp_path / "pages_src")
    pages.write.parquet(src)
    scoped = spark.read.parquet(src).where(_ts_range_pred(["20240301", "20240302"]))
    plan = plan_of(scoped.select("url"))
    assert "PushedFilters: [IsNotNull(warc_ts), GreaterThanOrEqual(warc_ts" in plan
    assert "LessThan(warc_ts" in plan


@pytest.mark.parametrize("broadcast", [True, False])
def test_run_lineage_observed_in_write_result_stage(spark, pages, tmp_path, monkeypatch, broadcast):
    """pipeline.run observes its lineage counts on the kept write. Spark
    applies result-stage accumulator updates once per partition, but a
    retried MAP stage would count its rows twice: no Exchange may sit
    between CollectMetrics and the write, on either dedup join path. The
    observation's width is the aggregate set times the PENDING labels: a
    resume with 1 of 4 labels pending observes one set, not four."""
    import json

    from dq import pipeline

    if not broadcast:
        monkeypatch.setattr(pipeline, "DEDUP_BROADCAST_MAX_UNITS", -1)
    out = str(tmp_path / "o")
    pipeline.run(spark, pages, out)
    done = sorted(json.load(open(f"{out}/manifest.json")))
    assert len(done) == 4
    json.dump(done[:-1], open(f"{out}/manifest.json", "w"))
    pipeline.run(spark, pages, out)

    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    plans = []
    while it.hasNext():
        plans.append(it.next().physicalPlanDescription())
    plan = [p for p in plans if "CollectMetrics" in p][-1]
    # the first tree listed is the AQE final plan; walk up from the node
    lines = plan.splitlines()
    at = next(i for i, ln in enumerate(lines) if _tree_node(ln)[1].startswith("CollectMetrics"))
    col, ancestors = _tree_node(lines[at])[0], []
    for ln in reversed(lines[:at]):
        c, text = _tree_node(ln)
        if text and c < col:
            ancestors.append(text.lstrip("* "))
            col = c
    assert any(a.startswith("Execute InsertIntoHadoopFsRelationCommand") for a in ancestors), plan
    assert not any(a.startswith(("Exchange", "ShuffleQueryStage", "AQEShuffleRead")) for a in ancestors), plan
    if not broadcast:
        assert "ShuffledHashJoin" in plan  # the shuffle path sits below the node
    metrics = re.search(r"^\(\d+\) CollectMetrics\n.*\nArguments: (.*)$", plan, re.M).group(1)
    assert metrics.count(" AS n_") == len(pipeline._lineage_counts(pages))  # × 1 pending label


def test_doc_chunks_no_exchange(spark):
    """Chunking is a pure per-partition explode — zero shuffles."""
    from dq.sampling import chunk_docs

    df = spark.read.parquet(f"{SF}/documents.parquet")
    assert "Exchange" not in simple_plan_of(chunk_docs(df))


def test_dataset_split_no_exchange(spark):
    from dq.sampling import dataset_split

    df = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "lang")
    assert "Exchange" not in simple_plan_of(dataset_split(df))


def test_ccnet_buckets_docs_never_shuffle(spark):
    """The label pass joins the broadcast edge table: every hash exchange in
    the plan belongs to the tiny (lang, rate) histogram, never the docs."""
    from dq.classifier import ccnet_buckets

    df = spark.read.parquet(f"{SF}/documents.parquet")
    plan = simple_plan_of(ccnet_buckets(df))
    assert "BroadcastHashJoin" in plan
    import re

    for frag in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text#" not in frag and "doc_id#" not in frag


def test_crawl_diff_exchanges_carry_url_and_fp_only(spark):
    """The snapshot diff fingerprints BEFORE joining: every exchange in the
    full-outer plan carries (url, fp) — never the document text."""
    import re

    from dq.queries import crawl_snapshot_diff

    plan = plan_of(crawl_snapshot_diff(spark, SF))
    nodes = re.split(r"\n(?=\(\d+\) )", plan)
    exchanges = [n for n in nodes if n.split("\n")[0].rstrip().endswith("Exchange")]
    assert exchanges, f"no exchange found in plan:\n{plan}"
    for node in exchanges:
        inp = re.search(r"Input \[(\d+)\]: \[([^\]]*)\]", node)
        assert inp, node
        n_cols, cols = int(inp.group(1)), inp.group(2)
        assert n_cols <= 2, f"exchange too wide ({n_cols} cols): {cols}"
        assert "text#" not in cols, cols


def test_url_canonicalize_exchange_carries_no_text(spark):
    from dq.urlstats import url_canonicalize, url_docs

    base = url_docs(spark.read.parquet(f"{SF}/documents.parquet"))
    plan = simple_plan_of(url_canonicalize(base))
    assert "text#" not in plan  # url-only rows through the window


def test_token_packing_single_global_window_over_super_buckets_only(spark):
    """Pin the prefix-sum's one allowed unpartitioned window (VERDICT r3
    next-#6): exactly ONE Window in the plan has no partition spec, and its
    input is exactly the super-bucket aggregate (_sup, _sup_tokens) — a
    future edit cannot silently route the full row set through one task
    without failing this assertion."""
    import re

    from dq.queries import token_budget_packing

    plan = plan_of(token_budget_packing(spark, SF))
    nodes = re.split(r"\n(?=\(\d+\) )", plan)
    globals_ = []
    for node in nodes:
        if not re.match(r"\(\d+\) Window\b", node.split("\n")[0]):
            continue
        args = re.search(r"Arguments: (.*)", node).group(1)
        # partitioned windows carry 3 top-level bracket groups
        # ([exprs], [partition spec], [ordering]); the global one only 2
        groups = re.findall(r"\[[^\[\]]*(?:\[[^\]]*\][^\[\]]*)*\]", args)
        if len(groups) == 2:
            globals_.append(node)
    assert len(globals_) == 1, plan
    inp = re.search(r"Input \[\d+\]: \[([^\]]*)\]", globals_[0]).group(1)
    cols = sorted(c.strip().split("#")[0] for c in inp.split(","))
    assert cols == ["_sup", "_sup_tokens"], globals_[0]


def test_soft404_filter_no_exchange(spark):
    """Title rules + thin gate are one codegen projection — zero exchanges."""
    from dq.queries import soft404_filter

    assert "Exchange" not in simple_plan_of(soft404_filter(spark, SF))


def test_compression_ratios_no_exchange(spark):
    """One Arrow crossing per doc, no shuffle."""
    from dq.queries import compression_ratios

    plan = simple_plan_of(compression_ratios(spark, SF))
    assert "Exchange" not in plan and "ArrowEvalPython" in plan


def test_token_drift_exchanges_carry_tokens_only(spark):
    """Drift's exchanges carry (token, count) — the text column never
    shuffles; totals come back via a broadcast (J4 driving join); and the
    double-consumer subtree (totals + scored both read `joined`) is
    deduplicated by AQE exchange reuse, so the tokenize map stage runs
    once — NOT by a persist(), which would hide the exchanges from this
    audit and leak a cache entry per input pair."""
    import re

    from dq.queries import token_drift_topk

    df = token_drift_topk(spark, SF)
    plan = plan_of(df)
    nodes = re.split(r"\n(?=\(\d+\) )", plan)
    saw_exchange = False
    for node in nodes:
        if not node.split("\n")[0].rstrip().endswith("Exchange"):
            continue
        saw_exchange = True
        inp = re.search(r"Input \[(\d+)\]: \[([^\]]*)\]", node)
        assert inp and "text#" not in inp.group(2), node
    assert saw_exchange
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "InMemoryRelation" not in plan  # persist would blind this test
    # runtime reuse: AQE substitutes ReusedExchange for the repeated
    # side-count shuffles (visible only in the EXECUTED plan)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed


def test_snapshot_dedup_exchanges_carry_fp_only(spark):
    """snapshot_dedup_rates fingerprints FIRST: no exchange carries the
    document text, and there is no corpus-sized join — the accounting is
    one fp-keyed agg plus a constant-size posexplode."""
    import re

    from dq.queries import snapshot_dedup_rates

    plan = plan_of(snapshot_dedup_rates(spark, SF))
    nodes = re.split(r"\n(?=\(\d+\) )", plan)
    exchanges = [n for n in nodes if n.split("\n")[0].rstrip().endswith("Exchange")]
    assert exchanges
    for node in exchanges:
        inp = re.search(r"Input \[(\d+)\]: \[([^\]]*)\]", node)
        assert inp and "text#" not in inp.group(2), node
    assert "Join" not in plan  # pure agg pipeline, no join of corpus frames


def test_term_postings_ranks_narrow_frame_only(spark):
    """The inverted-index build ranks the narrow (term, doc_id, tf) frame:
    no text column crosses any exchange, no cartesian product, and the
    per-term window is capped map-side below the term exchange so a hot
    term reaches its reducer as <= k rows per input partition."""
    import re

    from dq.queries import term_postings

    df = term_postings(spark, SF)
    plan = plan_of(df)
    nodes = re.split(r"\n(?=\(\d+\) )", plan)
    for node in nodes:
        if node.split("\n")[0].rstrip().endswith("Exchange"):
            inp = re.search(r"Input \[(\d+)\]: \[([^\]]*)\]", node)
            assert inp and "text#" not in inp.group(2), node
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    tree = df._jdf.queryExecution().executedPlan().toString()
    assert ", Partial" in tree and uncapped_topk_windows(tree) == [], tree


def test_semdedup_pair_join_keys_include_sub_split(spark):
    """The SemDeDup pairwise join must key on (cluster_id, sub-split), not
    cluster_id alone — the cluster-size bound exists IN THE PLAN (VERDICT
    r4 wrong-#2), and degenerates to the exact uncapped join only via
    n_sub == 1, never by dropping the key."""
    from dq.clustering import semdedup_keep

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = simple_plan_of(semdedup_keep(emb, dim=64))
    joins = [
        ln for ln in plan.splitlines()
        if "Join" in ln and "_ca" in ln and "_cb" in ln
    ]
    assert joins, plan
    # equi-key lists must pair (_ca,_sa) with (_cb,_sb)
    assert all("_sa" in j and "_sb" in j for j in joins), joins


def test_minhash_capped_self_join_has_anti_before_it(spark):
    """Bucket cap ordering: the LeftAnti (hot-bucket drop) must sit BELOW
    the candidate self-join in the plan tree — capping after the join
    would bound nothing."""
    from dq import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "cast(doc_id as string) url", "text"
    )
    plan = simple_plan_of(dedup.minhash_candidates(docs))
    lines = plan.splitlines()
    anti = [i for i, ln in enumerate(lines) if "LeftAnti" in ln]
    inner_band_join = [
        i for i, ln in enumerate(lines)
        if "Join" in ln and "band" in ln and "LeftAnti" not in ln
    ]
    assert anti and inner_band_join, plan
    # deeper in the tree = later lines under the inner join's subtree;
    # simple check: every anti sits after the first inner band join line
    assert min(anti) > min(inner_band_join), plan


def test_bpe_pair_table_text_never_shuffles(spark):
    """BPE pair counting: exactly two hash exchanges — (word) vocab agg and
    (left,right) pair agg — with text consumed by the explode BEFORE any
    exchange, and the top-K as TakeOrdered, not a rangepartitioning sort."""
    import re

    from dq.queries import bpe_pair_counts

    plan = plan_of(bpe_pair_counts(spark, SF))
    nodes = re.split(r"\n(?=\(\d+\) )", plan)
    exchanges = [n for n in nodes if n.split("\n")[0].rstrip().endswith("Exchange")]
    assert len(exchanges) == 2, plan
    for node in exchanges:
        inp = re.search(r"Input \[(\d+)\]: \[([^\]]*)\]", node)
        assert inp and "text#" not in inp.group(2), node
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_near_dup_survivors_no_text_in_exchange_no_window(spark):
    """The survivor argmax is ONE map-side-combinable hash-agg via
    max(struct(n_tokens, -doc_id)) — no Window operator (a mega-family
    would serialize a row_number partition into one task) — and token
    counts are projected BEFORE the join, so no exchange carries text."""
    import re

    from dq.queries import near_dup_survivors

    df = near_dup_survivors(spark, SF)
    plan = plan_of(df)
    assert "Window" not in plan, plan
    nodes = re.split(r"\n(?=\(\d+\) )", plan)
    saw_exchange = False
    for node in nodes:
        if not node.split("\n")[0].rstrip().endswith("Exchange"):
            continue
        saw_exchange = True
        inp = re.search(r"Input \[(\d+)\]: \[([^\]]*)\]", node)
        assert inp, node
        assert "text#" not in inp.group(2), node
    assert saw_exchange, plan


def test_markup_density_no_exchange_single_scan(spark):
    """The markup signal is a pure codegen projection over one scan — the
    rendered html is staged as a real column so the three length exprs
    don't re-evaluate the render (multi-referenced non-cheap alias)."""
    from dq.queries import markup_density

    df = markup_density(spark, SF)
    plan = plan_of(df)
    assert "Exchange" not in plan, plan
    assert simple_plan_of(df).count("Scan parquet") == 1


def test_vocab_coverage_window_input_is_histogram(spark):
    """The cumulative window runs over the count-level histogram, never
    the vocabulary or the row set: the plan's single unpartitioned Window
    sits above the (cnt -> n_types) aggregate, and no exchange carries
    text or term strings."""
    import re

    from dq.queries import vocab_coverage_cutoffs

    plan = plan_of(vocab_coverage_cutoffs(spark, SF))
    assert plan.count("Window") >= 1
    nodes = re.split(r"\n(?=\(\d+\) )", plan)
    for node in nodes:
        head = node.split("\n")[0].rstrip()
        if head.endswith("Exchange"):
            inp = re.search(r"Input \[(\d+)\]: \[([^\]]*)\]", node)
            assert inp, node
            # term strings may cross (the vocab hash-agg's own shuffle —
            # short uniform token keys, the vocab_stats contract); the
            # document text never does
            assert "text#" not in inp.group(2), node
        if head.endswith("Window"):
            inp = re.search(r"Input \[(\d+)\]: \[([^\]]*)\]", node)
            assert inp, node
            # histogram columns only — cnt and n_types
            assert "term#" not in inp.group(2) and "text#" not in inp.group(2), node


def test_quality_weighted_sample_no_exchange(spark):
    """Soft quality sampling is one narrow codegen projection: zero
    exchanges, zero joins — the classifier score, ramp, and LCG decision
    all evaluate in the scan's stage."""
    from dq.queries import quality_weighted_sample

    df = quality_weighted_sample(spark, SF)
    plan = plan_of(df)
    assert "Exchange" not in plan, plan
    assert simple_plan_of(df).count("Scan parquet") == 1


def test_canonical_content_audit_no_text_in_exchange(spark):
    """The audit's exchanges carry (doc_id, root_id, depth)/(doc_id, fp)
    rows only — the document text never shuffles (fingerprint projected
    before the join)."""
    import re

    from dq.queries import canonical_content_audit

    plan = plan_of(canonical_content_audit(spark, SF))
    nodes = re.split(r"\n(?=\(\d+\) )", plan)
    for node in nodes:
        if not node.split("\n")[0].rstrip().endswith("Exchange"):
            continue
        inp = re.search(r"Input \[(\d+)\]: \[([^\]]*)\]", node)
        assert inp, node
        assert "text#" not in inp.group(2), node


def test_split_leakage_no_text_in_exchange(spark):
    """The leakage audit's exchanges carry (fp, split) / counter rows —
    document text never shuffles."""
    import re

    from dq.queries import split_leakage_check

    plan = plan_of(split_leakage_check(spark, SF))
    nodes = re.split(r"\n(?=\(\d+\) )", plan)
    saw_exchange = False
    for node in nodes:
        if not node.split("\n")[0].rstrip().endswith("Exchange"):
            continue
        saw_exchange = True
        inp = re.search(r"Input \[(\d+)\]: \[([^\]]*)\]", node)
        assert inp, node
        assert "text#" not in inp.group(2), node
    assert saw_exchange, plan


def test_training_order_single_narrow_exchange(spark):
    """The training-order shuffle costs exactly one hash exchange, keyed
    on the shard, carrying (doc_id, order_key, shard) — never a global
    sort (no rangepartitioning)."""
    import re

    from dq.queries import training_order_shuffle

    plan = plan_of(training_order_shuffle(spark, SF))
    nodes = re.split(r"\n(?=\(\d+\) )", plan)
    exchanges = [
        n for n in nodes if n.split("\n")[0].rstrip().endswith("Exchange")
    ]
    assert len(exchanges) == 1, plan
    assert "hashpartitioning(shard" in exchanges[0], exchanges[0]
    assert "rangepartitioning" not in plan, plan


def test_meta_robots_no_exchange_single_scan(spark):
    """The robots-meta filter is one codegen projection over one scan:
    zero exchanges, zero joins."""
    from dq.queries import meta_robots_filter

    df = meta_robots_filter(spark, SF)
    plan = plan_of(df)
    assert "Exchange" not in plan, plan
    assert simple_plan_of(df).count("Scan parquet") == 1, plan


def test_robots_txt_broadcast_no_window(spark):
    """The robots rule table must broadcast and the longest-match argmax
    must be an aggregate, never a window."""
    from dq.queries import robots_txt_filter

    plan = plan_of(robots_txt_filter(spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "Window" not in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_classifier_calibration_no_text_in_exchange(spark):
    """The calibration join carries (doc_id, keep_bp) x (doc_id, k) —
    text never shuffles."""
    import re

    from dq.queries import classifier_calibration

    plan = plan_of(classifier_calibration(spark, SF))
    nodes = re.split(r"\n(?=\(\d+\) )", plan)
    for node in nodes:
        if not node.split("\n")[0].rstrip().endswith("Exchange"):
            continue
        inp = re.search(r"Input \[(\d+)\]: \[([^\]]*)\]", node)
        assert inp, node
        assert "text#" not in inp.group(2), node


def test_exists_probe_decorrelates_to_semi_anti(spark):
    """EXISTS / NOT EXISTS must plan as left-semi + left-anti joins on the
    8-B custkey — never a cartesian or a row-wide shuffle."""
    from dq.queries import custs_exists_probe

    df = custs_exists_probe(spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan


def test_above_avg_decorrelates_without_cartesian(spark):
    from dq.queries import orders_above_cust_avg

    df = orders_above_cust_avg(spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    # correlated scalars become custkey-keyed aggregates joined back
    assert plan.count("hashpartitioning(o_custkey") >= 1, plan


# ------------------------------------------------ registry-wide plan audit --


def _tree_node(line: str) -> tuple[int, str]:
    """(indent column, node text) of one ``executedPlan().toString()`` line."""
    start = re.match(r"[ :|+\-]*", line).end()
    return start, line[start:]


def uncapped_topk_windows(plan: str) -> list[str]:
    """``Window [row_number() ...]`` nodes whose rank a Filter bounds
    (``<= k``, ``< k``, ``= 1``) but which sit neither over
    ``WindowGroupLimit Final`` <- Exchange <- ``WindowGroupLimit Partial``
    (each input partition ships <= k rows per key) nor over
    ``TakeOrderedAndProject`` (the keyless form)."""
    lines = plan.splitlines()
    filters = " ".join(t for _, t in map(_tree_node, lines) if t.startswith("Filter"))
    bad = []
    for i, line in enumerate(lines):
        col, text = _tree_node(line)
        if not text.startswith("Window [") or "row_number()" not in text:
            continue
        ranks = re.findall(r"row_number\(\) windowspecdefinition\(.*?\) AS (\S+#\d+)", text)
        if not any(re.search(re.escape(r) + r" (<=|<|=) ", filters) for r in ranks):
            continue
        chain = []  # the unary chain below the window, down to the Partial
        for below in lines[i + 1:]:
            c, t = _tree_node(below)
            if c != col + 3 * (len(chain) + 1):
                break
            chain.append(t.rsplit(", ", 1)[-1] if t.startswith("WindowGroupLimit") else t)
            if not t.startswith(("WindowGroupLimit", "Sort", "Exchange")) or t.endswith("Partial"):
                break
        capped = chain[:1] == ["Final"] and chain[-1] == "Partial" and any(
            t.startswith("Exchange") for t in chain
        )
        if not (capped or chain[0].startswith("TakeOrderedAndProject")):
            bad.append(text)
    return bad


def test_registry_sweep_no_row_python_no_cartesian(registry):
    """EVERY gate query's physical plan, mechanically audited: zero
    row-at-a-time Python UDFs (BatchEvalPython — the north-rule
    'vectorized pandas/Arrow UDFs only' invariant; pandas UDFs surface as
    ArrowEvalPython / FlatMapGroupsInPandas and are allowed) and zero
    CartesianProduct. Spot plan tests above pin SHAPES; this sweep pins
    the two never-acceptable nodes across the whole registry, so a future
    query can't quietly ship either one. It also pins the top-k skew
    bound: every rank-filtered row_number() window is capped map-side
    below its exchange or plans as TakeOrderedAndProject
    (:func:`uncapped_topk_windows`), with no exceptions."""
    offenders = {}
    for name, built in registry.items():
        bad = [
            node
            for node in ("BatchEvalPython", "CartesianProduct")
            if node in built.plan
        ]
        if uncapped_topk_windows(built.plan):
            bad.append("uncapped top-k Window")
        if bad:
            offenders[name] = bad
    assert offenders == {}, f"forbidden plan nodes: {offenders}"


def test_membership_is_derived_from_read_sets(registry):
    """The adversarial parity suites run the oracled queries whose read set
    meets their corpus. A change in Spark's plan text that blinds the
    read-set parser would drop every pair silently; this fails instead."""
    from tests.conftest import CORPUS_CHANGES, meets

    assert [n for n, b in registry.items() if not b.reads] == []
    assert meets(registry["heuristic_metrics"].reads, "null_text")
    assert meets(registry["qualitativo_price_bands"].reads, "nasty_numeric")
    assert meets(registry["retention_cohorts"].reads, "nasty_temporal")
    assert not any(meets(registry["kmeans_clusters"].reads, c) for c in CORPUS_CHANGES)
