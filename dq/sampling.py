"""Corpus curation: deterministic sampling, domain balancing, token packing.

Training-data-pipeline additions beyond the reference's table-level DQ scope
(reference: volumetry/duplicity metrics only). Published semantics followed:

- Stratified deterministic sampling (The Pile / ROOTS mixture weights): each
  language keeps a fixed fraction of its documents, chosen by a hash of the
  document key — reproducible across runs/retries (never rand()), and any
  subset of the data can be sampled independently (no global state).
- Domain balancing (RefinedWeb §3.2 / C4 host quotas): cap the number of
  documents any single domain contributes, keeping the K smallest doc_ids
  (deterministic preference), so hot hosts can't dominate the mixture.
- Token-budget packing (GPT-style sequence packing, streaming semantics):
  walk documents in doc_id order, accumulate token counts, and emit the
  training-bin id floor(prefix_tokens_exclusive / budget) per document —
  the distributed prefix-sum shape.

Scale shapes (100 TB notes):
- hash_sample / stratified_sample are pure codegen filters: ZERO exchanges
  (plan-asserted); the hash is derived from the key column so resume and
  retry re-derive identical samples.
- domain_cap_sample is the shared per-key top-K (dq.skew.topk): the
  optimizer caps each input partition at K rows per domain BEFORE the
  domain exchange (map-side WindowGroupLimit), so a hot domain reaches its
  reducer as <= K rows per input partition regardless of domain size.
- token_budget_packing is a two-level distributed scan: range-bucket by
  doc_id, per-bucket token sums (tiny agg, map-side partials), ONE window
  over the bucket-level table (rows/BUCKET_SIZE entries — at 10^12 docs
  and 10^5 docs per bucket that is 10^7 16-byte rows ~ 160 MB on one reducer;
  acceptable, and the level can be repeated for another 10^5x headroom),
  then an equi-join back on bucket id and a window partitioned BY bucket
  (bounded rows per reducer) for the intra-bucket prefix. The document
  text never shuffles — only (doc_id, n_tokens, bucket).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dq.skew import topk
from dq.textstats import whitespace_token_count

# ---- shared constants (dq.oracles generates SQL from these) ----------------

SAMPLE_MOD = 10_000          # hash slots == basis points
# per-language keep rates in basis points (mixture weights); _default for
# languages not listed.
STRATA_BP = {"en": 6000, "zh": 3000, "es": 3000, "de": 1500, "fr": 1500}
STRATA_DEFAULT_BP = 500

# test-scale mixer: a 64-bit LCG step on the integer key, exactly
# representable in both engines (values stay far under 2^63 for gate-scale
# doc_ids; the scale path swaps in xxhash64(url) — Spark-only, same contract)
LCG_MUL = 2654435761
LCG_ADD = 40503

DOMAIN_CAP_K = 25            # max docs any one domain contributes

PACK_TOKEN_BUDGET = 512      # tokens per training bin
PACK_BUCKET_SIZE = 100       # docs per scan bucket (10^5 at real scale)


def lcg_bucket(key: Column) -> Column:
    """Deterministic SAMPLE_MOD-bucket assignment from an integer key."""
    return F.pmod(key * LCG_MUL + LCG_ADD, F.lit(SAMPLE_MOD))


def stratified_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    strata_col: str = "lang",
    rates_bp: dict[str, int] | None = None,
    default_bp: int = STRATA_DEFAULT_BP,
    bucket: Column | None = None,
) -> DataFrame:
    """Keep each stratum's configured fraction, chosen by key hash.

    Returns the input rows + (sample_bucket, keep_rate_bp, sampled). Pure
    codegen filter — zero exchanges; deterministic under retry/resume.
    """
    rates = STRATA_BP if rates_bp is None else rates_bp
    b = lcg_bucket(F.col(id_col)) if bucket is None else bucket
    rate = F.lit(default_bp)
    for k, v in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == k, F.lit(v)).otherwise(rate)
    return df.select(
        "*",
        b.cast("bigint").alias("sample_bucket"),
        rate.cast("bigint").alias("keep_rate_bp"),
        (b < rate).alias("sampled"),
    )


TEMP_SCALE = SAMPLE_MOD * SAMPLE_MOD  # 10^8: rate_bp = isqrt(SCALE*n_min/n_l)


def temperature_sample(
    df: DataFrame, id_col: str = "doc_id", strata_col: str = "lang"
) -> DataFrame:
    """mC4/mT5 temperature sampling (alpha = 0.5): language l is kept at a
    rate proportional to 1/sqrt(n_l), normalized so the rarest language
    keeps everything — expected kept mass per language ~ n_l^alpha, which
    flattens the head without starving the tail.

    Unlike :func:`stratified_sample` (CONFIGURED rates) the rates here are
    COMPUTED from the corpus: rate_bp(l) = floor(sqrt((TEMP_SCALE * n_min)
    DIV n_l)). The radicand is an exact integer <= 10^8 << 2^52, and IEEE
    correctly-rounded double sqrt makes floor(sqrt(exact_int)) == isqrt on
    both engines — no float drift crosses the boundary.

    NULL strata form their own ordinary group (coalesced to a sentinel on
    both the histogram and the join key) — rows are never dropped by the
    rate join and a NULL group influences n_min like any other language.

    Scale shape: one lang-keyed histogram (map-side combinable), a 1-row
    min broadcast onto it, and the tiny per-lang rate table broadcast back
    onto the docs — the documents themselves never shuffle (plan-asserted).
    """
    skey = F.coalesce(F.col(strata_col), F.lit("\x00")).alias("_strata")
    counts = df.select(skey).groupBy("_strata").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n_docs")
    )
    nmin = counts.agg(F.min("_n_docs").alias("_n_min"))
    rates = counts.crossJoin(F.broadcast(nmin)).select(
        "_strata",
        F.floor(
            F.sqrt(F.expr(f"({TEMP_SCALE} * _n_min) DIV _n_docs"))
        )
        .cast("bigint")
        .alias("keep_rate_bp"),
    )
    b = lcg_bucket(F.col(id_col))
    return (
        df.withColumn("_strata", skey)
        .join(F.broadcast(rates), "_strata")
        .select(
            *df.columns,
            b.cast("bigint").alias("sample_bucket"),
            "keep_rate_bp",
            (b < F.col("keep_rate_bp")).alias("sampled"),
        )
    )


def domain_cap_sample(
    base: DataFrame,
    key_col: str = "domain",
    order_col: str = "doc_id",
    k: int = DOMAIN_CAP_K,
) -> DataFrame:
    """Exact first-K-per-key quota, skew-proof (map-side capped top-K).

    Keeps the ``k`` smallest ``order_col`` values per ``key_col`` with ties
    impossible (order_col is unique). Output: input columns + domain_rank.
    """
    return topk(base, [key_col], [order_col], k, "domain_rank")


def token_budget_packing(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = PACK_TOKEN_BUDGET,
    bucket_size: int = PACK_BUCKET_SIZE,
) -> DataFrame:
    """Streaming-pack documents into ``budget``-token training bins.

    In ``id_col`` order, bin_id = floor(exclusive_prefix_tokens / budget)
    — the document that crosses a budget boundary starts in the bin its
    first token lands in (split-allowed streaming semantics; greedy
    whole-doc packing is a different, inherently sequential contract).
    Output: (doc_id, n_tokens, bin_id). THREE-level distributed prefix sum:
    docs partition by bucket (<= bucket_size rows/task), bucket partials
    partition by super-bucket (<= bucket_size rows/task), and only the
    super-bucket partials — n/bucket_size^2 rows, ~100 at 10^12 docs —
    cross the one globally-ordered window, so no task ever materializes
    more than bucket_size rows.
    """
    narrow = docs.select(
        F.col(id_col).alias("doc_id"),
        whitespace_token_count(F.col(text_col)).cast("bigint").alias("n_tokens"),
        F.floor(F.col(id_col) / bucket_size).cast("bigint").alias("_bkt"),
    )
    per_bucket = narrow.groupBy("_bkt").agg(
        F.sum("n_tokens").alias("_bkt_tokens")
    ).withColumn("_sup", F.floor(F.col("_bkt") / bucket_size).cast("bigint"))
    per_super = per_bucket.groupBy("_sup").agg(
        F.sum("_bkt_tokens").alias("_sup_tokens")
    )
    w_sup = Window.orderBy("_sup").rowsBetween(Window.unboundedPreceding, -1)
    sup_off = per_super.select(
        "_sup", F.coalesce(F.sum("_sup_tokens").over(w_sup), F.lit(0)).alias("_sup_off")
    )
    w_bkt = (
        Window.partitionBy("_sup").orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        per_bucket.join(F.broadcast(sup_off), "_sup")
        .withColumn(
            "_bkt_off", F.coalesce(F.sum("_bkt_tokens").over(w_bkt), F.lit(0))
        )
        .select("_bkt", (F.col("_sup_off") + F.col("_bkt_off")).alias("_offset"))
    )
    w_in = (
        Window.partitionBy("_bkt").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        narrow.join(offsets, "_bkt")
        .withColumn("_intra", F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0)))
        .select(
            "doc_id",
            "n_tokens",
            F.floor((F.col("_offset") + F.col("_intra")) / budget)
            .cast("bigint")
            .alias("bin_id"),
        )
    )


# training-window chunking: size/stride in whitespace tokens
CHUNK_SIZE = 64
CHUNK_STRIDE = 48  # 16-token overlap between consecutive windows


def chunk_docs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = CHUNK_SIZE,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """Fixed-size token windows with stride (the return_overflowing_tokens
    convention): chunk i covers words [i*stride, i*stride + size); the last
    window may be short and may overlap its predecessor heavily — standard
    for LM training prep. Empty docs emit no chunks.

    Shape: words staged once as a real column; one posexplode-free explode
    of the (tiny, constant-stride) start-offset sequence; chunk text is
    rebuilt JVM-side with array_join — zero UDFs, zero joins; the output
    naturally partitions like the input (no shuffle).
    """
    words = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda w: w != F.lit("")
    )
    staged = df.select(F.col(id_col).alias("doc_id"), words.alias("_w"))
    n = F.size("_w")
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    ex = (
        staged.select("doc_id", "_w", F.explode_outer(starts).alias("_s"))
        .where(F.col("_s").isNotNull() & (F.col("_s") < F.size("_w")))
    )
    return ex.select(
        "doc_id",
        F.expr(f"_s DIV {stride}").cast("bigint").alias("chunk_idx"),
        F.least(F.lit(size), F.size("_w") - F.col("_s")).cast("bigint").alias("n_tokens"),
        F.array_join(F.slice("_w", F.col("_s") + 1, size), " ").alias("chunk_text"),
    )


# train/val/test split edges in SAMPLE_MOD slots (basis points)
SPLIT_EDGES = [("train", 9600), ("val", 9800), ("test", 10_000)]


def dataset_split(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic train/val/test assignment by key hash: bucket <
    edge_k → split k (96/2/2). The same doc lands in the same split on
    every run, cluster size, and retry — the property random() splits
    lack. Pure codegen projection, zero exchanges; the split-proportion
    report is a downstream groupBy if needed."""
    b = lcg_bucket(F.col(id_col))
    split = F.lit(SPLIT_EDGES[-1][0])
    for name, edge in reversed(SPLIT_EDGES):
        split = F.when(b < edge, F.lit(name)).otherwise(split)
    return df.select(
        "*", b.cast("bigint").alias("sample_bucket"), split.alias("split")
    )


# UniMax-style language-budget water-filling (Chung et al. 2023, "UniMax:
# Fairer and More Effective Language Sampling for Large-Scale Multilingual
# Pretraining"): spread a total training-token budget as uniformly as
# possible across languages, capping each language at UNIMAX_EPOCH_CAP
# epochs of its own corpus. dq.oracles generates the DuckDB twin from these
# constants.
UNIMAX_EPOCH_CAP = 4    # max epochs any language may repeat
UNIMAX_BUDGET_MULT = 3  # training budget = 3x total corpus tokens
UNIMAX_BP_SCALE = 10000


def unimax_allocation(
    df: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    epoch_cap: int = UNIMAX_EPOCH_CAP,
    budget_mult: int = UNIMAX_BUDGET_MULT,
) -> DataFrame:
    """(lang, n_tokens, cap_tokens, alloc_tokens, saturated,
    alloc_epochs_bp) — the exact integer water-filling allocation.

    Sort languages by cap ascending (ties by lang); a language saturates
    iff splitting the budget remaining at its rank evenly over it and all
    larger languages would still reach its cap — this failure is
    PROVABLY monotone for ascending caps (if cap_k(n-k+1) > B - prefix_{k-1}
    then cap_{k+1}(n-k) >= cap_k(n-k) > B - prefix_{k-1} - cap_k), so the
    saturated set is the flag-sum prefix m. Unsaturated languages get
    integer share (R DIV u) with the remainder R % u given to the first
    R % u of them in sort order — fully deterministic, no doubles anywhere
    (CLAUDE.md: never compare raw doubles across engines).

    Scale shape: the corpus is consumed by one (lang) hash-agg with
    map-side partials; every window after that runs over the per-language
    table — tens of rows at any corpus size (the token-packing
    super-bucket argument), so the unpartitioned windows are free.
    alloc_epochs_bp guards n_tokens = 0 (a lang of all-NULL texts) to 0:
    a NULL from DIV-by-zero would break the gate's hash compare.
    """
    per_lang = (
        df.select(
            F.col(lang_col).alias("lang"),
            whitespace_token_count(text_col).cast("bigint").alias("_t"),
        )
        .groupBy("lang")
        .agg(F.sum("_t").cast("bigint").alias("n_tokens"))
        .withColumn("cap_tokens", (F.lit(epoch_cap) * F.col("n_tokens")).cast("bigint"))
    )
    w_ord = Window.orderBy("cap_tokens", "lang")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    ranked = (
        per_lang.withColumn("k", F.row_number().over(w_ord))
        .withColumn("prefix", F.sum("cap_tokens").over(w_run))
        .withColumn("n", F.count(F.lit(1)).over(w_all))
        .withColumn(
            "budget", (F.lit(budget_mult) * F.sum("n_tokens").over(w_all)).cast("bigint")
        )
        .withColumn(
            "sat",
            (
                F.col("cap_tokens") * (F.col("n") - F.col("k") + 1)
                <= F.col("budget") - (F.col("prefix") - F.col("cap_tokens"))
            ).cast("int"),
        )
    )
    ranked = ranked.withColumn("m", F.sum("sat").over(w_all)).withColumn(
        "sat_total", F.sum(F.col("sat") * F.col("cap_tokens")).over(w_all)
    )
    alloc = F.expr(
        "CAST(CASE WHEN k <= m THEN cap_tokens"
        " ELSE ((budget - sat_total) DIV (n - m))"
        "      + (CASE WHEN k - m <= ((budget - sat_total) % (n - m))"
        "         THEN 1 ELSE 0 END)"
        " END AS BIGINT)"
    )
    return (
        ranked.withColumn("alloc_tokens", alloc)
        .withColumn("saturated", F.col("k") <= F.col("m"))
        .withColumn(
            "alloc_epochs_bp",
            F.expr(
                f"CAST(CASE WHEN n_tokens > 0 THEN ({UNIMAX_BP_SCALE} * alloc_tokens)"
                " DIV n_tokens ELSE 0 END AS BIGINT)"
            ),
        )
        .select(
            "lang", "n_tokens", "cap_tokens", "alloc_tokens", "saturated",
            "alloc_epochs_bp",
        )
        .orderBy("lang")
    )


# quality-weighted sampling ramp: mean per-token weight (micro-units) maps
# linearly onto keep probability — the hashing-trick weight span's ends
# (dq.classifier WEIGHT_SPAN: [-1000, +1000]) anchor bp 0 and bp 10000.
QW_LO_MICRO = -1000
QW_HI_MICRO = 1000


def quality_weighted_sample(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Soft quality filtering (FineWeb-Edu / DCLM style): instead of a hard
    keep/drop at one threshold, each document is kept with probability
    proportional to its classifier score — a linear ramp from QW_LO_MICRO
    (keep_bp 0) to QW_HI_MICRO (keep_bp 10000) over the mean per-token
    hashed weight (dq.classifier), decided by the shared deterministic LCG
    bucket (dq.sampling.lcg_bucket — retry/resume-stable, cluster-size
    independent). Toxic-laced docs (hard negative prior) ramp to 0;
    empty docs score a neutral 0 micro (keep_bp 5000) by convention.

    All arithmetic is exact-integer truncating division (both engines
    truncate toward zero, probed), so the twin is bit-exact. Scale shape:
    one narrow codegen projection — zero exchanges, zero joins
    (plan-asserted); the expected kept mass is sum(keep_bp)/10000 with no
    global pass needed."""
    from dq.classifier import classifier_scores

    span = QW_HI_MICRO - QW_LO_MICRO
    s = classifier_scores(docs, id_col=id_col, text_col=text_col).select(
        "doc_id",
        "n_tokens",
        "score_micro",
        F.when(F.col("n_tokens") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("score_micro DIV n_tokens"))
        .alias("ptoken_micro"),
    )
    keep_bp = F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.lit(10_000).cast("long"),
            F.expr(f"((ptoken_micro - {QW_LO_MICRO}) * 10000) DIV {span}"),
        ),
    )
    b = lcg_bucket(F.col("doc_id"))
    staged = s.select("*", keep_bp.alias("keep_bp"))
    return staged.select(
        "doc_id",
        "n_tokens",
        "score_micro",
        "ptoken_micro",
        "keep_bp",
        b.cast("bigint").alias("sample_bucket"),
        (b < F.col("keep_bp")).alias("sampled"),
    )


# ------------------------------------------------ cross-split leakage -----

# Split assignment hashes the DOC ID (dataset_split), so byte-identical
# mirrors / re-crawls land in splits independently: an exact duplicate
# straddling train and an eval split silently leaks held-out content into
# training (the GPT-3 appendix-C contamination failure, applied to one's
# own splits). The audit counts straddling contents and leaked eval docs
# per ordered split pair BEFORE training does. dq.oracles generates the
# DuckDB twin from these constants.
SPLIT_PAIRS = [("train", "val"), ("train", "test"), ("val", "test")]
LEAK_SCALE = 10_000  # leak share of the eval split, basis points


def split_leakage_audit(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(pair, shared_contents, leaked_eval_docs, eval_docs, leak_bp): for
    each split pair (a, b), the distinct contents present in BOTH splits,
    the b-side docs whose content also appears in a (docs an evaluation on
    b has already trained on), b's doc total, and the leak share in basis
    points (integer DIV — both engines truncate toward zero, probed).

    Plan shape: fingerprint + split are assigned in the scan projection
    (text never shuffles — the one exchange carries (fp, split) ~40
    B/doc); ONE fp-keyed hash-agg builds the constant-width per-split
    count vector; ONE global agg folds it to a single counter row; a
    constant-size inline explode emits the three pair rows. No
    corpus-sized join, no window, no global sort — the
    snapshot_dedup_rates shape with splits as the snapshot axis."""
    from dq.dedup import fingerprint_col

    names = [n for n, _ in SPLIT_EDGES]
    s = dataset_split(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    )
    per = (
        s.select(fingerprint_col(F.col("text")).alias("fp"), "split")
        .groupBy("fp")
        .agg(
            *[
                F.sum(F.when(F.col("split") == n, 1).otherwise(0)).alias(f"n_{n}")
                for n in names
            ]
        )
    )
    aggs = []
    for a, b in SPLIT_PAIRS:
        tag = f"{a[0]}{b[0]}"
        aggs.append(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col(f"n_{a}") > 0) & (F.col(f"n_{b}") > 0), 1
                    ).otherwise(0)
                ),
                F.lit(0),
            ).alias(f"sh_{tag}")
        )
        aggs.append(
            F.coalesce(
                F.sum(F.when(F.col(f"n_{a}") > 0, F.col(f"n_{b}")).otherwise(0)),
                F.lit(0),
            ).alias(f"lk_{tag}")
        )
    aggs.extend(
        F.coalesce(F.sum(F.col(f"n_{n}")), F.lit(0)).alias(f"tot_{n}")
        for n in names
    )
    g = per.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(f"{a}|{b}").alias("pair"),
                F.col(f"sh_{a[0]}{b[0]}").cast("bigint").alias("shared_contents"),
                F.col(f"lk_{a[0]}{b[0]}").cast("bigint").alias("leaked_eval_docs"),
                F.col(f"tot_{b}").cast("bigint").alias("eval_docs"),
                F.when(
                    F.col(f"tot_{b}") > 0,
                    F.expr(f"lk_{a[0]}{b[0]} * {LEAK_SCALE} DIV tot_{b}"),
                )
                .otherwise(F.lit(0))
                .cast("bigint")
                .alias("leak_bp"),
            )
            for a, b in SPLIT_PAIRS
        ]
    )
    return g.select(F.inline(rows))


# ------------------------------------------------ training order ----------

# Second, independent LCG for the training-order mix (distinct constants so
# the order is uncorrelated with the sampling/split slots that share
# lcg_bucket): xxhash's 32-bit avalanche primes, reduced mod SAMPLE_MOD
# like every other deterministic decision in this module.
ORDER_MUL = 2_246_822_519
ORDER_ADD = 3_266_489_917
N_ORDER_SHARDS = 8  # gate-scale default; production sets ~corpus/task_budget


def training_order(
    df: DataFrame, id_col: str = "doc_id", n_shards: int = N_ORDER_SHARDS
) -> DataFrame:
    """(doc_id, shard, pos_in_shard, global_pos): reproducible, well-mixed
    global training order WITHOUT a global sort. The shard and within-shard
    sort key come from an independent LCG on the doc id; ``pos_in_shard``
    is a per-shard row_number (ties broken by doc_id — total order); the
    epoch reads shards round-robin, so ``global_pos = (pos - 1) * n_shards
    + shard`` interleaves n_shards hash-mixed streams into one strict
    global order (unique by construction: shard < n_shards).

    Identical on every run, retry, and cluster size. Scale shape: the only
    exchange is the (shard)-keyed hash partition of (doc_id, order_key)
    ~16 B/doc; each task then sorts corpus/n_shards rows — pick n_shards
    so that fits a task. The round-robin interleave buys the mixing a
    naive ``ORDER BY hash(id)`` gets only through an O(corpus) global
    sort exchange."""
    key = F.pmod(F.col(id_col) * ORDER_MUL + ORDER_ADD, F.lit(SAMPLE_MOD))
    staged = df.select(
        F.col(id_col),
        key.cast("bigint").alias("order_key"),
        F.pmod(key, F.lit(n_shards)).cast("bigint").alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("order_key", id_col)
    ranked = staged.select(
        id_col,
        "shard",
        F.row_number().over(w).cast("bigint").alias("pos_in_shard"),
    )
    return ranked.select(
        id_col,
        "shard",
        "pos_in_shard",
        ((F.col("pos_in_shard") - 1) * n_shards + F.col("shard"))
        .cast("bigint")
        .alias("global_pos"),
    )
