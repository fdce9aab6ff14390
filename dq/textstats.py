"""Text analysis: token counting, quality score, language heuristic,
document fingerprinting — all native Catalyst expressions (no Python).

These are the training-data-pipeline additions on top of the reference's
operator set (SURVEY.md §2.8 'our engine adds' list): every function here
is a pure column expression usable inside any groupBy/select, codegen'd —
except the zlib compression-ratio signal at the bottom, which is inherently
bytes-level and runs as one Arrow-batched pandas UDF.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# BPE-ish word/number/punct tokenizer (shared, dialect-portable regex).
# \x0b listed alongside \s: Java's \s already contains vertical tab but
# RE2's does NOT (probed, round 5) — the explicit member keeps the
# negated class identical in Java, python-re, and DuckDB/RE2
BPE_SPLIT_PATTERN = r"[A-Za-zÀ-ÿ]+|[0-9]+|[^A-Za-zÀ-ÿ0-9\s\x0b]"


def _text(col) -> Column:
    return F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))


def whitespace_token_count(col) -> Column:
    """Whitespace tokens (the doc-length unit for heuristics)."""
    return F.size(F.filter(F.split(_text(col), r"\s+"), lambda w: w != F.lit("")))


def bpe_token_count(col) -> Column:
    """BPE-ish token count: words / number runs / single punct marks."""
    return F.size(F.regexp_extract_all(_text(col), F.lit(BPE_SPLIT_PATTERN), 0))


def quality_score(col) -> Column:
    """[0,1] composite: length band + punctuation-terminated lines +
    alpha density. A cheap C4-style prior, NOT the keep decision."""
    text = _text(col)
    n_chars = F.length(text)
    words = F.filter(F.split(text, r"\s+"), lambda w: w != F.lit(""))
    n_words = F.size(words)
    lines = F.split(text, r"\n")
    terminated = F.size(F.filter(lines, lambda l: l.rlike(r"[.!?]$")))
    alpha_chars = F.length(F.regexp_replace(text, r"[^A-Za-zÀ-ÿ]", ""))
    len_score = F.when(n_words.between(50, 5000), F.lit(1.0)).otherwise(
        F.when(n_words.between(10, 10000), F.lit(0.5)).otherwise(F.lit(0.0))
    )
    punct_score = F.when(F.size(lines) > 0, terminated.cast("double") / F.size(lines)).otherwise(
        F.lit(0.0)
    )
    alpha_score = F.when(n_chars > 0, alpha_chars.cast("double") / n_chars).otherwise(F.lit(0.0))
    return (len_score + punct_score + alpha_score) / F.lit(3.0)


def lang_hint(col, stopwords_by_lang: dict[str, list[str]] | None = None) -> Column:
    """SQL-only language heuristic: argmax of per-language stopword hits.

    Cheaper-but-weaker sibling of dq.langid (useful as a pre-filter so the
    pandas UDF only runs on ambiguous docs at scale).
    """
    if stopwords_by_lang is None:
        from dq.heuristics import STOPWORDS

        stopwords_by_lang = {
            "en": STOPWORDS[:10],
            "pt": ["de", "que", "não", "uma", "para", "com", "mais", "por", "como", "foi"],
            "es": ["el", "la", "que", "ser", "haber", "por", "con", "para", "como", "pero"],
            "de": ["der", "die", "und", "den", "von", "das", "mit", "sich", "auf", "ist"],
            "fr": ["le", "être", "avoir", "que", "pour", "dans", "ce", "il", "qui", "ne"],
        }
    words = F.filter(F.split(F.lower(_text(col)), r"\s+"), lambda w: w != F.lit(""))
    scores = []
    for lang, stops in stopwords_by_lang.items():
        arr = F.array(*[F.lit(s) for s in stops])
        hits = F.size(F.filter(words, lambda w: F.array_contains(arr, w)))
        scores.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    # array_max over struct(hits, lang): max hits, ties -> lexicographically
    # greatest lang (deterministic)
    return F.array_max(F.array(*scores)).getField("lang")


def fingerprint64(col) -> Column:
    """64-bit content fingerprint over normalized text (rolling-hash family:
    xxhash64 of the whitespace-normalized lowercase doc)."""
    norm = F.concat_ws(" ", F.filter(F.split(F.lower(_text(col)), r"\s+"), lambda w: w != F.lit("")))
    return F.xxhash64(norm)


def word_ngrams_col(words: Column, n: int) -> Column:
    """Space-joined word n-grams from a words-array COLUMN (pass a real
    column, not an expression: grams extend incrementally via zip_with over
    shifted slices so the words array is referenced O(n) times per row —
    never once per gram; see dq.dedup.hashed_shingles_col)."""
    g = words
    for j in range(1, n):
        g = F.zip_with(
            g, F.slice(words, j + 1, F.greatest(F.size(words) - j, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.when(F.size(words) >= n, F.slice(g, 1, F.size(words) - n + 1)).otherwise(
        F.array().cast("array<string>")
    )


TFIDF_TOP_K = 3  # dq.oracles generates the twin SQL from this


def tfidf_top_terms(df, id_col: str = "doc_id", text_col: str = "text",
                    k: int = TFIDF_TOP_K):
    """Per-doc top-k salient terms by (tf DESC, df ASC, term ASC) — the
    integer-deterministic TF-IDF ordering (ln(N/df) is monotone-decreasing
    in df for fixed N, so ranking by tf then rarity needs NO floats: the
    cross-engine hash check stays exact).

    Shape: one explode → (doc, term) hash-agg (uniform keys, map-side
    partials) → term-level df agg over those rows (vocabulary-sized, no
    second scan of the text) → join tf rows with the df table on term
    (AQE broadcasts the vocabulary side when it fits) → per-doc top-k
    window (doc_id keys are uniform — no reducer skew). Term strings are
    short tokens; the text column never enters an exchange.
    """
    words = F.filter(F.split(F.lower(_text(text_col)), r"\s+"), lambda w: w != F.lit(""))
    # explode_outer + isNotNull on the OUTPUT: a plain explode triggers
    # InferFiltersFromGenerate and inlines the token tree into a pushed-down
    # Filter, re-tokenizing every row twice per scan (CLAUDE.md rule)
    terms = (
        df.select(F.col(id_col).alias("_id"), words.alias("_w"))
        .select("_id", F.explode_outer("_w").alias("term"))
        .where(F.col("term").isNotNull())
    )
    tf = terms.groupBy("_id", "term").agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    from dq.skew import topk

    order = [F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()]
    return topk(tf.join(df_t, "term"), ["_id"], order, k, "term_rank").select(
        F.col("_id").alias(id_col), "term", "tf", "df", "term_rank"
    )


def vocab_stats_by_lang(df, lang_col: str = "lang", text_col: str = "text"):
    """Per-language corpus vocabulary profile (the dataset-card numbers a
    FineWeb/Gopher-style pipeline reports per language slice): token count,
    vocabulary size, hapax-legomena count, type-token ratio, and the Zipf
    head — the most frequent term and its share of all occurrences.

    Determinism: the top term is (cnt DESC, term ASC) — computed as
    min(term) among terms at max(cnt), pure hash aggregation, no window
    sort of the vocabulary. Doubles only as final divisions of exact
    integers (cross-engine bit-identical).

    Shape: one explode → (lang, term) hash-agg with map-side partials
    (uniform token keys) → per-lang agg over the vocabulary-sized frame.
    Term strings are short tokens; the text column never enters an
    exchange. Per-lang doc counts come from the raw table (a metadata-width
    scan), so empty-text languages still report a row with zeros.
    """
    words = F.filter(F.split(F.lower(_text(text_col)), r"\s+"), lambda w: w != F.lit(""))
    # explode_outer + isNotNull on the OUTPUT column (InferFiltersFromGenerate
    # would inline the token tree into a pushed Filter on plain explode)
    terms = (
        df.select(F.col(lang_col).alias("lang"), words.alias("_w"))
        .select("lang", F.explode_outer("_w").alias("term"))
        .where(F.col("term").isNotNull())
    )
    tc = terms.groupBy("lang", "term").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    agg = tc.groupBy("lang").agg(
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).cast("bigint").alias("n_hapax"),
        F.max("cnt").cast("bigint").alias("top_cnt"),
    )
    top = (
        tc.join(agg.select("lang", "top_cnt"), "lang")
        .where(F.col("cnt") == F.col("top_cnt"))
        .groupBy("lang")
        .agg(F.min("term").alias("top_token"))
    )
    n_docs = df.groupBy(F.col(lang_col).alias("lang")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    joined = n_docs.join(agg, "lang", "left").join(top, "lang", "left")
    nt = F.coalesce("n_tokens", F.lit(0)).cast("bigint")
    return joined.select(
        "lang",
        "n_docs",
        nt.alias("n_tokens"),
        F.coalesce("vocab_size", F.lit(0)).cast("bigint").alias("vocab_size"),
        F.coalesce("n_hapax", F.lit(0)).cast("bigint").alias("n_hapax"),
        F.when(nt == 0, F.lit(0.0))
        .otherwise(F.col("vocab_size").cast("double") / nt.cast("double"))
        .alias("type_token_ratio"),
        F.when(F.coalesce("vocab_size", F.lit(0)) == 0, F.lit(0.0))
        .otherwise(F.col("n_hapax").cast("double") / F.col("vocab_size").cast("double"))
        .alias("hapax_frac"),
        F.coalesce("top_token", F.lit("")).alias("top_token"),
        F.coalesce("top_cnt", F.lit(0)).cast("bigint").alias("top_cnt"),
        F.when(nt == 0, F.lit(0.0))
        .otherwise(F.col("top_cnt").cast("double") / nt.cast("double"))
        .alias("top_share"),
    )


def repetition_metrics(df, id_col: str = "doc_id", text_col: str = "text"):
    """Gopher-style n-gram repetition: per doc, the fraction of bigrams /
    trigrams taken by the single most frequent gram (high values flag
    boilerplate / TV-guide-style repetitive pages).

    Shape: stage the words array as a real column, build gram arrays
    incrementally, explode once per n, two hash-aggs keyed by
    (doc, gram) then doc — uniform keys, map-side partials; never a
    per-doc O(g^2) array self-intersection. Fractions divide exact ints
    (cross-engine deterministic, DuckDB-oracled).
    """
    from pyspark.sql import DataFrame  # noqa: F401

    words = F.filter(F.split(F.lower(_text(text_col)), r"\s+"), lambda w: w != F.lit(""))
    staged = df.select(F.col(id_col).alias("_id"), words.alias("_w"))

    def top_frac(n: int, cnt_name: str, frac_name: str):
        grams = staged.select("_id", F.explode(word_ngrams_col(F.col("_w"), n)).alias("_g"))
        per_gram = grams.groupBy("_id", "_g").agg(F.count(F.lit(1)).alias("_c"))
        return per_gram.groupBy("_id").agg(
            F.sum("_c").cast("bigint").alias(cnt_name),
            (F.max("_c").cast("double") / F.sum("_c").cast("double")).alias(frac_name),
        )
    out = (
        staged.select("_id")
        .join(top_frac(2, "n_bigrams", "top_bigram_frac"), "_id", "left")
        .join(top_frac(3, "n_trigrams", "top_trigram_frac"), "_id", "left")
    )
    return out.select(
        F.col("_id").alias(id_col),
        F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
        F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
        F.coalesce("n_trigrams", F.lit(0)).cast("bigint").alias("n_trigrams"),
        F.coalesce("top_trigram_frac", F.lit(0.0)).alias("top_trigram_frac"),
    )


DUP_NGRAM_N = 5  # Gopher's duplicate-gram family runs n=5..10; 5 is the head


def dup_ngram_char_stats(df, id_col: str = "doc_id", text_col: str = "text",
                         n: int = DUP_NGRAM_N):
    """Gopher duplicate n-gram character fraction (Rae et al. 2021 §A1.1):
    per doc, the fraction of n-gram characters carried by grams that occur
    more than once in the document (ALL occurrences of a repeated gram
    count, the paper's convention). Docs with < n words report 0 grams and
    fraction 0.0. Fractions divide exact ints — DuckDB-oracled.

    Shape: words staged as a real column, grams built incrementally
    (word_ngrams_col) and exploded once; the only exchanges are hash-aggs
    keyed (doc, xxhash64(gram), length(gram)) then (doc) — 24 B per gram
    occurrence, the gram string never shuffles (grouping by fingerprint ≡
    grouping by gram; the oracle groups by the raw gram).
    """
    words = F.filter(F.split(F.lower(_text(text_col)), r"\s+"), lambda w: w != F.lit(""))
    staged = df.select(F.col(id_col).alias("_id"), words.alias("_w"))
    grams = staged.select(
        "_id", F.explode_outer(word_ngrams_col(F.col("_w"), n)).alias("_g")
    ).where(F.col("_g").isNotNull())
    per = grams.groupBy(
        "_id", F.xxhash64("_g").alias("_fp"), F.length("_g").alias("_len")
    ).agg(F.count(F.lit(1)).alias("_c"))
    agg = per.groupBy("_id").agg(
        F.sum("_c").cast("bigint").alias("n_grams"),
        F.sum(F.col("_c") * F.col("_len")).cast("bigint").alias("_tot"),
        F.sum(F.when(F.col("_c") > 1, F.col("_c") * F.col("_len")).otherwise(0))
        .cast("bigint")
        .alias("_dup"),
    )
    out = staged.select("_id").join(agg, "_id", "left")
    return out.select(
        F.col("_id").alias(id_col),
        F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
        F.when(F.coalesce("_tot", F.lit(0)) == 0, F.lit(0.0))
        .otherwise(F.col("_dup").cast("double") / F.col("_tot").cast("double"))
        .alias("dup_ngram_char_frac"),
    )


# ---- unicode script profiling ----------------------------------------------
# Script ranges as LITERAL character classes: the resolved Python string
# (actual unicode endpoint chars, no \u escapes) is simultaneously a valid
# Java regex (Spark), RE2 regex (DuckDB) and Python re — the shared-dialect
# rule. Order doubles as the deterministic dominance tie-break.
SCRIPT_CLASSES: list[tuple[str, str]] = [
    ("latin", "[A-Za-zÀ-ÿ]"),
    ("cyrillic", "[Ѐ-ӿ]"),
    ("cjk", "[぀-ヿ一-鿿]"),
    ("arabic", "[؀-ۿ]"),
]
# planted multi-script variants for the gate corpus (all-latin otherwise):
# every SCRIPT_PLANT_MOD-th doc gains a repeated snippet of one non-latin
# script (rotating), long enough to dominate the latin body
SCRIPT_PLANT_MOD = 4
SCRIPT_SNIPPET_REPEAT = 120
SCRIPT_SNIPPETS = ["данные", "数据处理", "بيانات"]


def script_profile(df, id_col: str = "doc_id", text_col: str = "text"):
    """Per-doc unicode-script character counts + dominant script.

    The cheap, model-free signal corpus pipelines use to (a) route docs to
    per-script tokenizers, (b) sanity-check langid output (a 'fr' doc that
    is 90% CJK is mislabeled), and (c) drop mixed-script spam. n_<script>
    = chars matching the class (length minus length-after-removal — one
    codegen regexp per class, zero UDFs, zero exchanges); dominant_script
    = first class in SCRIPT_CLASSES order holding the max count, 'none'
    when every count is 0 (empty/NULL text).
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    counts = {
        name: (F.length(txt) - F.length(F.regexp_replace(txt, cls, "")))
        .cast("bigint")
        .alias(f"n_{name}")
        for name, cls in SCRIPT_CLASSES
    }
    staged = df.select(F.col(id_col).alias("doc_id"), *counts.values())
    m = F.greatest(*[F.col(f"n_{n}") for n, _ in SCRIPT_CLASSES])
    dom = F.when(m == 0, F.lit("none"))
    for name, _ in SCRIPT_CLASSES:
        dom = dom.when(F.col(f"n_{name}") == m, F.lit(name))
    return staged.select(
        "doc_id",
        *[f"n_{n}" for n, _ in SCRIPT_CLASSES],
        dom.alias("dominant_script"),
    )


# ------------------------------------------------ compression-ratio signal --
# Classic repetition/quality proxy (used alongside Gopher's rules): highly
# compressible text is boilerplate/template/repetition; incompressible text
# is noise/binary junk. zlib level pinned for determinism; the UDF body
# doubles as the pandas test oracle (CLAUDE.md invariant). Rows-only at the
# gate (DuckDB exposes no zlib) — pytest pins the python twin.

COMPRESS_LEVEL = 6
COMPRESS_LOW_BP = 2200   # ratio below: repetition/template suspicion
COMPRESS_HIGH_BP = 9000  # ratio above: noise/garbage suspicion


def compression_stats_batch(texts: pd.Series) -> pd.DataFrame:
    """Per-doc zlib stats: raw/compressed byte counts + ratio in basis
    points (floor(10000*compressed/raw); NULL/empty text -> 10000, the
    'incompressible' convention keeps the column two-valued-safe)."""
    import zlib

    raws, comps, bps = [], [], []
    for t in texts:
        b = (t or "").encode("utf-8")
        c = zlib.compress(b, COMPRESS_LEVEL)
        raws.append(len(b))
        comps.append(len(c))
        bps.append(10000 * len(c) // len(b) if b else 10000)
    return pd.DataFrame(
        {"n_bytes": raws, "n_zlib_bytes": comps, "compress_bp": bps},
        index=texts.index, dtype="int64",
    )


_COMPRESS_TYPE = T.StructType(
    [
        T.StructField("n_bytes", T.LongType()),
        T.StructField("n_zlib_bytes", T.LongType()),
        T.StructField("compress_bp", T.LongType()),
    ]
)


@F.pandas_udf(_COMPRESS_TYPE)
def compression_udf(texts: pd.Series) -> pd.DataFrame:
    return compression_stats_batch(texts)


def compression_stats(df, id_col: str = "doc_id", text_col: str = "text"):
    """(id, n_bytes, n_zlib_bytes, compress_bp, flags) — one Arrow crossing
    per doc; zero exchanges (per-row projection)."""
    s = compression_udf(F.col(text_col))
    return df.select(
        F.col(id_col),
        s["n_bytes"].alias("n_bytes"),
        s["n_zlib_bytes"].alias("n_zlib_bytes"),
        s["compress_bp"].alias("compress_bp"),
        (s["compress_bp"] < F.lit(COMPRESS_LOW_BP)).alias("too_compressible"),
        # NULL/empty text is 'neither' (the thin-content gate owns it), not
        # 'random' — its conventional bp 10000 must not trip the flag
        ((s["compress_bp"] > F.lit(COMPRESS_HIGH_BP)) & (s["n_bytes"] > 0)).alias(
            "too_random"
        ),
    )


# ----------------- BPE tokenizer-training prep (pair-count table) -----------
# Classic BPE training, step 1 (Sennrich et al. 2016, "Neural Machine
# Translation of Rare Words with Subword Units"): count adjacent symbol
# pairs across the corpus weighted by word frequency; the highest-count
# pair is the next merge. dq.oracles generates the DuckDB twin from these
# same constants — never hand-duplicate them.
BPE_WORD_MIN_LEN = 2   # 1-char tokens contribute no pairs
BPE_WORD_MAX_LEN = 64  # cap degenerate unbroken runs (base64/DNA blobs):
                       # real BPE trainers cap word length the same way, and
                       # it bounds the per-word pair explode at scale
BPE_PAIR_TOP_K = 200   # deterministic top-K (ties broken by the pair itself)


BPE_MERGE_ROUNDS = 8  # gate-query demo depth; see bpe_learn_merges docstring

# Pinned merge list for the APPLY path (bpe_fertility_by_lang): a realistic
# English head, in application order, including multi-symbol left sides
# ("th"+"e", "an"+"d") so later merges consume earlier merges' output.
# dq.oracles generates the DuckDB fold chain from this same list.
BPE_FIXED_MERGES: list[tuple[str, str]] = [
    ("t", "h"),
    ("e", "r"),
    ("i", "n"),
    ("a", "n"),
    ("o", "n"),
    ("th", "e"),
    ("an", "d"),
    ("e", "s"),
]
FERTILITY_BP_SCALE = 10000  # integer basis points: exact cross-engine


def _merge_step(l: str, r: str):
    """The greedy non-overlapping left-to-right BPE merge as a fold step:
    if the accumulator's last symbol is ``l`` and the incoming symbol is
    ``r``, replace the last symbol with the merged token; else append.
    try_element_at (not element_at): the driver may run ANSI-on, where
    element_at on the empty initial accumulator would throw."""
    l_lit, r_lit, m_lit = F.lit(l), F.lit(r), F.lit(l + r)

    def step(acc, s):
        return F.when(
            (F.try_element_at(acc, F.lit(-1)) == l_lit) & (s == r_lit),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(m_lit)),
        ).otherwise(F.concat(acc, F.array(s)))

    return step


def _apply_merge(syms_col, l: str, r: str):
    return F.aggregate(syms_col, F.array().cast("array<string>"), _merge_step(l, r))


def _bpe_vocab(df, text_col: str):
    """(word, freq) — the Zipf-collapsed distinct-word vocabulary that both
    BPE stages (pair table / merge learning) run over."""
    return (
        df.select(
            F.explode_outer(
                F.regexp_extract_all(_text(text_col), F.lit(BPE_SPLIT_PATTERN), 0)
            ).alias("word")
        )
        .where(F.length("word").between(BPE_WORD_MIN_LEN, BPE_WORD_MAX_LEN))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def bpe_learn_merges(df, text_col: str = "text", rounds: int = BPE_MERGE_ROUNDS):
    """Learn the first ``rounds`` BPE merges over the corpus — the actual
    tokenizer-training loop (Sennrich et al. 2016), exact over the full
    corpus: (merge_rank, left_sym, right_sym, pair_count).

    Iterative-loop shape: every round runs over the VOCAB frame only
    (word-as-symbol-array, freq) — corpus text is consumed once by the
    initial vocab aggregation and never revisited. Per round: one narrow
    (l, r) pair agg + a 1-row argmax collect (control-plane, the S9
    contract), then a greedy non-overlapping left-to-right merge rewrite as
    an F.aggregate fold over the symbol array (codegen, no Python), then
    localCheckpoint — CLAUDE.md: iterative DataFrame loops MUST cut lineage
    per round or analysis goes exponential. The argmax is
    orderBy(cnt desc, l, r).limit(1) — the same deterministic tie-break as
    the pure-Python reference trainer the tests pin against.

    try_element_at (not element_at): the driver runs queries() under ITS
    session, where Spark 4's ANSI default would make element_at on the
    empty fold-accumulator throw instead of returning NULL.

    Production note (honest boundary): real tokenizers run 10k-100k merges;
    per-merge Spark rounds are exact but latency-bound, so at that depth
    you'd count the vocab here (this code), then train locally over the
    collected (word, freq) table — standard practice, since the vocab is
    MB-scale even for TB corpora. This loop is the corpus-exact path for
    the first k merges and the demo that the rewrite itself distributes.
    """
    spark = df.sparkSession
    vocab = (
        _bpe_vocab(df, text_col)
        .select(
            F.expr(
                "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
            ).alias("syms"),
            "freq",
        )
        .localCheckpoint()
    )
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(rounds):
        top = (
            vocab.select(
                F.explode_outer(
                    # guard: a fully-merged word has ONE symbol, and Spark's
                    # sequence(1, 0) counts DOWN through index 0 (invalid)
                    F.expr(
                        "if(size(syms) >= 2,"
                        " transform(sequence(1, size(syms) - 1),"
                        "  i -> struct(try_element_at(syms, i) as l,"
                        "  try_element_at(syms, i + 1) as r)),"
                        " cast(array() as array<struct<l: string, r: string>>))"
                    )
                ).alias("p"),
                "freq",
            )
            .where(F.col("p").isNotNull())
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, cnt = top[0].l, top[0].r, int(top[0].cnt)
        merges.append((rank, l, r, cnt))
        vocab = vocab.select(
            _apply_merge("syms", l, r).alias("syms"), "freq"
        ).localCheckpoint()
    return spark.createDataFrame(
        merges, "merge_rank int, left_sym string, right_sym string, pair_count bigint"
    )


def bpe_pair_table(df, text_col: str = "text"):
    """(left_sym, right_sym, pair_count) — the BPE merge-candidate table.

    Scale shape (the reason this survives 100 TB): pair counting runs over
    the DISTINCT-WORD vocabulary, not over raw token occurrences. The first
    aggregation collapses the corpus to (word, freq) — Zipf makes the vocab
    orders of magnitude smaller than the token stream, and the hot words
    (the skew) are absorbed by map-side partial counts. The pair explode
    then touches only vocab rows (bounded at BPE_WORD_MAX_LEN-1 pairs each),
    and the second aggregation lands on the tiny (char, char) key space.
    The final top-K is a TakeOrderedAndProject over that key space — no
    global sort exchange. Both explodes are explode_outer (CLAUDE.md:
    plain explode makes InferFiltersFromGenerate inline the array expr
    into a pre-Generate filter, re-evaluating the regex/transform per row);
    the length-band predicate drops the NULL rows for free (length(NULL)
    comparisons are NULL -> filtered).
    """
    words = _bpe_vocab(df, text_col)
    pairs = words.select(
        F.explode_outer(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair"),
        "freq",
    ).where(F.col("pair").isNotNull())
    return (
        pairs.groupBy(
            F.substring("pair", 1, 1).alias("left_sym"),
            F.substring("pair", 2, 1).alias("right_sym"),
        )
        .agg(F.sum("freq").cast("bigint").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "left_sym", "right_sym")
        .limit(BPE_PAIR_TOP_K)
    )


def bpe_fertility_by_lang(df, lang_col: str = "lang", text_col: str = "text",
                          merges: list[tuple[str, str]] = BPE_FIXED_MERGES):
    """Tokenizer APPLY path: segment the corpus with a pinned merge list and
    report per-language fertility (tokens per word, the standard tokenizer
    fitness metric) — (lang, n_distinct_words, n_word_occurrences,
    n_tokens, fertility_bp).

    Scale shape: segmentation runs on the per-(lang, word) VOCABULARY —
    each fixed merge is one codegen fold over the symbol array
    (_apply_merge, the same fold bpe_learn_merges uses), chained |merges|
    deep; the chain grows the expression linearly (each level consumes the
    previous subtree once — not the k-times-duplicated shape the
    minhash_signatures docstring warns about). Corpus text is read once by
    the vocab agg; everything after is vocab-sized. fertility_bp is
    integer basis points via integer division — exact cross-engine
    (CLAUDE.md: never compare raw doubles across engines).
    """
    vocab = (
        df.select(
            F.col(lang_col).alias("lang"),
            F.explode_outer(
                F.regexp_extract_all(_text(text_col), F.lit(BPE_SPLIT_PATTERN), 0)
            ).alias("word"),
        )
        .where(F.length("word").between(BPE_WORD_MIN_LEN, BPE_WORD_MAX_LEN))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    syms = F.expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
    )
    for l, r in merges:
        syms = _apply_merge(syms, l, r)
    return (
        vocab.select("lang", "freq", F.size(syms).alias("n_toks"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_words"),
            F.sum("freq").cast("bigint").alias("n_word_occurrences"),
            F.sum(F.col("freq") * F.col("n_toks")).cast("bigint").alias("n_tokens"),
        )
        .withColumn(
            "fertility_bp",
            F.expr(
                f"CAST(({FERTILITY_BP_SCALE} * n_tokens) DIV n_word_occurrences"
                " AS BIGINT)"
            ),
        )
        .orderBy("lang")
    )


# --------------- readability (Flesch reading ease, integer-exact) -----------
# Flesch reading ease = 206.835 - 1.015*(words/sentences)
#                                - 84.6*(syllable-groups/words),
# computed in MILLIPOINTS with floor division in a pinned order so the
# DuckDB twin is bit-identical (CLAUDE.md: only divide exact integers).
# Syllables are approximated as vowel-run groups — the standard cheap
# heuristic; the metric is a filter signal, not a linguistics claim.
SYLLABLE_PATTERN = r"[AEIOUYaeiouyÀ-ÿ]+"
SENTENCE_PATTERN = r"[.!?]+"
READABILITY_BANDS = [  # (min flesch_mp, band label), checked top-down
    (90000, "very_easy"),
    (70000, "easy"),
    (50000, "medium"),
    (30000, "hard"),
]
READABILITY_FLOOR_BAND = "very_hard"


def readability_scores(df, id_col: str = "doc_id", text_col: str = "text"):
    """(id, n_words, n_sentences, n_syllable_groups, flesch_mp, band) —
    Flesch reading ease per document as exact integer millipoints.

    flesch_mp = 206835 - (1015 * words) DIV sentences
                       - (84600 * syllable_groups) DIV words
    with sentences/words floored at 1 (empty/NULL text scores as one empty
    sentence of one empty word: flesch_mp = 206835 - 1015 - 0, a harmless
    constant — never NULL, so the gate's hash compare stays two-valued).
    Pure codegen projection: three regexp_extract_all passes over one scan,
    zero exchanges."""
    text = _text(text_col)
    n_words = F.greatest(
        F.lit(1),
        F.size(F.filter(F.split(text, r"\s+"), lambda w: w != F.lit(""))),
    ).cast("bigint")
    n_sents = F.greatest(
        F.lit(1), F.size(F.regexp_extract_all(text, F.lit(SENTENCE_PATTERN), 0))
    ).cast("bigint")
    n_syll = F.size(F.regexp_extract_all(text, F.lit(SYLLABLE_PATTERN), 0)).cast(
        "bigint"
    )
    out = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_sents.alias("n_sentences"),
        n_syll.alias("n_syllable_groups"),
    ).withColumn(
        "flesch_mp",
        F.expr(
            "CAST(206835 - (1015 * n_words) DIV n_sentences"
            " - (84600 * n_syllable_groups) DIV n_words AS BIGINT)"
        ),
    )
    band = F.lit(READABILITY_FLOOR_BAND)
    for edge, label in reversed(READABILITY_BANDS):
        band = F.when(F.col("flesch_mp") >= edge, F.lit(label)).otherwise(band)
    return out.withColumn("band", band)


# ----------------- collocation mining (Dice coefficient, integer) -----------
# Classic collocation extraction (Smadja 1993 / word2phrase family): score
# adjacent word bigrams by Dice = 2*c_xy / (c_x + c_y). Dice (not PMI): it
# is integer-exact in basis points with no overflow headroom games, while
# preserving the "pair beats chance" ranking property for filter/phrase
# mining. dq.oracles generates the twin from these constants.
COLLOC_MIN_COUNT = 5   # drop hapax-ish pairs: Dice of rare pairs is noise
COLLOC_TOP_K = 100
COLLOC_BP_SCALE = 10000


def collocation_dice_topk(df, id_col: str = "doc_id", text_col: str = "text"):
    """(w1, w2, pair_count, left_count, right_count, dice_bp) — top-K
    adjacent-bigram collocations by integer Dice score.

    Scale shape: the token stream is consumed by TWO hash-aggs (unigram and
    bigram counts, both map-side-combinable uniform-ish keys); the scoring
    joins run on the vocabulary-sized count tables (AQE broadcasts the
    smaller side), and the final top-K is a TakeOrderedAndProject over the
    >=COLLOC_MIN_COUNT pairs. The tokens array is materialized as a real
    column BEFORE the shifted-slice zip (CLAUDE.md: HOF lambdas capture the
    expression subtree), and both explodes are explode_outer (the
    InferFiltersFromGenerate trap). Document text never enters an exchange.
    """
    toks = F.filter(
        F.split(F.lower(_text(text_col)), r"\s+"), lambda w: w != F.lit("")
    )
    staged = df.select(toks.alias("_w"))
    uni = (
        staged.select(F.explode_outer("_w").alias("t"))
        .where(F.col("t").isNotNull())
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    grams = word_ngrams_col(F.col("_w"), 2)
    big = (
        staged.select(F.explode_outer(grams).alias("g"))
        .where(F.col("g").isNotNull())
        .groupBy(
            F.substring_index("g", " ", 1).alias("w1"),
            F.substring_index("g", " ", -1).alias("w2"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_count"))
        .where(F.col("pair_count") >= COLLOC_MIN_COUNT)
    )
    u1 = uni.select(F.col("t").alias("w1"), F.col("c").alias("left_count"))
    u2 = uni.select(F.col("t").alias("w2"), F.col("c").alias("right_count"))
    return (
        big.join(u1, "w1")
        .join(u2, "w2")
        .withColumn(
            "dice_bp",
            F.expr(
                f"CAST((2 * {COLLOC_BP_SCALE} * pair_count)"
                " DIV (left_count + right_count) AS BIGINT)"
            ),
        )
        .select("w1", "w2", "pair_count", "left_count", "right_count", "dice_bp")
        .orderBy(F.desc("dice_bp"), "w1", "w2")
        .limit(COLLOC_TOP_K)
    )


VOCAB_COVERAGE_TARGETS_BP = (9000, 9900, 9990)


def vocab_coverage(df, text_col: str = "text"):
    """Tokenizer vocabulary-sizing curve: for each coverage target (basis
    points of all token OCCURRENCES), the minimum number of most-frequent
    types whose cumulative occurrences reach it, plus the prefix's exact
    achieved coverage — the "how many types cover 99.9% of the stream"
    figure that sizes a tokenizer vocabulary / OOV budget.

    Determinism without a tie-break: a count LEVEL is consumed wholesale or
    by an exact ceil-remainder k, and every type at the level contributes
    exactly cnt occurrences, so (vocab_size, covered_tokens) are
    independent of which tied types fill the prefix.

    Shape: token hash-agg (uniform keys, map-side partials) → the
    vocabulary collapses to the count-level histogram (cnt, n_types),
    O(distinct count values) rows — Zipf keeps that ~O(sqrt(total
    tokens)) — and only this tiny frame enters the unpartitioned
    cumulative window (the doclen-percentile / token-packing precedent).
    All arithmetic is exact-integer DIV/ceil; text never shuffles."""
    from pyspark.sql import Window

    words = F.filter(F.split(F.lower(_text(text_col)), r"\s+"), lambda w: w != F.lit(""))
    terms = (
        df.select(words.alias("_w"))
        .select(F.explode_outer("_w").alias("term"))
        .where(F.col("term").isNotNull())
    )
    vocab = terms.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    lvl = vocab.groupBy("cnt").agg(F.count(F.lit(1)).cast("bigint").alias("n_types"))
    w = Window.orderBy(F.desc("cnt")).rowsBetween(Window.unboundedPreceding, -1)
    cum = lvl.select(
        "cnt",
        "n_types",
        F.coalesce(F.sum(F.col("cnt") * F.col("n_types")).over(w), F.lit(0))
        .cast("bigint")
        .alias("tok_before"),
        F.coalesce(F.sum("n_types").over(w), F.lit(0))
        .cast("bigint")
        .alias("types_before"),
    )
    tot = lvl.agg(
        F.sum(F.col("cnt") * F.col("n_types")).cast("bigint").alias("total_tokens"),
        F.sum("n_types").cast("bigint").alias("total_types"),
    )
    x = (
        cum.crossJoin(F.broadcast(tot))
        .withColumn(
            "target_bp",
            F.explode(
                F.array(
                    *[F.lit(b).cast("bigint") for b in VOCAB_COVERAGE_TARGETS_BP]
                )
            ),
        )
        .withColumn("need", F.expr("(total_tokens * target_bp + 9999) DIV 10000"))
    )
    hit = x.where(
        (F.col("tok_before") < F.col("need"))
        & (F.col("tok_before") + F.col("cnt") * F.col("n_types") >= F.col("need"))
    ).withColumn("k", F.expr("(need - tok_before + cnt - 1) DIV cnt"))
    return hit.select(
        "target_bp",
        F.expr("types_before + k").cast("bigint").alias("vocab_size"),
        F.expr("tok_before + k * cnt").cast("bigint").alias("covered_tokens"),
        F.expr("((tok_before + k * cnt) * 10000) DIV total_tokens")
        .cast("bigint")
        .alias("coverage_bp"),
        "total_tokens",
        "total_types",
    )
