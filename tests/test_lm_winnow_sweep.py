"""Semantics tests for dq.lm (KN bigram tables), dq.winnow (winnowing
fingerprints), and the one-scan heuristic threshold sweep."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dq.lm import LM_DISCOUNT_MILLI, LM_MIN_COUNT, LM_SCALE, kn_bigram_table
from dq.winnow import WINNOW_K, WINNOW_W, winnowing_fps

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------------------ lm ------


def test_kn_bigram_table_hand_corpus(spark):
    """Counts and the three KN terms on a corpus small enough to hand-check.

    Corpus bigrams: 'a b' x3, 'b a' x2, 'a c' x1, 'c a' x1 (across docs;
    bigrams never span documents).
    """
    rows = [
        (1, "a b a b"),   # a b, b a, a b
        (2, "a b"),       # a b
        (3, "b a c a"),   # b a, a c, c a
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {(r["w1"], r["w2"]): r.asDict() for r in kn_bigram_table(docs).collect()}
    # LM_MIN_COUNT = 2 drops the two singletons
    assert set(out) == {("a", "b"), ("b", "a")}
    ab = out[("a", "b")]
    # c(a,b)=3; c(a.)=4 (a b x3 + a c); N1+(a.)=2 {b,c}; N1+(.b)=1 {a}; T=4
    assert ab["cnt"] == 3 and ab["c_w1"] == 4
    assert ab["right_types_w1"] == 2 and ab["left_types_w2"] == 1
    assert ab["p_kn_micro"] == (1000 * 3 - LM_DISCOUNT_MILLI) * LM_SCALE // 4000
    assert ab["lambda_micro"] == LM_DISCOUNT_MILLI * 2 * LM_SCALE // 4000
    assert ab["cont_micro"] == 1 * LM_SCALE // 4
    ba = out[("b", "a")]
    # c(b,a)=2; c(b.)=2; N1+(b.)=1 {a}; N1+(.a)=2 {b,c}
    assert ba["cnt"] == 2 and ba["c_w1"] == 2
    assert ba["right_types_w1"] == 1 and ba["left_types_w2"] == 2
    assert ba["cont_micro"] == 2 * LM_SCALE // 4


def test_kn_probability_mass_bound(spark):
    """For every context w1 in the emitted table: the discounted bigram
    mass plus the backoff weight never exceeds one (in micro-units, up to
    integer flooring) — the KN estimator's sanity invariant."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    tbl = kn_bigram_table(docs)
    per_ctx = (
        tbl.groupBy("w1")
        .agg(
            F.sum("p_kn_micro").alias("p_sum"),
            F.max("lambda_micro").alias("lam"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    assert per_ctx
    for r in per_ctx:
        # flooring only ever loses mass; emitted subset <= full distribution
        assert r["p_sum"] + r["lam"] <= LM_SCALE + r["n"]  # +n for rounding


def _py_kn_doc_scores(rows, min_count=None, scale=None, d=None, mod=None, unk=None):
    """Pure-python replica of dq.lm.kn_doc_scores' integer arithmetic
    (per-doc triples only; band cutoffs tested separately)."""
    import collections

    from dq.lm import (
        LM_DISCOUNT_MILLI,
        LM_MIN_COUNT,
        LM_SCALE,
        LM_TRAIN_MOD,
        LM_UNK_MICRO,
    )

    min_count = LM_MIN_COUNT if min_count is None else min_count
    scale = LM_SCALE if scale is None else scale
    d = LM_DISCOUNT_MILLI if d is None else d
    mod = LM_TRAIN_MOD if mod is None else mod
    unk = LM_UNK_MICRO if unk is None else unk

    tok = lambda t: [w for w in (t or "").lower().split() if w]  # noqa: E731
    big = lambda ws: list(zip(ws, ws[1:]))  # noqa: E731
    cnt: collections.Counter = collections.Counter()
    for did, t in rows:
        if did % mod == 0:
            cnt.update(big(tok(t)))
    c_w1: collections.Counter = collections.Counter()
    rt: collections.Counter = collections.Counter()
    lt: collections.Counter = collections.Counter()
    for (w1, w2), c in cnt.items():
        c_w1[w1] += c
        rt[w1] += 1
        lt[w2] += 1
    total = len(cnt)
    lam = {w: d * rt[w] * scale // (1000 * c_w1[w]) for w in c_w1}
    cont = {w: lt[w] * scale // total for w in lt}
    pkn = {
        bg: max(1000 * c - d, 0) * scale // (1000 * c_w1[bg[0]])
        for bg, c in cnt.items()
        if c >= min_count
    }
    out = {}
    for did, t in rows:
        if did % mod == 0:
            continue
        s = 0
        bgs = big(tok(t))
        for w1, w2 in bgs:
            if (w1, w2) in pkn:
                s += pkn[(w1, w2)] + (lam[w1] * cont[w2]) // scale
            elif w1 in lam and w2 in cont:
                s += max((lam[w1] * cont[w2]) // scale, unk)
            elif w2 in cont:
                s += cont[w2]
            else:
                s += unk
        out[did] = (len(bgs), s, s // max(len(bgs), 1))
    return out


def test_kn_doc_scores_all_backoff_branches(spark):
    """Hand corpus exercising every scoring branch: interpolated table hit,
    pruned-bigram backoff, unknown-context continuation, fully-unseen
    floor, and a zero-bigram doc — each per-doc triple matches the
    pure-python integer replica."""
    from dq.lm import kn_doc_scores

    rows = [
        (0, "a b a b a c"),  # train
        (2, "b a b a"),      # train
        (1, "a b a c"),      # hits: table x2, pruned-backoff (a,c)
        (3, "c b"),          # unknown context c -> continuation-only
        (5, "x y z"),        # fully unseen -> unk floor per bigram
        (7, "solo"),         # zero bigrams -> (0, 0, 0)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["sum_p_micro"], r["avg_p_micro"])
        for r in kn_doc_scores(docs).collect()
    }
    want = _py_kn_doc_scores(rows)
    assert got == want
    # branch sanity pinned: doc 5 scores exactly the floor per bigram
    from dq.lm import LM_UNK_MICRO

    assert got[5] == (2, 2 * LM_UNK_MICRO, LM_UNK_MICRO)
    assert got[7] == (0, 0, 0)
    assert got[1][1] > got[3][1] > got[5][1]  # in-distribution ranks higher


def test_kn_doc_scores_tercile_bands(spark):
    """On the real corpus: bands partition the held-out slice, ranges are
    value-disjoint in head > middle > tail order, and head is the SMALLEST
    top-value set holding >= ceil(n/3) docs (the histogram-pick
    definition)."""
    from dq.lm import LM_TRAIN_MOD, kn_doc_scores

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = kn_doc_scores(docs).collect()
    n_held = docs.where(F.col("doc_id") % LM_TRAIN_MOD != 0).count()
    assert len(out) == n_held
    by_band = {}
    for r in out:
        by_band.setdefault(r["lm_band"], []).append(r["avg_p_micro"])
    assert set(by_band) == {"head", "middle", "tail"}
    assert min(by_band["head"]) > max(by_band["middle"])
    assert min(by_band["middle"]) > max(by_band["tail"])
    need = (n_held + 2) // 3
    head = sorted(by_band["head"])
    assert len(head) >= need
    # minimality: dropping the lowest head VALUE must fall under the target
    lowest = head[0]
    assert sum(1 for v in head if v > lowest) < need


def test_kn_doc_scores_scoring_is_heldout_only(spark):
    """No train-slice doc appears in the output (the split really holds)."""
    from dq.lm import LM_TRAIN_MOD, kn_doc_scores

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ids = [r["doc_id"] for r in kn_doc_scores(docs).select("doc_id").collect()]
    assert ids and all(i % LM_TRAIN_MOD != 0 for i in ids)


# -------------------------------------------------------------- winnow ------


def _python_winnow(text: str, k: int = WINNOW_K, w: int = WINNOW_W):
    from dq.classifier import POLY_MOD, POLY_MUL

    words = [t for t in text.lower().split() if t]
    grams = [" ".join(words[i : i + k]) for i in range(max(len(words) - k + 1, 0))]

    def h(g: str) -> int:
        acc = 0
        for c in g:
            acc = (acc * POLY_MUL + ord(c)) % POLY_MOD
        return acc

    hashes = [h(g) for g in grams]
    if not hashes:
        return set()
    n_win = max(len(hashes) - w + 1, 1)
    return {min(hashes[i : i + w]) for i in range(n_win)}


@pytest.mark.parametrize(
    "text",
    [
        "the quick brown fox jumps over the lazy dog again and again",
        "a b",                      # fewer than k tokens -> no grams
        "one two three",            # exactly k tokens -> 1 gram, short doc
        "x y z x y z x y z x y z",  # repetitive: heavy fp dedup
    ],
)
def test_winnowing_matches_python_twin(spark, text):
    docs = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    got = {r["fp"] for r in winnowing_fps(docs).collect()}
    assert got == _python_winnow(text)


def test_winnowing_shared_substring_guarantee(spark):
    """Two docs sharing a run of >= w + k - 1 tokens share a fingerprint
    (the paper's core guarantee)."""
    shared = " ".join(f"s{i}" for i in range(WINNOW_W + WINNOW_K - 1))
    rows = [
        (1, "alpha beta gamma " + shared + " delta"),
        (2, "completely different prefix words " + shared),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    fps = winnowing_fps(docs).collect()
    s1 = {r["fp"] for r in fps if r["doc_id"] == 1}
    s2 = {r["fp"] for r in fps if r["doc_id"] == 2}
    assert s1 & s2


def test_winnowing_density_reduction(spark):
    """On the real corpus the winnowed set is materially smaller than the
    full gram set (paper: expected density 2/(w+1))."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_fps = winnowing_fps(docs).count()
    n_grams = docs.select(
        F.greatest(
            F.size(F.split(F.lower(F.coalesce("text", F.lit(""))), r"\s+"))
            - WINNOW_K + 1,
            F.lit(0),
        ).alias("n")
    ).agg(F.sum("n")).collect()[0][0]
    assert n_fps < n_grams * 0.75  # far under the full set (dedup helps too)


def test_winnowing_no_expression_blowup(spark):
    """The staged arrays survive into the optimized plan: the token split
    appears ONCE, not once per transform element (the higher-order capture
    trap, CLAUDE.md)."""
    import contextlib
    import io

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        winnowing_fps(docs).explain("extended")
    optimized = buf.getvalue().split("== Optimized Logical Plan ==")[1].split(
        "== Physical Plan =="
    )[0]
    # exactly 2 legitimate splits: the tokenizer (once per row, staged) and
    # the per-gram char split inside token_hash (inherently per element);
    # a capture-trap regression would inline the gram tree per window slice
    assert optimized.count("split(") <= 2, optimized[:2000]
    # the window-minima transform must slice a staged attribute, not a
    # recomputed hash-array expression
    assert "slice(_h#" in optimized, optimized[:2000]


# --------------------------------------------------------------- sweep ------


def test_threshold_sweep_monotone_and_anchored(spark):
    """Raising min_words can only shrink the keep set, and the production
    grid point equals the flagship tier's own keep_heuristic count."""
    from dq.heuristics import keep_expr, with_heuristic_metrics
    from dq.pipeline import DOCS_CONFIG
    from dq.queries import SWEEP_MIN_WORDS, heuristic_threshold_sweep

    out = {
        r["min_words"]: r.asDict()
        for r in heuristic_threshold_sweep(spark, SF).collect()
    }
    assert set(out) == set(SWEEP_MIN_WORDS)
    ordered = [out[g]["n_pass"] for g in sorted(SWEEP_MIN_WORDS)]
    assert ordered == sorted(ordered, reverse=True)
    for g in SWEEP_MIN_WORDS:
        assert out[g]["pass_rate_micro"] == out[g]["n_pass"] * 1_000_000 // out[g]["n_docs"]
    # anchor: the production threshold reproduces the pipeline's own count
    prod = DOCS_CONFIG.thresholds["min_words"]
    if prod in out:
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        direct = (
            with_heuristic_metrics(docs)
            .where(keep_expr(DOCS_CONFIG.thresholds))
            .count()
        )
        assert out[prod]["n_pass"] == direct


def test_threshold_sweep_single_scan(spark):
    """The whole grid costs one corpus scan (conditional sums, not one
    pass per grid point)."""
    import contextlib
    import io

    from dq.queries import heuristic_threshold_sweep

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        heuristic_threshold_sweep(spark, SF).explain("simple")
    assert buf.getvalue().count("Scan parquet") == 1


# ------------------------------------------------------- winnow pairs -------


def test_winnow_pairs_planted_exact_recall(spark):
    """Every planted exact copy whose fp set clears the min-shared floor is
    recovered with overlap_micro == 1e6 (identical text -> identical set)."""
    from dq.queries import PLANT_EXACT_MOD, PLANT_EXACT_OFFSET, winnow_dup_pairs
    from dq.winnow import WINNOW_MIN_SHARED, WINNOW_SCALE, winnowing_fps

    pairs = {
        (r["doc_a"], r["doc_b"]): r.asDict()
        for r in winnow_dup_pairs(spark, SF).collect()
    }
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    eligible = {
        r["doc_id"]
        for r in winnowing_fps(docs)
        .groupBy("doc_id")
        .count()
        .where(F.col("count") >= WINNOW_MIN_SHARED)
        .collect()
        if r["doc_id"] % PLANT_EXACT_MOD == 0
    }
    assert eligible
    for d in eligible:
        key = (d, d + PLANT_EXACT_OFFSET)
        assert key in pairs, f"planted exact pair {key} missed"
        assert pairs[key]["overlap_micro"] == WINNOW_SCALE


def test_winnow_pairs_hot_fp_cap(spark):
    """A fingerprint present in more than the cap's doc count generates no
    pairs: 60 docs sharing ONE boilerplate phrase (plus unique filler) must
    produce zero candidates."""
    from dq.winnow import WINNOW_FP_MAX_DOCS, winnow_candidate_pairs

    n = WINNOW_FP_MAX_DOCS + 10
    rows = [
        (i, f"unique{i}a unique{i}b unique{i}c shared boiler plate phrase here")
        for i in range(n)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    assert winnow_candidate_pairs(docs).count() == 0


# ---------------------------------------------------------- canonical -------


def test_canonical_hand_chain_and_missing_target(spark):
    """Chain a->b->c resolves to c with depths 2/1/0; a pointer to an
    uncrawled id settles as that id (terminal-missing semantics)."""
    from dq.canonical import resolve_canonical

    edges = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 12), (20, 99)], "doc_id bigint, ptr bigint"
    )
    got = {r["doc_id"]: (r["root_id"], r["depth"])
           for r in resolve_canonical(edges).collect()}
    assert got == {10: (12, 2), 11: (12, 1), 12: (12, 0), 20: (99, 1)}


def test_canonical_planted_arithmetic(spark):
    """On the contiguous corpus the planted graph resolves arithmetically:
    root = doc_id - doc_id % MOD, depth = doc_id % MOD."""
    from dq.canonical import CANON_CHAIN_MOD
    from dq.queries import canonical_chains

    for r in canonical_chains(spark, SF).collect():
        assert r["root_id"] == r["doc_id"] - r["doc_id"] % CANON_CHAIN_MOD
        assert r["depth"] == r["doc_id"] % CANON_CHAIN_MOD


def test_canonical_deep_chain_logarithmic(spark):
    """A depth-1000 chain converges inside the default doubling budget
    (20 rounds covers depth 2^20) — the sequential walk would need 1000."""
    from dq.canonical import resolve_canonical

    n = 1000
    edges = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.greatest(F.col("id") - 1, F.lit(0)).alias("ptr"),
    )
    out = resolve_canonical(edges)
    assert out.where("root_id != 0").count() == 0
    assert out.where(f"doc_id = {n - 1}").collect()[0]["depth"] == n - 1


def test_canonical_planted_job_budget(spark):
    """Each doubling round's moved-pointer count is observed on the round's
    own checkpoint, so 5000 planted docs (4 rounds) fire no count jobs."""
    from dq.canonical import planted_canonical_edges, resolve_canonical
    from tests.conftest import jobs_fired

    edges = planted_canonical_edges(spark.range(5000).withColumnRenamed("id", "doc_id"))
    assert jobs_fired(spark, lambda: resolve_canonical(edges).count()) <= 17  # 25 with a count job per round


def test_canonical_content_audit_groups(spark):
    """Audit semantics on the planted chains: every group's n_pages equals
    its chain length (CANON_CHAIN_MOD runs, truncated at the corpus edge),
    multi-page groups over distinct synthetic texts report
    n_contents == n_pages and is_consistent False, and a hand corpus where
    every chain member carries IDENTICAL text reports n_contents 1 and
    is_consistent True."""
    from dq.canonical import CANON_CHAIN_MOD
    from dq.queries import canonical_content_audit

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    n_docs = docs.count()
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}

    out = {r["root_id"]: r for r in canonical_content_audit(spark, sf).collect()}
    assert sum(r["n_pages"] for r in out.values()) == n_docs
    for root, r in out.items():
        members = [
            i for i in ids if i >= root and i - root == i % CANON_CHAIN_MOD
            and i // CANON_CHAIN_MOD == root // CANON_CHAIN_MOD
        ] if root % CANON_CHAIN_MOD == 0 else None
        assert members is not None, f"non-root group {root}"
        assert r["n_pages"] == len(members)
        distinct = len({texts[i] for i in members})
        assert r["n_contents"] == distinct
        assert r["is_consistent"] == (distinct <= 1)

    # identical-content chain -> consistent (exercises the True branch
    # even if every sf chain happens to be divergent)
    from dq.canonical import planted_canonical_edges, resolve_canonical
    from dq.dedup import fingerprint_col
    from pyspark.sql import functions as F

    same = spark.createDataFrame(
        [(i, "one true content") for i in range(8)], "doc_id long, text string"
    )
    chains = resolve_canonical(planted_canonical_edges(same))
    fps = same.select("doc_id", fingerprint_col(F.col("text")).alias("_fp"))
    g = (
        chains.join(fps, "doc_id")
        .groupBy("root_id")
        .agg(F.countDistinct("_fp").alias("n_contents"))
        .collect()
    )
    assert all(r["n_contents"] == 1 for r in g)
