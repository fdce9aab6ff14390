"""Semantics tests for dq.snapshots (dedup-scope accounting, drift bands)
and dq.index (capped inverted-index postings)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dq.index import POSTINGS_K, POSTINGS_MIN_DF, term_postings
from dq.snapshots import (
    DRIFT_BAND_CHARS,
    DRIFT_BAND_MAX,
    DRIFT_SCALE,
    N_SNAPSHOTS,
    SNAP_RECRAWL_MOD,
    SNAP_WITHIN_MOD,
    planted_snapshot_docs,
    snapshot_dedup_rates,
    snapshot_drift_bands,
)

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------- snapshots -------


def test_snapshot_dedup_rates_hand_corpus(spark):
    """Known answer on a hand-built 3-snapshot corpus."""
    rows = [
        (0, 1, "A"), (0, 2, "B"), (0, 3, "A"),          # within dup: A
        (1, 4, "A"), (1, 5, "C"),                        # A re-crawled
        (2, 6, "B"), (2, 7, "B"), (2, 8, "D"),           # within dup + prior B
    ]
    planted = spark.createDataFrame(rows, "snap bigint, doc_id bigint, text string")
    got = {
        r["snap"]: r.asDict()
        for r in snapshot_dedup_rates(planted).collect()
    }
    assert got[0] == {
        "snap": 0, "n_docs": 3, "scoped_survivors": 2,
        "within_dup_docs": 1, "prior_dup_shas": 0, "new_shas": 2,
    }
    assert got[1] == {
        "snap": 1, "n_docs": 2, "scoped_survivors": 2,
        "within_dup_docs": 0, "prior_dup_shas": 1, "new_shas": 1,
    }
    assert got[2] == {
        "snap": 2, "n_docs": 3, "scoped_survivors": 2,
        "within_dup_docs": 1, "prior_dup_shas": 1, "new_shas": 1,
    }


def test_snapshot_dedup_rates_corpus_invariants(spark):
    """Accounting invariants on the planted sf0.001 corpus."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    planted = planted_snapshot_docs(docs)
    out = {r["snap"]: r.asDict() for r in snapshot_dedup_rates(planted).collect()}
    assert set(out) == set(range(N_SNAPSHOTS))
    # snapshot 0 has no earlier snapshot to re-crawl from
    assert out[0]["prior_dup_shas"] == 0
    # every planted doc is accounted exactly once
    n_base = docs.count()
    n_within = docs.where(F.col("doc_id") % SNAP_WITHIN_MOD == 0).count()
    n_recrawl = docs.where(F.col("doc_id") % SNAP_RECRAWL_MOD == 0).count()
    assert sum(r["n_docs"] for r in out.values()) == n_base + n_within + n_recrawl
    # contents first seen somewhere == global distinct contents
    n_distinct = docs.select(
        F.coalesce(F.col("text"), F.lit("\x00")).alias("t")
    ).distinct().count()
    assert sum(r["new_shas"] for r in out.values()) == n_distinct
    for r in out.values():
        assert r["within_dup_docs"] == r["n_docs"] - r["scoped_survivors"]
        assert 0 <= r["prior_dup_shas"] <= r["scoped_survivors"]


def test_snapshot_drift_bands_hand_corpus(spark):
    """Band edges, cap, and the add-one micro-ratio on a tiny frame."""
    rows = [
        (0, 10),                       # even -> A, band 0
        (1, 10), (3, 20),              # odd -> B, band 0
        (2, DRIFT_BAND_CHARS),         # A, band 1
        (5, DRIFT_BAND_CHARS * 100),   # B, capped at DRIFT_BAND_MAX
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, n_chars bigint")
    got = {r["band"]: r.asDict() for r in snapshot_drift_bands(docs).collect()}
    assert got[0]["n_a"] == 1 and got[0]["n_b"] == 2 and got[0]["delta"] == 1
    assert got[0]["ratio_micro"] == (2 + 1) * DRIFT_SCALE // (1 + 1)
    assert got[1]["n_a"] == 1 and got[1]["n_b"] == 0
    assert got[1]["ratio_micro"] == DRIFT_SCALE // 2
    assert got[DRIFT_BAND_MAX]["n_b"] == 1  # capped band absorbs the outlier


# -------------------------------------------------------------- index -------


def test_term_postings_hand_corpus(spark):
    """Known postings: df floor excludes the hapax, ranking is
    (tf DESC, doc_id ASC), posting list capped at POSTINGS_K."""
    rows = [
        (1, "a a a b"), (2, "a b"), (3, "a b"), (4, "b a"), (5, "c"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = term_postings(docs).collect()
    terms = {r["term"] for r in out}
    assert terms == {"a", "b"}  # c has df 1 < POSTINGS_MIN_DF
    a = sorted((r for r in out if r["term"] == "a"), key=lambda r: r["post_rank"])
    assert [(r["post_rank"], r["doc_id"], r["tf"]) for r in a] == [
        (1, 1, 3), (2, 2, 1), (3, 3, 1)
    ]
    assert all(r["df_docs"] == 4 and r["tf_total"] == 6 for r in a)
    b = sorted((r for r in out if r["term"] == "b"), key=lambda r: r["post_rank"])
    assert [(r["post_rank"], r["doc_id"]) for r in b] == [(1, 1), (2, 2), (3, 3)]
    assert len(out) == 2 * POSTINGS_K


def test_term_postings_skewed_matches_python_oracle(spark):
    """On a skewed corpus (hot terms in every doc, tf up to 2) the capped
    postings equal a pure-python df floor + (tf DESC, doc_id) top-k."""
    import collections

    texts = {i: f"hot w {i % 17} {i % 5}" for i in range(200)}
    docs = spark.createDataFrame(list(texts.items()), "doc_id bigint, text string")
    got = sorted(tuple(r) for r in term_postings(docs).collect())

    tf = collections.Counter((t, i) for i, text in texts.items() for t in text.split())
    posts = collections.defaultdict(list)
    for (term, doc_id), n in tf.items():
        posts[term].append((doc_id, n))
    want = sorted(
        (term, len(p), sum(n for _, n in p), rank, doc_id, n)
        for term, p in posts.items()
        if len(p) >= POSTINGS_MIN_DF
        for rank, (doc_id, n) in enumerate(
            sorted(p, key=lambda x: (-x[1], x[0]))[:POSTINGS_K], start=1
        )
    )
    assert got == want
    assert any(row[0] == "hot" for row in want) and any(row[5] == 2 for row in want)


# --------------------------------------------------------------- bm25 -------


def _py_bm25(rows, terms, k=None, scale=None):
    """Pure-python replica of dq.index.bm25_topk's integer arithmetic."""
    import collections

    from dq.index import BM25_K, BM25_SCALE

    k = BM25_K if k is None else k
    scale = BM25_SCALE if scale is None else scale
    tf: collections.Counter = collections.Counter()
    dl: collections.Counter = collections.Counter()
    for did, t in rows:
        words = [w for w in (t or "").lower().split() if w]
        dl[did] += len(words)
        for w in words:
            tf[(w, did)] += 1
    n, total_len = len(rows), sum(dl.values())
    df: collections.Counter = collections.Counter()
    for (w, _), _c in tf.items():
        df[w] += 1
    scores: dict = {}
    for (w, did), c in tf.items():
        if w not in terms:
            continue
        idf = (n + 1) * 1000 // (df[w] + 1)
        tfn = (
            22 * c * total_len * scale
            // (10 * c * total_len + 3 * total_len + 9 * dl[did] * n)
        )
        m, s = scores.get(did, (0, 0))
        scores[did] = (m + 1, s + idf * tfn // 1000)
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1][1], kv[0]))[:k]
    return [
        (r + 1, did, m, s) for r, (did, (m, s)) in enumerate(ranked)
    ]


def test_bm25_matches_python_twin(spark):
    """Full top-k (ranks, matched-term counts, integer scores) equals the
    pure-python replica on a pinned mixed corpus."""
    from dq.index import bm25_topk

    terms = ("rare", "common")
    rows = [
        (1, "rare alpha beta gamma"),
        (2, "common common alpha beta"),
        (3, "rare rare common delta"),
        (4, "alpha beta gamma delta"),          # no query term
        (5, "common epsilon zeta eta theta iota kappa common"),
        (6, "rare"),                            # short doc, high tf weight
        (7, "common alpha"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = [
        (r["bm_rank"], r["doc_id"], r["n_terms_matched"], r["score_micro"])
        for r in bm25_topk(docs, query_terms=terms).collect()
    ]
    assert got == _py_bm25(rows, set(terms))
    assert all(did != 4 for _, did, _, _ in got)  # unmatched doc absent


def test_bm25_rare_term_outranks_common(spark):
    """Same tf, same doc length: the doc holding the RARE term scores
    higher than the doc holding the common one (idf ordering)."""
    from dq.index import bm25_topk

    rows = [(1, "rare filler one two")] + [
        (i, f"common filler{i} x{i} y{i}") for i in range(2, 12)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r["bm_rank"] for r in bm25_topk(
        docs, query_terms=("rare", "common")
    ).collect()}
    assert got[1] == 1


def test_bm25_corpus_matches_python_twin(spark):
    """On the real corpus the global top-k (keyless dq.skew.topk) equals
    the pure-python replica's ranking."""
    from dq.index import BM25_QUERY_TERMS, bm25_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = [
        (r["bm_rank"], r["doc_id"], r["n_terms_matched"], r["score_micro"])
        for r in bm25_topk(docs).collect()
    ]
    rows = [(r["doc_id"], r["text"]) for r in docs.select("doc_id", "text").collect()]
    assert sorted(got) == _py_bm25(rows, set(BM25_QUERY_TERMS))


def test_site_keep_rollup_consistency(spark):
    """Rollup columns are internally consistent and cover the corpus."""
    from dq.queries import SITE_KEEP_PCT, site_keep_rollup

    out = site_keep_rollup(spark, SF).collect()
    n_docs_total = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(r["n_docs"] for r in out) == n_docs_total
    for r in out:
        assert 0 <= r["n_keep"] <= r["n_docs"]
        assert r["keep_rate_micro"] == r["n_keep"] * 1_000_000 // r["n_docs"]
        assert r["site_keep"] == (r["n_keep"] * 100 >= SITE_KEEP_PCT * r["n_docs"])
