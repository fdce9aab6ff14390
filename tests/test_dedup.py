"""Dedup family: exact, MinHash-LSH, SimHash, Jaccard; planted-dup recall."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dq import dedup


@pytest.fixture(scope="module")
def dup_docs(spark):
    """40 base docs + 8 exact copies + 8 near copies (one word appended)."""
    base = [
        (f"u{i:03d}", f"the quick document number {i} talks about topic {i % 7} at length "
                      f"with many common words and some unique token tok{i}")
        for i in range(40)
    ]
    exact = [(f"x{i:03d}", base[i][1]) for i in range(8)]
    near = [(f"n{i:03d}", base[i][1] + " appendix") for i in range(8, 16)]
    return spark.createDataFrame(base + exact + near, "url string, text string").cache()


def test_exact_dedup_survivor_deterministic(spark, dup_docs):
    out = dedup.exact_dedup(dup_docs).toPandas()
    assert len(out) == 48  # 40 distinct texts + 8 near variants
    # survivor is the minimal url per cluster: u-prefixed beats x-prefixed
    assert not out["url"].str.startswith("x").any()


def test_exact_dup_flag_counts(spark, dup_docs):
    flagged = dup_docs.withColumn("dup", dedup.exact_dup_flag()).toPandas()
    assert int(flagged["dup"].sum()) == 8
    assert set(flagged.loc[flagged["dup"], "url"]) == {f"x{i:03d}" for i in range(8)}


def test_minhash_recall_and_precision(spark, dup_docs):
    pairs = dedup.minhash_near_dups(dup_docs, threshold=0.5).toPandas()
    got = {tuple(sorted(p)) for p in zip(pairs["id_a"], pairs["id_b"])}
    # all 8 exact pairs and all 8 near pairs must be found (jaccard >= 0.5)
    for i in range(8):
        assert (f"u{i:03d}", f"x{i:03d}") in got
    for i in range(8, 16):
        assert (f"n{i:03d}", f"u{i:03d}") in got
    # verified by exact jaccard: no pair below threshold survives
    assert (pairs["jaccard"] >= 0.5).all()


def test_jaccard_matches_python(spark, dup_docs):
    cands = spark.createDataFrame(
        [("u008", "n008"), ("u000", "x000"), ("u001", "u002")], "id_a string, id_b string"
    )
    got = dedup.jaccard_pairs(dup_docs, cands).toPandas().set_index(["id_a", "id_b"])
    texts = dict(dup_docs.collect())

    def py_jaccard(a, b, n=3):
        def sh(t):
            toks = t.lower().split()
            if len(toks) < n:
                return {" ".join(toks)}
            return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

        A, B = sh(texts[a]), sh(texts[b])
        return len(A & B) / len(A | B)

    for (a, b), row in got.iterrows():
        assert row["jaccard"] == pytest.approx(py_jaccard(a, b), abs=1e-12)


def test_simhash_matches_python_and_finds_dups(spark, dup_docs):
    out = dup_docs.select("url", "text", dedup.simhash_udf(F.col("text")).alias("sim")).toPandas()
    for _, r in out.head(5).iterrows():
        assert r["sim"] == dedup.simhash_one(r["text"])
    pairs = dedup.simhash_near_dups(dup_docs, max_hamming=3).toPandas()
    got = {tuple(sorted(p)) for p in zip(pairs["id_a"], pairs["id_b"])}
    for i in range(8):
        assert (f"u{i:03d}", f"x{i:03d}") in got  # identical text -> hamming 0


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([("a", "one two")], "url string, text string")
    out = df.select(dedup.shingles_col(F.col("text")).alias("sh")).collect()[0].sh
    assert out == ["one two"]


def test_minhash_signature_stability(spark, dup_docs):
    """Identical text -> identical signature (determinism across runs)."""
    sigs = dedup.minhash_signatures(dup_docs, num_hashes=8).toPandas().set_index("doc")
    for i in range(8):
        assert sigs.loc[f"u{i:03d}"].tolist() == sigs.loc[f"x{i:03d}"].tolist()


def test_non_survivor_keys_matches_flag(spark, dup_docs):
    """The narrow-projection dedup pass marks exactly the rows the full-row
    window flag marks (the pipeline relies on this equivalence)."""
    flagged = dup_docs.withColumn("dup", dedup.exact_dup_flag()).toPandas()
    want = set(flagged.loc[flagged["dup"], "url"])
    got = {r.url for r in dedup.non_survivor_keys(dup_docs).collect()}
    assert got == want


def test_jaccard_hashed_equals_string(spark, dup_docs):
    """The xxhash64 scale path and the string (oracle-checkable) path
    compute the same Jaccard on every candidate pair."""
    cands = dedup.minhash_candidates(dup_docs)
    h = (
        dedup.jaccard_pairs(dup_docs, cands, hashed=True)
        .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    )
    s = (
        dedup.jaccard_pairs(dup_docs, cands, hashed=False)
        .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(h, s)


def test_non_survivor_keys_handles_recrawled_rows(spark):
    """Byte-identical re-crawls (same url AND text twice) form one unit:
    the survivor url keeps all its rows, the flag join cannot fan out."""
    from dq.pipeline import enrich

    rows = [
        ("https://a.example/p", "2024-03-01 01:00:00", "identical body text one", "en"),
        ("https://a.example/p", "2024-03-02 01:00:00", "identical body text one", "en"),  # re-crawl
        ("https://b.example/p", "2024-03-01 02:00:00", "identical body text one", "en"),  # true dup
        ("https://c.example/p", "2024-03-01 03:00:00", "identical body text one", "en"),
        ("https://c.example/p", "2024-03-02 03:00:00", "identical body text one", "en"),  # dup, re-crawled
        ("https://d.example/p", "2024-03-01 04:00:00", "some other text entirely", "en"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts string, text string, lang string").withColumn(
        "warc_ts", F.to_timestamp("warc_ts")
    )
    got = dedup.non_survivor_keys(df).toPandas()
    assert sorted(got["url"]) == ["https://b.example/p", "https://c.example/p"]
    out = enrich(df, verify_extraction=False).select("url", "is_exact_dup").toPandas()
    assert len(out) == 6  # no join fan-out
    flags = out.groupby("url")["is_exact_dup"].agg(["all", "any"])
    assert not flags.loc["https://a.example/p", "any"]  # survivor keeps ALL copies
    assert flags.loc["https://b.example/p", "all"]
    assert flags.loc["https://c.example/p", "all"]      # every copy dropped
    assert not flags.loc["https://d.example/p", "any"]


def test_connected_components_chain_and_islands(spark):
    """Transitive clusters: a 4-chain collapses to one component, islands
    stay separate, and the component id is the deterministic minimum
    vertex id."""
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    got = {r.id: r.comp for r in dedup.connected_components_star(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_deep_chain_converges(spark):
    """A 12-vertex path graph (diameter 11) still converges within the
    iteration bound and labels every vertex with the chain minimum."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "id_a long, id_b long"
    )
    got = {r.id: r.comp for r in dedup.connected_components_star(pairs).collect()}
    assert got == {i: 0 for i in range(12)}


def test_connected_components_raises_on_non_convergence(spark):
    """Exhausting max_iter before fixpoint must fail loudly — silently
    split clusters would make survivor selection keep extra copies."""
    import pytest as _pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components_star(pairs, max_iter=1)


def test_incremental_dedup_across_batches(spark, tmp_path):
    """Cross-run ledger: batch-2 copies of batch-1 content are flagged even
    though unique within batch 2; the ledger accumulates idempotently."""
    ledger_path = str(tmp_path / "ledger")
    b1 = spark.createDataFrame(
        [("u1", "alpha text"), ("u2", "beta text"), ("u3", "alpha text")],
        "url string, text string",
    )
    dups1, fps1 = dedup.incremental_non_survivor_keys(b1, None)
    assert {r.url for r in dups1.collect()} == {"u3"}
    fps1.write.mode("append").parquet(ledger_path)

    b2 = spark.createDataFrame(
        [("u4", "alpha text"), ("u5", "gamma text"), ("u6", "gamma text")],
        "url string, text string",
    )
    ledger = spark.read.parquet(ledger_path)
    dups2, fps2 = dedup.incremental_non_survivor_keys(b2, ledger)
    # u4 = cross-run dup (alpha seen in batch 1); u6 = within-batch dup
    assert {r.url for r in dups2.collect()} == {"u4", "u6"}
    new = {r.fp for r in fps2.collect()}
    assert len(new) == 1  # only gamma is new content
    fps2.write.mode("append").parquet(ledger_path)
    assert spark.read.parquet(ledger_path).distinct().count() == 3


def test_dup_span_planted_overlap(spark):
    """Half-overlapping docs score ~50%, full copies 100%, unique docs 0;
    within-doc gram repeats never count as shared."""
    half = "one two three four five six seven eight nine ten"
    a = half + " alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b = half + " red green blue yellow purple orange pink brown black white"
    rows = [
        (0, a),
        (1, b),
        (2, "lone unique words that match nothing else in this corpus here"),
        (3, a),  # full copy of 0
        (4, "rep rep rep rep rep rep rep rep rep rep"),  # self-repeats only
        (5, "too short"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in dedup.dup_span_stats(docs).collect()}

    assert got[3]["dup_span_bp"] == 10000 and got[3]["is_dup_heavy"]
    assert got[0]["dup_span_bp"] == 10000 and got[0]["is_dup_heavy"]
    # doc 1 shares only the first half's grams with doc 0/3
    assert 0 < got[1]["dup_span_bp"] < 10000
    assert got[2]["n_shared_grams"] == 0 and not got[2]["is_dup_heavy"]
    # all of doc 4's grams collapse to one distinct self-repeated gram;
    # nothing is shared cross-doc
    assert got[4]["n_distinct_grams"] == 1
    assert got[4]["n_shared_grams"] == 0
    # gram-less doc scores zero, never flagged
    assert got[5]["n_distinct_grams"] == 0 and got[5]["dup_span_bp"] == 0


def _union_find_labels(edges):
    """Pure-Python union-find: vertex -> minimum vertex id of its component."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def test_star_cc_matches_minlabel_on_mixed_graph(spark):
    """Large-star/small-star labels equal the min-vertex labels of a
    pure-Python union-find on a seeded random graph plus one self-pair
    (component = min vertex id, every pair vertex labeled)."""
    import random

    rng = random.Random(7)
    edges = {(rng.randrange(200), rng.randrange(200)) for _ in range(250)}
    edges = [(a, b) for a, b in edges if a != b] + [(500, 500)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.comp for r in dedup.connected_components_star(pairs).collect()}
    assert got == _union_find_labels(edges)


def test_star_cc_deep_chain_logarithmic_rounds(spark):
    """A 1000-deep chain — which min-label propagation needs 1000 rounds
    for — converges within 2*ceil(log2 1000)+2 = 22 large/small-star
    alternations and labels every vertex with the chain minimum."""
    import math

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1000)], "id_a long, id_b long"
    )
    labels = dedup.connected_components_star(
        pairs, max_iter=2 * math.ceil(math.log2(1000)) + 2
    )
    got = {r.id: r.comp for r in labels.collect()}
    assert got == {i: 0 for i in range(1001)}


def test_star_cc_disjoint_pairs_job_budget(spark):
    """48 disjoint pairs (the benchmark near-dup graph's shape) converge in
    one round whose difference is observed on its own checkpoint: no probe
    jobs, and the pairs are read once."""
    from tests.conftest import jobs_fired

    pairs = spark.createDataFrame(
        [(2 * i + 1, 2 * i) for i in range(48)], "id_a long, id_b long"
    )
    got = []
    n = jobs_fired(spark, lambda: got.extend(dedup.connected_components_star(pairs).collect()))
    assert {r.id: r.comp for r in got} == {i: i - i % 2 for i in range(96)}
    assert n <= 15  # 28 with two subtract probes per round and a re-read of pairs


def test_star_cc_edgeless_and_islands(spark):
    """Self-pairs only → every vertex is its own component, zero rounds."""
    pairs = spark.createDataFrame(
        [(5, 5), (7, 7), (9, 8)], "id_a long, id_b long"
    )
    got = {r.id: r.comp for r in dedup.connected_components_star(pairs).collect()}
    assert got == {5: 5, 7: 7, 8: 8, 9: 8}


def test_incremental_neardup_ledger_flags_cross_run_copies(spark):
    """LSH band ledger: a batch-2 doc sharing most shingles with a ledgered
    batch-1 doc is flagged; fresh content is not; re-appending the returned
    new-band set is idempotent (distinct collapse)."""
    from dq.dedup import incremental_neardup_flags

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    b1 = spark.createDataFrame(
        [("a1", base), ("a2", "one two three four five six seven eight nine ten")],
        "url string, text string",
    )
    flags1, ledger = incremental_neardup_flags(b1, None)
    assert {r.url: r.neardup_prior for r in flags1.collect()} == {
        "a1": False, "a2": False,  # first run: no prior
    }
    b2 = spark.createDataFrame(
        [
            ("b1", base + " extra"),  # near-copy of a1 (one appended word)
            ("b2", "completely different words about cooking pasta tonight "
                   "with garlic and olive oil in a big red pot"),
        ],
        "url string, text string",
    )
    flags2, new_bands = incremental_neardup_flags(b2, ledger)
    got = {r.url: r.neardup_prior for r in flags2.collect()}
    assert got == {"b1": True, "b2": False}
    # idempotent append: replaying the same batch adds no new bands
    merged = ledger.unionByName(new_bands)
    flags3, new_again = incremental_neardup_flags(b2, merged)
    assert {r.url: r.neardup_prior for r in flags3.collect()} == {
        "b1": True, "b2": True,  # now its own bands are ledgered too
    }
    assert new_again.count() == 0


def test_neardup_batch_losers_keeps_min_per_family(spark):
    """WITHIN-batch family pick over (band, key, doc) units: each
    band-connected near-dup family loses every member except its minimal
    doc id; singleton docs lose nothing."""
    from dq.dedup import minhash_band_units, neardup_batch_losers

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    batch = spark.createDataFrame(
        [
            ("a1", base),
            ("a2", base + " extra"),        # near-copy of a1 -> loses to a1
            ("a3", "one two three four five six seven eight nine ten"),
        ],
        "url string, text string",
    )
    units = minhash_band_units(batch, id_col="url")
    assert {r.doc for r in neardup_batch_losers(units).collect()} == {"a2"}


def test_lsh_tuner_tracks_threshold():
    """tune_lsh_params: valid factorization, S-curve crosses ~0.5 near the
    requested threshold, and raising the threshold never increases the band
    count (more selective banding = fewer, longer bands)."""
    from dq.dedup import lsh_candidate_probability, tune_lsh_params

    prev_bands = None
    for thr in (0.2, 0.4, 0.6, 0.8):
        b, r = tune_lsh_params(num_hashes=32, threshold=thr)
        assert b * r == 32 and b >= 1 and r >= 1
        # the curve's steep section straddles the threshold
        assert lsh_candidate_probability(min(1.0, thr + 0.25), b, r) > 0.5
        assert lsh_candidate_probability(max(0.0, thr - 0.25), b, r) < 0.9
        if prev_bands is not None:
            assert b <= prev_bands
        prev_bands = b
    # FN-averse weighting must not pick FEWER bands than the balanced pick
    b_bal, _ = tune_lsh_params(32, 0.5)
    b_fn, _ = tune_lsh_params(32, 0.5, fp_weight=0.1, fn_weight=0.9)
    assert b_fn >= b_bal


# ---- duplicate-span REMOVAL --------------------------------------------------

def test_dup_span_removal_planted(spark):
    from dq.dedup import dup_span_removal

    shared = "one two three four five six seven"  # 7 tokens, 3 shared 5-grams
    rows = [
        (1, f"Alpha intro. {shared} alpha tail closes here now"),
        (2, f"Beta opening words go here {shared} beta ending"),
        (3, "completely unique text with no shared spans at all ok"),
        (4, "short text"),          # under n tokens: untouched
        (5, None),                  # NULL: passes as ''
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in dup_span_removal(df).collect()}

    # the shared 7-token window is fully covered in both docs; the unique
    # prefix/suffix tokens survive in original order and case
    assert out[1].text_despanned == "Alpha intro. alpha tail closes here now"
    assert out[1].n_removed == 7
    assert out[2].text_despanned == "Beta opening words go here beta ending"
    assert out[2].n_removed == 7
    assert out[3].n_removed == 0
    assert out[3].text_despanned == rows[2][1]
    assert (out[4].n_tokens, out[4].n_removed, out[4].text_despanned) == (
        2, 0, "short text",
    )
    assert (out[5].n_tokens, out[5].n_removed, out[5].text_despanned) == (0, 0, "")


def test_dup_span_removal_case_insensitive_identity(spark):
    from dq.dedup import dup_span_removal

    # same 5-gram differing only in case IS shared; removal preserves the
    # original casing of surviving tokens
    rows = [
        (1, "One Two Three Four Five unique-a suffix-a pad-a more-a"),
        (2, "one two three four five unique-b suffix-b pad-b more-b"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in dup_span_removal(df).collect()}
    assert out[1].text_despanned == "unique-a suffix-a pad-a more-a"
    assert out[2].text_despanned == "unique-b suffix-b pad-b more-b"


def test_dup_span_removal_paths_identical(spark):
    from dq.dedup import dup_span_removal

    rows = [
        (i, f"common prefix tokens here always present doc {i} unique tail")
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    a = sorted(dup_span_removal(df, mode="broadcast").collect())
    b = sorted(dup_span_removal(df, mode="shuffle").collect())
    assert a == b
    # the 6-token common prefix is removed everywhere
    assert all(r.text_despanned.startswith("doc") or r.n_removed >= 6 for r in a)


# ---- LSH hot-bucket cap (VERDICT r4 top item) -------------------------------


@pytest.fixture(scope="module")
def hot_family_docs(spark):
    """A planted 1000-copy exact-dup family (the 100k-copy boilerplate page
    at test scale: identical text -> identical signature -> ALL bands share
    one bucket) plus one genuine near-dup pair elsewhere."""
    family = [
        (f"f{i:04d}",
         "accept all cookies to continue reading this site content policy")
        for i in range(1000)
    ]
    body = (
        "completely distinct article discussing spark shuffle partitioning "
        "strategies for large scale corpora with many additional filler "
        "words keeping the shingle overlap high"
    )
    near = [("a000", body), ("a001", body + " appendix")]
    return spark.createDataFrame(
        family + near, "url string, text string"
    ).cache()


def test_minhash_hot_bucket_cap_bounds_family_fanout(spark, hot_family_docs):
    """The 1000-copy family must produce ZERO candidate pairs (its buckets
    exceed LSH_BUCKET_MAX_DOCS and are dropped before the self-join — the
    exact-dup tier upstream owns those copies), while the genuine near-dup
    pair keeps full recall. Uncapped, the family alone would fan out to
    ~m^2/2 = 499,500 join rows on ONE bucket key."""
    cands = dedup.minhash_candidates(hot_family_docs).toPandas()
    fam = cands[cands["id_a"].str.startswith("f") & cands["id_b"].str.startswith("f")]
    assert len(fam) == 0, "hot-bucket pairs must be dropped pre-join"
    got = {tuple(sorted(p)) for p in zip(cands["id_a"], cands["id_b"])}
    assert ("a000", "a001") in got, "near-dup recall must survive the cap"
    assert len(cands) < 50  # bounded fan-out overall

    # uncapped research shape still exists and DOES emit the family pairs
    un = dedup.minhash_candidates(hot_family_docs, bucket_max_docs=None)
    assert un.where((F.col("id_a") == "f0000") & (F.col("id_b") == "f0001")).count() == 1


def test_minhash_cap_plan_has_pre_join_anti(spark, hot_family_docs):
    """The cap is a LEFT ANTI join BEFORE the candidate self-join (the
    winnow_candidate_pairs hot-fp pattern) — assert the optimized plan
    carries it, and that the uncapped form does not."""
    capped = dedup.minhash_candidates(hot_family_docs)
    plan = capped._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" in plan
    un = dedup.minhash_candidates(hot_family_docs, bucket_max_docs=None)
    assert "LeftAnti" not in un._jdf.queryExecution().optimizedPlan().toString()


def test_simhash_hot_bucket_cap(spark, hot_family_docs):
    """Same cap on the (chunk_id, chunk) buckets: the identical-text family
    (hamming 0 across all four chunks) is dropped; the near pair — one word
    appended to a long doc — flips few sign bits and is found via its own
    small buckets (loose max_hamming: the assertion is about the cap, not
    the hamming threshold)."""
    pairs = dedup.simhash_near_dups(hot_family_docs, max_hamming=16).toPandas()
    fam = pairs[pairs["id_a"].str.startswith("f") & pairs["id_b"].str.startswith("f")]
    assert len(fam) == 0
    got = {tuple(sorted(p)) for p in zip(pairs["id_a"], pairs["id_b"])}
    assert ("a000", "a001") in got


def test_small_buckets_unaffected_by_cap(spark, dup_docs):
    """Below the cap the candidate set is bit-identical to the uncapped
    form — the gate corpus regime (every planted family is tiny)."""
    capped = sorted(map(tuple, dedup.minhash_candidates(dup_docs).collect()))
    uncapped = sorted(
        map(tuple, dedup.minhash_candidates(dup_docs, bucket_max_docs=None).collect())
    )
    assert capped == uncapped


def test_near_dup_survivors_planted(spark):
    """Gate-query semantics on the planted families: the survivor is always
    a member; families containing the near copy (+2 suffix tokens) pick it
    (longest wins); exact-only families tie on tokens and pick the lowest
    doc_id; cluster sizes agree with the cluster labels."""
    from dq.queries import (
        PLANT_NEAR_OFFSET,
        near_dup_clusters,
        near_dup_survivors,
    )

    sf = "/root/testdata/sf0.001"
    surv = near_dup_survivors(spark, sf).toPandas().set_index("cluster_id")
    cc = near_dup_clusters(spark, sf).toPandas()

    sizes = cc.groupby("cluster_id").size()
    assert surv["cluster_size"].sort_index().equals(sizes.sort_index())

    members_by_cluster = cc.groupby("cluster_id")["doc_id"].agg(set)
    for cid, row in surv.iterrows():
        members = members_by_cluster[cid]
        assert row["survivor_id"] in members
        near = {m for m in members if m >= PLANT_NEAR_OFFSET}
        if near:
            assert row["survivor_id"] in near, (cid, members)
        else:
            assert row["survivor_id"] == min(members), (cid, members)
    # both planted family shapes actually occur in the corpus
    assert any(
        any(m >= PLANT_NEAR_OFFSET for m in ms) for ms in members_by_cluster
    )
    assert any(
        all(m < PLANT_NEAR_OFFSET for m in ms) for ms in members_by_cluster
    )


# --------------------------------------------------------------- allpairs --


def _allpairs_pair_set(df, **kw):
    return {
        (r.id_a, r.id_b)
        for r in dedup.allpairs_jaccard(
            df, id_col="url", text_col="text", **kw
        ).collect()
    }


def _py_shingles(text, n=3):
    w = [t for t in (text or "").lower().split() if t]
    if len(w) >= n:
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}
    return {" ".join(w)}


def test_allpairs_matches_naive_all_pairs(spark, dup_docs):
    """Prefix-filtered output == brute-force all-pairs over the same shingle
    sets: the losslessness of the rarest-first prefix + length filters,
    pinned against a python oracle (the DuckDB gate twin re-proves it on
    the planted corpus via the naive shared-shingle plan)."""
    from itertools import combinations

    rows = sorted((r.url, r.text) for r in dup_docs.collect())
    expect = set()
    for (ua, ta), (ub, tb) in combinations(rows, 2):
        A, B = _py_shingles(ta), _py_shingles(tb)
        inter, union = len(A & B), len(A | B)
        if inter * 5 >= union * 3:
            expect.add((ua, ub))
    got = _allpairs_pair_set(dup_docs, hashed=False, t_num=3, t_den=5)
    assert got == expect
    assert len(expect) >= 16  # the planted exact+near families all qualify


def test_allpairs_threshold_boundary_is_exact(spark):
    """inter*den >= union*num in integers: a pair at EXACTLY J = 3/5 is
    kept, just-below is dropped — no float epsilon anywhere."""
    df = spark.createDataFrame(
        [("a", "a b c d e f"), ("b", "a b c d e g"), ("c", "a b c d g h")],
        "url string, text string",
    )
    got = _allpairs_pair_set(df, hashed=False)
    assert got == {("a", "b")}  # inter 3, union 5 -> J = 0.6 exactly
    row = (
        dedup.allpairs_jaccard(df, id_col="url", text_col="text", hashed=False)
        .collect()[0]
    )
    assert (row.inter_size, row.union_size, row.jaccard) == (3, 5, 0.6)


def test_allpairs_hashed_equals_string_pairs(spark, dup_docs):
    """The int64-shingle scale path finds the identical pair set (same
    algebra, 8-byte currency; 64-bit collisions negligible)."""
    assert _allpairs_pair_set(dup_docs, hashed=True) == _allpairs_pair_set(
        dup_docs, hashed=False
    )


def test_allpairs_shingle_cap_drops_hot_family_keeps_rare_pair(
    spark, hot_family_docs
):
    """The documented-LOSSY df cap: the 1000-copy family's shingles (df
    ~1000) leave candidate generation entirely — zero pairs from content
    the exact-dup tier owns — while the rare-shingle near pair keeps full
    recall. Uncapped on a small slice, the family pairs ARE the output
    (the m^2 is inherent to the answer, not to the join plan)."""
    capped = _allpairs_pair_set(hot_family_docs, hashed=True, shingle_max_docs=50)
    assert capped == {("a000", "a001")}
    small = hot_family_docs.where(F.col("url") < "f0030")
    un = _allpairs_pair_set(small, hashed=True)
    assert ("f0000", "f0001") in un
    assert {(a, b) for a, b in un if a.startswith("f")} == {
        (f"f{i:04d}", f"f{j:04d}") for i in range(30) for j in range(i + 1, 30)
    }


def test_allpairs_plan_no_cartesian(spark, dup_docs):
    """Candidate generation is an equi-join on prefix shingles — never a
    cartesian/nested-loop product."""
    q = dedup.allpairs_jaccard(dup_docs, id_col="url", text_col="text", hashed=True)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
