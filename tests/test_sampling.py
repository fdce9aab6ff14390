"""Sampling / domain balancing / token packing semantics."""

import pandas as pd
from pyspark.sql import functions as F

from dq import sampling


def test_stratified_sample_deterministic_and_rated(spark):
    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "xx") for i in range(2000)],
        "doc_id bigint, lang string",
    )
    out = sampling.stratified_sample(docs, rates_bp={"en": 5000}, default_bp=500)
    agg = {
        r.lang: r
        for r in out.groupBy("lang").agg(
            F.sum(F.col("sampled").cast("int")).alias("n_kept"),
            F.count(F.lit(1)).alias("n"),
        ).collect()
    }
    # en keeps ~50%, default stratum ~5% (hash buckets, not exact)
    assert 0.4 < agg["en"].n_kept / agg["en"].n < 0.6
    assert agg["xx"].n_kept / agg["xx"].n < 0.12
    # deterministic: a second evaluation yields the identical sample set
    kept1 = {r.doc_id for r in out.where("sampled").collect()}
    kept2 = {r.doc_id for r in out.where("sampled").collect()}
    assert kept1 == kept2 and kept1


def test_domain_cap_matches_python_oracle(spark):
    # skewed: domain 'hot' has 200 rows, others 3 each
    rows = [(i, "hot") for i in range(200)]
    rows += [(1000 + 10 * d + j, f"cold{d}") for d in range(5) for j in range(3)]
    base = spark.createDataFrame(rows, "doc_id bigint, domain string")
    k = 7
    got = sampling.domain_cap_sample(base, k=k)
    by_domain: dict[str, list[int]] = {}
    for doc_id, domain in rows:
        by_domain.setdefault(domain, []).append(doc_id)
    want = sorted(
        (doc_id, domain, rank)
        for domain, ids in by_domain.items()
        for rank, doc_id in enumerate(sorted(ids)[:k], start=1)
    )
    assert sorted(tuple(r) for r in got.collect()) == want
    assert dict(got.dtypes)["domain_rank"] == "int"
    assert sum(1 for r in want if r[1] == "hot") == k


def test_token_packing_matches_pandas_prefix_sum(spark):
    texts = [(i, "w " * ((i * 7) % 13 + 1)) for i in range(150)]
    docs = spark.createDataFrame(texts, "doc_id bigint, text string")
    budget, bucket = 50, 16
    out = (
        sampling.token_budget_packing(docs, budget=budget, bucket_size=bucket)
        .orderBy("doc_id")
        .toPandas()
    )
    toks = pd.Series([((i * 7) % 13 + 1) for i in range(150)])
    prefix_excl = toks.cumsum().shift(fill_value=0)
    expect = (prefix_excl // budget).astype("int64")
    assert list(out.bin_id) == list(expect)
    assert list(out.n_tokens) == list(toks)


def test_token_packing_bin_ids_contiguous(spark):
    docs = spark.createDataFrame(
        [(i, "a b c d e") for i in range(100)], "doc_id bigint, text string"
    )
    bins = sorted(
        r.bin_id
        for r in sampling.token_budget_packing(docs, budget=25, bucket_size=10)
        .select("bin_id").distinct().collect()
    )
    assert bins == list(range(bins[-1] + 1))  # 0..max with no gaps


def test_chunk_docs_windows(spark):
    from dq.sampling import chunk_docs

    text = " ".join(f"w{i}" for i in range(100))  # 100 tokens
    rows = [(1, text), (2, "short doc"), (3, ""), (4, None)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = chunk_docs(df, size=64, stride=48).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: starts 0, 48, 96 -> windows 64, 52, 4 tokens
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    assert [(r.chunk_idx, r.n_tokens) for r in c1] == [(0, 64), (1, 52), (2, 4)]
    assert c1[0].chunk_text.split() == [f"w{i}" for i in range(64)]
    assert c1[1].chunk_text.split() == [f"w{i}" for i in range(48, 100)]
    assert c1[2].chunk_text.split() == [f"w{i}" for i in range(96, 100)]
    # short doc: one window with every token
    assert [(r.chunk_idx, r.n_tokens) for r in by_doc[2]] == [(0, 2)]
    # empty / NULL docs emit no chunks
    assert 3 not in by_doc and 4 not in by_doc
    # overlap invariant: consecutive windows share size-stride tokens
    assert c1[0].chunk_text.split()[48:] == c1[1].chunk_text.split()[:16]


def test_temperature_sample_rates_follow_inverse_sqrt(spark):
    import math

    from dq.sampling import TEMP_SCALE, temperature_sample

    # 400 en, 100 de, 25 fr -> rarest (fr) keeps all; en keeps 1/4 of de's rate
    rows = (
        [(i, "en") for i in range(400)]
        + [(1000 + i, "de") for i in range(100)]
        + [(2000 + i, "fr") for i in range(25)]
    )
    df = spark.createDataFrame(rows, "doc_id bigint, lang string")
    out = temperature_sample(df)
    rates = {r.lang: r.keep_rate_bp for r in out.select("lang", "keep_rate_bp").distinct().collect()}
    assert rates["fr"] == 10000                       # n_min keeps everything
    assert rates["de"] == math.isqrt(TEMP_SCALE * 25 // 100)   # = 5000
    assert rates["en"] == math.isqrt(TEMP_SCALE * 25 // 400)   # = 2500
    # expected kept mass per language ~ n^0.5: en 400*.25=100, de 100*.5=50, fr 25
    kept = {r.lang: r.n for r in out.where("sampled").groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert abs(kept["en"] - 100) <= 25 and abs(kept["de"] - 50) <= 15


def test_temperature_sample_docs_never_shuffle(spark):
    import re

    from dq.sampling import temperature_sample

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select("doc_id", "lang")
    plan = temperature_sample(df)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    for frag in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "doc_id#" not in frag  # only the lang histogram shuffles


def test_temperature_sample_null_strata_kept_as_own_group(spark):
    from dq.sampling import temperature_sample

    rows = [(i, "en") for i in range(100)] + [(500 + i, None) for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string")
    out = temperature_sample(df)
    assert out.count() == 104  # NULL rows never dropped by the rate join
    rates = {r.lang: r.keep_rate_bp for r in out.select("lang", "keep_rate_bp").distinct().collect()}
    assert rates[None] == 10000            # rarest group keeps everything
    assert rates["en"] == 2000             # isqrt(1e8*4/100)


def _unimax(spark, rows, **kw):
    df = spark.createDataFrame(rows, "lang string, text string")
    return {r.lang: r for r in sampling.unimax_allocation(df, **kw).collect()}


def test_unimax_mixed_saturation_hand_computed(spark):
    # tokens a=1, b=2, c=20; E=4, F=3 -> caps 4, 8, 80; budget 69.
    # a, b saturate (12<=69, 16<=65); c gets the remaining 57 (< cap 80).
    got = _unimax(spark, [("a", "x"), ("b", "x x"), ("c", " ".join(["x"] * 20))])
    assert (got["a"].alloc_tokens, got["a"].saturated) == (4, True)
    assert (got["b"].alloc_tokens, got["b"].saturated) == (8, True)
    assert (got["c"].alloc_tokens, got["c"].saturated) == (57, False)
    assert got["c"].alloc_epochs_bp == 28500  # 57/20 epochs in bp


def test_unimax_remainder_goes_to_first_unsaturated(spark):
    # tokens a=1, b=10, c=10 -> caps 4, 40, 40; budget 63. a saturates;
    # R=59 over u=2 -> share 29 rem 1 -> b (first in (cap, lang) order) 30.
    ten = " ".join(["x"] * 10)
    got = _unimax(spark, [("a", "x"), ("b", ten), ("c", ten)])
    assert got["a"].alloc_tokens == 4 and got["a"].saturated
    assert (got["b"].alloc_tokens, got["c"].alloc_tokens) == (30, 29)
    assert not got["b"].saturated and not got["c"].saturated
    # budget fully consumed
    assert sum(r.alloc_tokens for r in got.values()) == 63


def test_unimax_all_saturated_and_zero_token_lang(spark):
    # epoch_cap=1, budget 3x: caps [1, 2] both under the budget -> all
    # saturate, u=0 branch never divides by zero, budget under-consumed.
    got = _unimax(spark, [("a", "x"), ("b", "x x")], epoch_cap=1)
    assert got["a"].alloc_tokens == 1 and got["b"].alloc_tokens == 2
    assert all(r.saturated for r in got.values())
    # NULL-text language: 0 tokens, saturates at 0, epochs_bp pinned 0
    got = _unimax(spark, [("z", None), ("b", " ".join(["x"] * 5))])
    assert (got["z"].alloc_tokens, got["z"].alloc_epochs_bp) == (0, 0)
    assert got["b"].alloc_tokens == 15 and not got["b"].saturated


def test_quality_weighted_sample_ramp(spark):
    """Ramp anchors and determinism: an all-toxic doc pins keep_bp to 0
    (never sampled regardless of bucket); an empty doc sits at the neutral
    midpoint 5000; keep_bp is monotone in ptoken_micro and clamped to
    [0, 10000]; sampled == (lcg bucket < keep_bp) exactly."""
    from dq.sampling import LCG_ADD, LCG_MUL, SAMPLE_MOD, quality_weighted_sample
    from dq.scrub import TOXIC_WORDS

    toxic = " ".join(sorted(TOXIC_WORDS)[:3])
    rows = [
        (0, toxic),            # hard-negative prior -> ptoken -8000 -> bp 0
        (1, ""),               # empty -> neutral 0 micro -> bp 5000
        (2, "alpha beta gamma delta"),
        (3, None),             # NULL == empty by the classifier contract
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in quality_weighted_sample(df).collect()}

    assert out[0]["keep_bp"] == 0 and not out[0]["sampled"]
    assert out[1]["keep_bp"] == 5000
    assert out[3]["keep_bp"] == 5000  # NULL text == empty
    for r in out.values():
        assert 0 <= r["keep_bp"] <= 10000
        assert r["sample_bucket"] == (r["doc_id"] * LCG_MUL + LCG_ADD) % SAMPLE_MOD
        assert r["sampled"] == (r["sample_bucket"] < r["keep_bp"])
        assert r["sampled"] is not None  # never three-valued
    # monotone in the mean token weight
    by_ptoken = sorted(out.values(), key=lambda r: r["ptoken_micro"])
    bps = [r["keep_bp"] for r in by_ptoken]
    assert bps == sorted(bps)


def test_quality_weighted_kept_mass_tracks_scores(spark):
    """On the sf0.001 corpus the realized kept fraction sits near the
    expected sum(keep_bp)/10000/n mass (LCG buckets are equidistributed;
    tolerance generous — this is a sanity bound, not a statistical test)."""
    from dq.sampling import quality_weighted_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = quality_weighted_sample(docs).select("keep_bp", "sampled").collect()
    n = len(out)
    expected = sum(r["keep_bp"] for r in out) / 10_000 / n
    realized = sum(1 for r in out if r["sampled"]) / n
    assert abs(realized - expected) < 0.1


def _bucket(doc_id: int) -> int:
    return (doc_id * sampling.LCG_MUL + sampling.LCG_ADD) % sampling.SAMPLE_MOD


def _split_of(doc_id: int) -> str:
    b = _bucket(doc_id)
    for name, edge in sampling.SPLIT_EDGES:
        if b < edge:
            return name
    return sampling.SPLIT_EDGES[-1][0]


def test_split_leakage_audit_hand_corpus(spark):
    # pick one id per split by scanning the shared LCG (same arithmetic
    # the engine uses — the test plants docs in KNOWN splits)
    ids = {}
    for i in range(100_000):
        s = _split_of(i)
        ids.setdefault(s, []).append(i)
        if len(ids) == 3 and all(len(v) >= 4 for v in ids.values()):
            break
    tr, va, te = ids["train"], ids["val"], ids["test"]
    rows = [
        (tr[0], "A"),  # A: train + val -> leaks into val
        (va[0], "A"),
        (tr[1], "B"),  # B: train only (two copies, no straddle)
        (tr[2], "B"),
        (va[1], "C"),  # C: val + test -> leaks val->test
        (te[0], "C"),
        (tr[3], "D"),
        (te[1], "D"),  # D: train + test
        (va[2], None),  # NULL family: val + test (sentinel must cluster)
        (te[2], None),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r.pair: r
        for r in sampling.split_leakage_audit(docs).collect()
    }
    tv, tt, vt = out["train|val"], out["train|test"], out["val|test"]
    assert tv.shared_contents == 1 and tv.leaked_eval_docs == 1  # A
    assert tv.eval_docs == 3  # va[0], va[1], va[2]
    assert tt.shared_contents == 1 and tt.leaked_eval_docs == 1  # D
    assert tt.eval_docs == 3
    # C and the NULL family straddle val|test (sentinel clusters NULLs)
    assert vt.shared_contents == 2 and vt.leaked_eval_docs == 2
    assert vt.leak_bp == 2 * sampling.LEAK_SCALE // 3


def test_split_leakage_audit_empty_and_clean(spark):
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    rows = sampling.split_leakage_audit(empty).collect()
    assert len(rows) == 3
    assert all(
        r.shared_contents == 0 and r.leaked_eval_docs == 0 and r.leak_bp == 0
        for r in rows
    )
    # all-unique corpus: totals populated, zero leakage
    docs = spark.createDataFrame(
        [(i, f"unique {i}") for i in range(500)], "doc_id bigint, text string"
    )
    rows = sampling.split_leakage_audit(docs).collect()
    assert sum(r.eval_docs for r in rows if r.pair.startswith("train|")) > 0
    assert all(r.shared_contents == 0 for r in rows)


def test_training_order_matches_python_twin_and_interleaves(spark):
    n = 1000
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
    out = sampling.training_order(docs).orderBy("global_pos").collect()
    # python twin: same LCG, same per-shard rank, same interleave
    key = {i: (i * sampling.ORDER_MUL + sampling.ORDER_ADD) % sampling.SAMPLE_MOD for i in range(n)}
    shard = {i: key[i] % sampling.N_ORDER_SHARDS for i in range(n)}
    expect = {}
    for s in range(sampling.N_ORDER_SHARDS):
        members = sorted(
            (i for i in range(n) if shard[i] == s), key=lambda i: (key[i], i)
        )
        for pos, i in enumerate(members, start=1):
            expect[i] = (s, pos, (pos - 1) * sampling.N_ORDER_SHARDS + s)
    got = {r.doc_id: (r.shard, r.pos_in_shard, r.global_pos) for r in out}
    assert got == expect
    # strict global order: unique positions, and consecutive positions
    # round-robin across shards (never two same-shard docs adjacent unless
    # a shard is exhausted)
    gps = [r.global_pos for r in out]
    assert len(set(gps)) == n
    # determinism under physical layout changes
    out2 = sampling.training_order(docs.repartition(13)).collect()
    assert {(r.doc_id, r.global_pos) for r in out2} == {
        (r.doc_id, r.global_pos) for r in out
    }


def test_training_order_is_mixed_not_id_ordered(spark):
    """The order must not degenerate to doc_id order: within the first 100
    positions, ids span the full range (hash mixing)."""
    n = 2000
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
    head = (
        sampling.training_order(docs)
        .orderBy("global_pos")
        .limit(100)
        .collect()
    )
    ids = [r.doc_id for r in head]
    assert max(ids) > n // 2 and min(ids) < n // 10
