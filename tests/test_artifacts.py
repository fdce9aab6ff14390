"""Model-artifact seam: broadcast-file weights for the UDF tier."""

import pytest

from dq import artifacts


def test_default_artifact_roundtrip_matches_inmodule_udf(spark, pages, tmp_path):
    """enrich(model_artifact=<default weights file>) reproduces the
    in-module UDF tier: identical lang_pred and ppl per url, identical keep
    set — swapping in the serialized default is a no-op, so the seam cannot
    move the flagship CORRECTNESS rows."""
    from dq.pipeline import PipelineConfig, enrich

    path = str(tmp_path / "model.json")
    artifacts.save_artifact(path)
    cols = ["url", "lang_pred", "ppl", "keep"]
    base = {
        r.url: (r.lang_pred, r.ppl, r.keep)
        for r in enrich(pages).select(cols).collect()
    }
    via = {
        r.url: (r.lang_pred, r.ppl, r.keep)
        for r in enrich(pages, config=PipelineConfig(model_artifact=path))
        .select(cols)
        .collect()
    }
    assert via == base and base


def _swapped_artifact(path: str) -> tuple[str, str]:
    """Save the default weights with two language profiles cross-wired and
    an unk-only perplexity table (ppl = e^50 for every doc); returns the
    two swapped languages."""
    art = artifacts.default_artifact()
    profs = art["langid"]["profiles"]
    a, b = sorted(profs)[:2]
    profs[a], profs[b] = profs[b], profs[a]
    art["perplexity"]["bi"] = {}
    art["perplexity"]["uni"] = {}
    art["perplexity"]["unk"] = -50.0  # exp(50) >> any threshold
    artifacts.save_artifact(path, art)
    return a, b


def test_swapped_artifact_changes_predictions_without_code_edits(
    spark, pages, tmp_path
):
    """A different weights FILE changes behavior with zero code edits:
    cross-wiring two language profiles flips those predictions, and an
    unk-heavy perplexity table drives every doc over the ppl gate."""
    from pyspark.sql import functions as F

    from dq.pipeline import PipelineConfig, enrich

    path = str(tmp_path / "swapped.json")
    a, b = _swapped_artifact(path)

    base = enrich(pages).select("url", "lang_pred", "keep_ppl")
    swapped = enrich(pages, config=PipelineConfig(model_artifact=path)).select(
        "url", F.col("lang_pred").alias("lang_swapped"), "keep_ppl"
    )
    # every doc the default model called `a` is now called `b` (and vice
    # versa); other languages untouched
    joined = (
        base.withColumnRenamed("keep_ppl", "_kb")
        .join(swapped, "url")
        .collect()
    )
    assert joined
    for r in joined:
        expect = {a: b, b: a}.get(r.lang_pred, r.lang_pred)
        assert r.lang_swapped == expect, (r.url, r.lang_pred, r.lang_swapped)
        assert r.keep_ppl is False  # unk-only LM: ppl = e^50 for every doc


def test_stream_swapped_artifact_changes_predictions_without_code_edits(
    spark, pages, tmp_path
):
    """The streaming twin: run_stream decides with the configured weights
    file, so its kept rows carry the predictions batch enrich makes with
    the same config. Lang and ppl gates are open, so the swapped languages
    reach the output."""
    from dq import streaming
    from dq.pipeline import PipelineConfig, enrich

    path = str(tmp_path / "swapped.json")
    a, b = _swapped_artifact(path)
    cfg = PipelineConfig(model_artifact=path, target_lang=None, max_perplexity=float("inf"))
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    pages.drop("html").write.parquet(src)
    streaming.run_stream(spark, src, out, str(tmp_path / "ck"), config=cfg).awaitTermination(120)

    cols = ["url", "text", "lang_pred"]
    batch = enrich(pages.drop("html"), verify_extraction=False, config=cfg)
    want = set(map(tuple, batch.selectExpr("url", "text_scrubbed AS text", "lang_pred").collect()))
    have = set(map(tuple, spark.read.parquet(out).select(cols).collect()))
    assert have and have <= want
    assert {r[2] for r in have} & {a, b}  # the swap reaches the kept rows


def test_artifact_format_and_profile_validation(tmp_path):
    import json

    bad = str(tmp_path / "bad.json")
    with open(bad, "w") as f:
        json.dump({"format": 99}, f)
    with pytest.raises(ValueError, match="format"):
        artifacts.load_artifact(bad)

    art = artifacts.default_artifact()
    only_one = sorted(art["langid"]["profiles"])[0]
    art["langid"]["profiles"] = {only_one: art["langid"]["profiles"][only_one]}
    one = str(tmp_path / "one.json")
    artifacts.save_artifact(one, art)
    with pytest.raises(ValueError, match="2 language profiles"):
        artifacts.load_artifact(one)


def test_artifact_udf_memoized_per_file_version(spark, tmp_path):
    """One broadcast per (SparkContext, file version): repeated enrich()
    calls (per-partition fan-out) must NOT ship a fresh copy of the model
    artifact per call — same path+content returns the SAME udf object;
    rewriting the file (new mtime) invalidates the memo."""
    import time

    p = str(tmp_path / "a.json")
    artifacts.save_artifact(p)
    u1 = artifacts.nlp_udf_from_artifact(spark, p)
    u2 = artifacts.nlp_udf_from_artifact(spark, p)
    assert u1 is u2
    time.sleep(0.01)  # ensure mtime_ns moves even on coarse clocks
    artifacts.save_artifact(p)
    u3 = artifacts.nlp_udf_from_artifact(spark, p)
    assert u3 is not u1
