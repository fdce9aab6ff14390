"""The workloads: inputs, one operation, and the output checks.

``filter_run`` and ``dq_checks`` are the benchmark's workloads;
``NeardupCluster`` is filter_run's near-dup clustering stage, run and traced
only inside filter_run's traced run (see ``FilterRun.neardup``).

Each workload has
  ``prepare(work, seed, size)``  inputs and reference answers (no Spark),
  ``op(spark)``            one operation as a user runs it, returning
                           ``samples`` [(seconds, docs), ...] and what the
                           check needs,
  ``check(result)``        messages of the failed output checks, read back
                           with pyarrow/pandas, not Spark.
Output directories are fresh per operation and removed after the check.
"""

from __future__ import annotations

import os
import re
import shutil
import time

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from dq import dedup, dupcheck, extract, heuristics, io, pipeline, remediate, scrub, volumetry
from dq.langid import detect_lang_batch
from dq.perplexity import perplexity_batch
from dq.schema import DQ_FAILURES

import gen

# Base docs (planted copies come on top); dq_checks: (tables, days, rows).
SIZES = {
    "full": {"filter_run": 2000, "neardup_cluster": 600, "dq_checks": (2, 4, 300)},
    "smoke": {"filter_run": 300, "neardup_cluster": 200, "dq_checks": (1, 2, 60)},
}


def _fresh(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


class Workload:
    """A sweep is the operations that belong together; only DqChecks has
    more than one operation per sweep. ``min_ops`` measured operations run
    even when they outlast ``--seconds``."""

    min_ops = 1

    def at_boundary(self) -> bool:
        return True


class FilterRun(Workload):
    """``dq cli pipeline`` in-process: pipeline.run over a dt_foto-partitioned
    pages corpus with html, default PipelineConfig, resume off."""

    name = "filter_run"
    min_ops = 2  # the first warm operations are still warming up: median of two

    def prepare(self, work: str, seed: int, size: str) -> dict:
        self.work, self.seed, self.size = work, seed, size
        pdf = gen.pages(SIZES[size][self.name], seed)
        self.pages = os.path.join(work, "pages")
        self.out = os.path.join(work, "out")
        self.n_files = gen.write_pages(pdf, self.pages)
        self.docs = len(pdf)
        self.want = dict(zip(pdf["url"], _oracle_keep(pdf)))
        return {"docs": self.docs, "files": self.n_files}

    def neardup(self) -> "NeardupCluster":
        """The near-dup clustering stage of the nightly job, on a corpus of
        its own; prepared on demand, since only traced runs use it."""
        nd = NeardupCluster()
        nd.prepare(self.work, self.seed, self.size)
        return nd

    def op(self, spark) -> dict:
        t0 = time.perf_counter()
        lineage = pipeline.run(
            spark, io.read_path(spark, self.pages), self.out, resume=False, source=self.pages
        )
        rows = [r.asDict() for r in lineage.collect()]
        return {"samples": [(time.perf_counter() - t0, self.docs)], "lineage": rows}

    def check(self, res: dict) -> list:
        bad = []
        rows = res["lineage"]
        for r in rows:
            if r["n_kept"] + r["n_dropped"] != r["n_input"]:
                bad.append(f"partition {r['dt_foto']}: kept+dropped != input")
            if r["n_extraction_ok"] != r["n_input"]:
                bad.append(f"partition {r['dt_foto']}: extraction mismatch")
        if sum(r["n_input"] for r in rows) != self.docs:
            bad.append("sum(n_input) != corpus size")
        kept = pq.read_table(os.path.join(self.out, "kept"), columns=["url"]).column("url").to_pylist()
        if len(kept) != sum(r["n_kept"] for r in rows):
            bad.append("kept rows != sum(n_kept)")
        got = set(kept)
        want = {u for u, k in self.want.items() if k}
        tp = len(got & want)
        f1 = 2 * tp / max(len(got) + len(want), 1)
        if f1 < 0.99:
            bad.append(f"keep F1 {f1:.4f} < 0.99")
        _fresh(self.out)
        return bad

    def ladder(self, spark) -> dict:
        """Cumulative stage rungs, each forced with a noop sink; a rung's
        marginal cost is its time minus the previous rung's."""
        base = pipeline.with_partition(io.read_path(spark, self.pages))
        ext = base.withColumn("text_extracted", extract.extract_text_col(F.col("html"))).withColumn(
            "extraction_ok", F.col("text_extracted").eqNullSafe(F.col("text"))
        )
        heur = heuristics.with_heuristic_metrics(ext).withColumn("keep_heuristic", heuristics.keep_expr())
        nlp = heur.withColumn("_nlp", pipeline.nlp_udf(F.col("text")))
        scr = nlp.withColumn("text_scrubbed", scrub.scrub_col(F.col("text")))
        rungs = [("scan", lambda: base), ("extract", lambda: ext), ("heuristics", lambda: heur),
                 ("nlp", lambda: nlp), ("scrub", lambda: scr),
                 ("dedup", lambda: pipeline.enrich(io.read_path(spark, self.pages)))]
        out = {}
        for name, build in rungs:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            out[f"ladder.{name}_s"] = time.perf_counter() - t0
        spark.catalog.clearCache()
        return out


def _oracle_keep(pdf: pd.DataFrame) -> list[bool]:
    """Pure-pandas twins of the keep decision (heuristics, langid,
    perplexity, exact-dup survivor = smallest url per text)."""
    text = pdf["text"]
    keep = heuristics.heuristic_metrics_pdf(text)["keep_heuristic"].to_numpy()
    keep &= (detect_lang_batch(text)["lang_pred"] == pipeline.TARGET_LANG).to_numpy()
    keep &= (perplexity_batch(text) <= pipeline.MAX_PERPLEXITY).to_numpy()
    keep &= (pdf["url"] == pdf.groupby("text")["url"].transform("min")).to_numpy()
    return keep.tolist()


_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _shingles(text: str) -> set[str]:
    toks = [t for t in _WS.split(text.lower()) if t]
    if len(toks) < 3:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


class NeardupCluster(Workload):
    """MinHash LSH near-dup pairs, then star connected components; collects
    the component labels. No UDF, no write: the shuffle-heavy, many-stage,
    localCheckpoint-round path that pipeline.run bypasses."""

    name = "neardup_cluster"
    threshold = 0.8

    def prepare(self, work: str, seed: int, size: str) -> dict:
        pdf = gen.pages(SIZES[size][self.name], seed + 7919)  # not filter_run's corpus
        self.pages = os.path.join(work, "neardup")
        self.n_files = gen.write_pages(pdf, self.pages, partitioned=False)
        self.docs = len(pdf)
        self.texts = dict(zip(pdf["url"], pdf["text"]))
        self.copies = [(u, src) for u, src in zip(pdf["url"], pdf["copy_of"]) if src is not None]
        self.first = None
        return {"docs": self.docs, "files": self.n_files}

    def frames(self, spark):
        pages = io.read_path(spark, self.pages)
        return pages, dedup.minhash_near_dups(pages, id_col="url", threshold=self.threshold)

    def op(self, spark) -> dict:
        t0 = time.perf_counter()
        _, pairs = self.frames(spark)
        labels = dict(dedup.connected_components_star(pairs).collect())
        return {"samples": [(time.perf_counter() - t0, self.docs)], "labels": labels}

    def check(self, res: dict) -> list:
        labels = res["labels"]
        bad = [f"copy {c} not with {s}" for c, s in self.copies if c not in labels or labels[c] != labels.get(s)]
        if self.first is None:
            self.first = labels
        elif labels != self.first:
            bad.append("labels differ between operations")
        return bad[:5]

    def check_pairs(self, spark) -> tuple[int, list]:
        """Every emitted pair's Jaccard, recomputed from the texts, meets
        the threshold and matches the engine's value. Fires its own job,
        so it runs outside any timed or traced operation."""
        _, pairs = self.frames(spark)
        rows = pairs.collect()
        bad = []
        for a, b, jac in rows:
            sa, sb = _shingles(self.texts[a]), _shingles(self.texts[b])
            exact = len(sa & sb) / len(sa | sb)
            if exact < self.threshold or abs(exact - jac) > 1e-9:
                bad.append(f"pair {a} {b}: jaccard {jac} vs {exact}")
        return len(rows), bad[:5]

    def candidates(self, spark) -> int:
        pages, _ = self.frames(spark)
        return dedup.minhash_candidates(pages, id_col="url").count()


BANCO = "lake"
PEXPR = remediate.default_partition_expr("dt_foto", "1")
TODAY = "20240307"  # weekly window [today-7, today-2] covers every lake day


class DqChecks(Workload):
    """Per-(table, partition) checks as the CLI runs them, in-process. One
    operation = one check: volumetria then duplicidade of one partition. A
    sweep visits every (table, day) of the lake with fresh history and
    failure tables, and its last check also runs the remediation pass."""

    name = "dq_checks"

    def prepare(self, work: str, seed: int, size: str) -> dict:
        tables, days, rows = SIZES[size][self.name]
        self.lake = os.path.join(work, "lake")
        self.truth = gen.lake(self.lake, tables, days, rows, seed)
        self.units = [(t, d) for t in self.truth["tables"] for d in gen.DAYS[:days]]
        self.pos = 0
        self.state = os.path.join(work, "state")
        self.docs = sum(n for n, _ in self.truth["present"].values())
        return {"tables": tables, "days": days, "rows": self.docs}

    def _paths(self) -> tuple[str, str, str]:
        return tuple(os.path.join(self.state, n) for n in ("volumetria", "duplicidade", "falhas"))

    def at_boundary(self) -> bool:
        return self.pos == 0

    def op(self, spark) -> dict:
        if self.pos == 0:
            for p in self._paths():
                _fresh(p)
        hist_v, hist_d, fails = self._paths()
        tabela, day = self.units[self.pos]
        self.pos = (self.pos + 1) % len(self.units)  # advance first: a raise must not stall the sweep
        data = os.path.join(self.lake, tabela)
        t0 = time.perf_counter()
        self._volumetria(spark, data, tabela, day, hist_v, fails)
        self._duplicidade(spark, data, tabela, day, hist_d, fails)
        n = self.truth["present"].get((tabela, day), (0, 0))[0]
        res = {"samples": [(time.perf_counter() - t0, n)], "unit": (tabela, day)}
        if self.pos == 0:
            backfill = {t: os.path.join(self.lake, f"{t}_backfill") for t in self.truth["tables"]}
            new_hist, new_fail = remediate.remediate_volumetria(
                spark,
                io.read_path(spark, fails, default_schema=DQ_FAILURES),
                io.read_path(spark, hist_v, default_schema=volumetry.DQ_VOLUMETRIA),
                lambda banco, tabela: io.read_path(spark, backfill[tabela]),
                mode="semanal",
                today=TODAY,
            )
            io.overwrite_table(new_hist, hist_v)
            io.overwrite_table(new_fail, fails)
            res["remediated"] = True
        return res

    @staticmethod
    def _volumetria(spark, data, tabela, day, hist_v, fails) -> None:
        monitored = io.read_path(spark, data)
        history = io.read_path(spark, hist_v, default_schema=volumetry.DQ_VOLUMETRIA)
        new_hist, failure = volumetry.collect_volumetria(
            spark, monitored, history, BANCO, tabela, day, PEXPR, campo="dt_foto", formato="1"
        )
        if failure is not None:
            io.append_table(failure, fails)
        else:
            io.overwrite_table(new_hist, hist_v)

    @staticmethod
    def _duplicidade(spark, data, tabela, day, hist_d, fails) -> None:
        monitored = io.read_path(spark, data)
        if not io.partition_exists(monitored, PEXPR, day):
            io.append_table(volumetry.failure_row(spark, BANCO, tabela, day, "dt_foto", "1"), fails)
            return
        aux = dupcheck.dup_metric_row(monitored, BANCO, tabela, day, partition_expr=PEXPR)
        hist = io.read_path(spark, hist_d, default_schema=dupcheck.DQ_DUPLICADOS)
        io.overwrite_table(dupcheck.consolidate(hist, aux), hist_d)

    def check(self, res: dict) -> list:
        """The check's own rows against the pandas counts; after the
        remediation pass, the whole sweep's tables."""
        hist_v, hist_d, fails = self._paths()

        def read(path: str) -> pd.DataFrame:
            return pq.read_table(path).to_pandas() if os.path.exists(path) else pd.DataFrame(
                columns=["tabela", "dt_foto", "fonte", "qtde_registros", "qtde1", "qtde2", "diferenca", "status"]
            )

        vol, dup, fal = read(hist_v), read(hist_d), read(fails)
        vol_n = {(r.tabela, r.dt_foto, r.fonte): r.qtde_registros for r in vol.itertuples()}
        dup_n = {(r.tabela, r.dt_foto): (r.qtde1, r.qtde2, r.diferenca) for r in dup.itertuples()}
        fal_keys = list(zip(fal.tabela, fal.dt_foto, fal.status))
        tabela, day = res["unit"]
        want = self.truth["present"].get((tabela, day))
        bad = []
        if want is not None:
            if vol_n.get((tabela, day, "2")) != want[0] or dup_n.get((tabela, day)) != (want[0], want[1], want[0] - want[1]):
                bad.append(f"{tabela}/{day}: history != pandas count / count - count distinct")
        elif not res.get("remediated") and fal_keys.count((tabela, day, 0)) != 2:
            bad.append(f"{tabela}/{day}: expected one volumetria and one duplicidade failure row")
        if res.get("remediated"):
            planted = {(t, d) for t, (d, _) in self.truth["missing"].items()}
            if sorted(fal_keys) != sorted((t, d, 1) for t, d in planted):
                bad.append("failure rows are not exactly the planted partitions, healed")
            for t, (d, (n, _)) in self.truth["missing"].items():
                if vol_n.get((t, d, "3")) != n:
                    bad.append(f"{t}/{d}: remediated count != back-fill count")
            if len(vol) != len(self.units) or len(dup) != len(self.truth["present"]):
                bad.append("history row count")
            res["failure_rows"] = len(fal)
        return bad


WORKLOADS = {w.name: w for w in (FilterRun, DqChecks)}
