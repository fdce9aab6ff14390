#!/usr/bin/env python3
"""Seeded benchmark of the dq engine.

    python3 perfbench/run.py --workload filter_run --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all          # every workload, one fresh process each
    python3 perfbench/run.py --smoke                 # tiny inputs, one session, traced, checks on (~2 min)

One process runs one workload closed-loop from a single driver thread on
local[4]: generate the inputs from ``--seed``, start the SparkSession, run
the cold first operation (both timed as ``setup_s``), then repeat the
operation for ``--seconds``, checking every output. ``--trace 1`` instead
alternates untraced and traced operations and reports the per-layer
metrics; on filter_run it also runs the stage ladder and traces the
near-dup clustering stage. The last stdout line is one JSON object: correct, attempted,
failed and metrics (BENCHMARK.json's end_to_end names untraced, its
per_layer names traced). Metric names and units are read from
BENCHMARK.json at the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
MASTER = f"local[{CORES}]"
DRIVER_MEMORY = "1g"  # the host has 15 GB and is shared; dq defaults to 16g
WORKLOAD_NAMES = ["filter_run", "dq_checks"]


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOAD_NAMES + ["all"], default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="every workload once, tiny inputs, traced")
    ap.set_defaults(size="full")
    return ap.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {kind: {m["name"]: m["unit"] for m in spec[kind]} for kind in ("end_to_end", "per_layer")}


def configure_env(work: str) -> dict:
    """Run hygiene, set before the JVM starts so it and its Python workers
    inherit it: dq importable from any working directory, bounded driver
    memory, and every scratch file inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["DQ_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["DQ_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    sys.path[:0] = [ROOT, HERE]
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        # keep every job and stage of a run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


class Tally:
    """Operations attempted and failed, with the failure messages."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def add(self, bad: list[str], op: bool = True) -> None:
        """Record one operation (or, with ``op=False``, a run-level check of
        operations already counted) and the messages of its failed checks."""
        self.attempted += op
        if bad:
            self.failed = min(self.failed + 1, max(self.attempted, 1))
        self.messages += bad


def run_op(spark, w, tally: Tally) -> tuple[float, dict | None]:
    """One operation and its output check; an exception counts as failed."""
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    try:
        res = w.op(spark)
    except Exception as e:  # noqa: BLE001 - a failed operation is a result
        tally.add([f"{type(e).__name__}: {e}"])
        return time.perf_counter() - t0, None
    wall = time.perf_counter() - t0
    tally.add(w.check(res))
    return wall, res


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM (it exits when its stdin closes)
    and wait for it; its Python workers end with it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = gw.proc
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM is being torn down anyway
        pass
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def start_session(name: str, conf: dict):
    from dq.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{name}", master=MASTER, extra_conf=conf)
    return spark, time.perf_counter() - t0


def bench(args, spec: dict, work: str, conf: dict) -> tuple[dict, list[str]]:
    """One workload in this process, on a session of its own."""
    import workloads

    w = workloads.WORKLOADS[args.workload]()
    t0 = time.perf_counter()
    info = w.prepare(work, args.seed, args.size)
    generate_s = time.perf_counter() - t0
    spark, session_s = start_session(w.name, conf)
    try:
        return measure(args, spec, w, spark, info, generate_s, session_s)
    finally:
        stop_spark(spark)


def smoke(args, spec: dict, work: str, conf: dict) -> int:
    """Every workload at its smoke size on one session: the cold operation,
    then one untraced and one traced sweep, all outputs checked."""
    import workloads

    args = argparse.Namespace(**{**vars(args), "size": "smoke", "seconds": 0.0, "trace": 1})
    spark, session_s = start_session("smoke", conf)
    ok = True
    try:
        for name in WORKLOAD_NAMES:
            w = workloads.WORKLOADS[name]()
            info = w.prepare(os.path.join(work, name), args.seed, "smoke")
            result, lines = measure(args, spec, w, spark, info, 0.0, session_s)
            lines.insert(0, f"{name}: {'ok' if result['correct'] else 'FAILED'}")
            print("\n".join(lines), flush=True)
            ok &= result["correct"]
    finally:
        stop_spark(spark)
    print(json.dumps({"smoke": "ok" if ok else "failed"}))
    return 0 if ok else 1


def measure(args, spec: dict, w, spark, info: dict, generate_s: float, session_s: float) -> tuple[dict, list[str]]:
    import tracing as tr

    tally = Tally()
    reader = tr.SparkReader(spark)
    steal0, total0 = tr.cpu_jiffies()
    cold_s, _ = run_op(spark, w, tally)
    setup_s = session_s + cold_s
    settings = {
        "master": MASTER,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": DRIVER_MEMORY,
        "seed": args.seed,
        **info,
    }
    if args.trace:
        metrics = traced(args, w, spark, reader, tally, settings)
        metrics["bench.generate_s"] = generate_s
        units = spec["per_layer"]
        lines = []
    else:
        metrics, lines = untraced(args, w, spark, tally)
        metrics["setup_s"] = setup_s
        metrics["peak_rss_mb"] = reader.peak_rss_mb()
        lines.append(_line(w.name, "setup_s", setup_s, "s", 1))
        lines.append(_line(w.name, "peak_rss_mb", metrics["peak_rss_mb"], "MB", 1))
        units = spec["end_to_end"]
    steal1, total1 = tr.cpu_jiffies()
    timing = {"generate_s": generate_s, "session_s": session_s, "cold_op_s": cold_s,
              "steal_frac": (steal1 - steal0) / max(total1 - total0, 1)}
    lines.append(_line(w.name, "failed_frac", tally.failed / max(tally.attempted, 1), "ratio", tally.attempted))
    lines.insert(0, "# " + " ".join(f"{k}={v}" for k, v in settings.items()))
    lines.insert(1, "# timing " + " ".join(f"{k}={v:.2f}" for k, v in timing.items()))
    lines += [f"# failure: {m}" for m in tally.messages[:10]]
    result = {
        "correct": tally.failed == 0,
        "attempted": max(tally.attempted, 1),
        "failed": tally.failed,
        "metrics": {n: {"value": float(metrics.get(n, 0.0)), "unit": u} for n, u in units.items()},
    }
    return result, lines


def _line(workload: str, name: str, value: float, unit: str, n: int) -> str:
    return f"{workload:16s} {name:14s} {value:12.4f} {unit:8s} n={n}"


def untraced(args, w, spark, tally: Tally) -> tuple[dict, list[str]]:
    samples: list[tuple[float, int]] = []
    walls: list[float] = []
    start = time.perf_counter()
    while len(walls) < w.min_ops or time.perf_counter() - start < args.seconds or not w.at_boundary():
        wall, res = run_op(spark, w, tally)
        walls.append(wall)
        if res is not None:
            samples.extend(res["samples"])
    # A check of a missing partition is a probe plus a failure-row append,
    # a different operation that reads no docs: it counts toward the rates
    # but is not a latency sample.
    lat = [s for s, d in samples if d]
    if not lat:
        raise RuntimeError("no operation succeeded")
    m = {
        "docs_per_s": sum(d for _, d in samples) / sum(walls),
        "ops_per_s": len(samples) / sum(walls),
        "op_p50_ms": statistics.median(lat) * 1e3,
    }
    n = len(lat)
    if w.name == "dq_checks":
        p90 = statistics.quantiles(lat, n=10, method="inclusive")[-1] * 1e3 if n >= 2 else lat[0] * 1e3
        lines = [
            _line(w.name, "checks_per_s", m["ops_per_s"], "checks/s", len(samples)),
            _line(w.name, "check_p50_ms", m["op_p50_ms"], "ms", n),
            _line(w.name, "check_p90_ms", p90, "ms", n) + ("" if n >= 100 else "  (under 100 samples: indicative only)"),
        ]
    else:
        lines = [_line(w.name, "docs_per_s", m["docs_per_s"], "docs/s", n)]
    return m, lines


def traced_op(spark, w, reader, tracer, tally: Tally) -> tuple[float, dict | None, dict, int]:
    """One operation with spans and the query listener on: its wall, its
    result, its per-layer metrics and the number of Spark jobs it fired."""
    import tracing as tr

    spark.catalog.clearCache()  # before the job-id snapshot: unpersist fires no job
    tracer.install()
    reader.listen()
    ids0 = reader.job_ids()
    reader.take_queries()
    op = tracer.begin("op", "bench")
    try:
        wall, res = run_op(spark, w, tally)
    finally:
        tracer.end(op)
        ids = reader.job_ids() - ids0
        queries = reader.take_queries()
        reader.unlisten()
        tracer.uninstall()
    jobs = reader.jobs(ids)
    stages = reader.stages({s for j in jobs for s in j["stages"]})
    row = tr.layer_metrics(wall, tracer.within(op), jobs, reader.executions(op["start"]), stages, queries, w.docs, CORES)
    row["op.wall_s"] = wall
    return wall, res, row, len(jobs)


def traced(args, w, spark, reader, tally: Tally, settings: dict) -> dict:
    """Alternate untraced and traced operations; per-layer metrics are
    medians over the traced ones. Both kinds must fire the same jobs."""
    import tracing as tr

    tracer = tr.Tracer()
    # one warm-up operation, then finish the sweep: the steepest part of the
    # JVM warm-up would otherwise slow the untraced side of the first pair
    run_op(spark, w, tally)
    while not w.at_boundary():
        run_op(spark, w, tally)
    plain, walls, rows, jobs_plain, jobs_traced = [], [], [], [], []
    start = time.perf_counter()
    while not rows or time.perf_counter() - start < args.seconds:
        while True:  # one untraced sweep
            spark.catalog.clearCache()  # before the job-id snapshot: unpersist fires no job
            ids0 = reader.job_ids()
            wall, _ = run_op(spark, w, tally)
            plain.append(wall)
            jobs_plain.append(len(reader.job_ids() - ids0))
            if w.at_boundary():
                break
        while True:  # the same sweep traced
            wall, res, row, n_jobs = traced_op(spark, w, reader, tracer, tally)
            walls.append(wall)
            jobs_traced.append(n_jobs)
            row["checks.failure_rows"] = float((res or {}).get("failure_rows", 0))
            rows.append(row)
            if w.at_boundary():
                break
    if jobs_plain != jobs_traced:
        tally.add([f"jobs untraced {jobs_plain} != traced {jobs_traced}"], op=False)
    # once-per-sweep work (the remediation pass) is read from the one
    # operation that did it, the rest as a median over operations
    once = {"remediate.pass_s", "checks.failure_rows"}
    metrics = {k: (max if k in once else statistics.median)(r[k] for r in rows) for k in rows[0]}
    metrics["trace.overhead_frac"] = statistics.median(walls) / statistics.median(plain) - 1
    neardup_row = None
    if w.name == "filter_run":
        metrics.update(w.ladder(spark))
        metrics["ladder.run_s"] = statistics.median(plain)
        neardup_row = neardup_stage(spark, w, reader, tracer, tally)
        metrics.update({k: v for k, v in neardup_row.items() if k.startswith("dedup.")})
    settings["jobs_per_op"] = jobs_plain[0]
    tracer.dump(
        os.path.join(HERE, "out", f"trace-{w.name}-seed{args.seed}.json"),
        {**settings, "per_op": rows, "untraced_walls": plain, "neardup": neardup_row, "metrics": metrics},
    )
    return metrics


def neardup_stage(spark, w, reader, tracer, tally: Tally) -> dict:
    """The dq.dedup layer: filter_run's near-dup clustering stage
    (minhash_near_dups + star connected components) on a corpus of its own,
    once cold, then once traced; its output is checked like an operation's,
    and every emitted pair's Jaccard is re-checked outside the timed part."""
    nd = w.neardup()
    run_op(spark, nd, tally)
    wall, _, row, _ = traced_op(spark, nd, reader, tracer, tally)
    n_pairs, bad = nd.check_pairs(spark)
    tally.add(bad, op=False)
    cands = nd.candidates(spark)
    row.update({
        "dedup.candidate_pairs": cands,
        "dedup.verified_pairs": n_pairs,
        "dedup.pair_yield": n_pairs / max(cands, 1),
        "dedup.shuffle_bytes_per_doc": row["shuffle.bytes_per_doc"],
        "dedup.wall_s": wall,
    })
    return row


def run_all(args) -> int:
    """Each workload in its own fresh process, one after the other; relay
    their report lines and sum their results."""
    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    codes = []
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        done = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        codes.append(done.returncode)
        lines = done.stdout.strip().splitlines()
        if done.returncode != 0 or not lines:
            print(f"{name}: exited {done.returncode}")
            summary["correct"] = False
            continue
        res = json.loads(lines[-1])
        print("\n".join(lines[:-1]), flush=True)
        summary["correct"] &= res["correct"]
        summary["attempted"] += res["attempted"]
        summary["failed"] += res["failed"]
        summary["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(summary))
    return 0 if summary["correct"] and not any(codes) else 1


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if args.workload == "all" and not args.smoke:
        return run_all(args)
    if not os.path.isdir(os.path.join(ROOT, "dq")):
        print(f"dq package not found under {ROOT}", file=sys.stderr)
        return 2
    spec = load_spec()
    work = os.path.join(HERE, ".work", f"{'smoke' if args.smoke else args.workload}-{args.seed}-{os.getpid()}")
    conf = configure_env(work)
    try:
        if args.smoke:
            return smoke(args, spec, work, conf)
        result, lines = bench(args, spec, work, conf)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("\n".join(lines))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
