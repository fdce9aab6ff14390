"""Spans around calls into ``dq`` plus readers of Spark's own bookkeeping.

Nothing here fires a Spark job. Spans are plain wall-clock intervals kept in
memory; Spark's numbers come from three places that already hold them:

* the ``AppStatusStore`` (jobs and stages with their task metrics),
* each action's ``QueryExecution`` (Catalyst phase times from
  ``tracker().phases()`` and the numeric ``SQLMetric`` values of the
  ``ArrowEvalPython`` node), delivered by a ``QueryExecutionListener``
  registered through the py4j callback server,
* ``/proc`` for resident memory and the host's steal time.

Listener events are asynchronous, so every reader first waits for the
listener bus to drain. Jobs are attributed to spans by submission time.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time

# dq functions wrapped while tracing: (module, function, layer, is_build).
# A build call returns a DataFrame (or an existence answer); the Spark jobs it
# starts before returning are the eager jobs of plan build.
WRAPPED = [
    ("dq.io", "read_path", "io", True),
    ("dq.io", "overwrite_table", "io", False),
    ("dq.io", "append_table", "io", False),
    ("dq.io", "partition_exists", "io", True),
    ("dq.pipeline", "discover_partitions", "pipeline", True),
    ("dq.pipeline", "enrich", "pipeline", True),
    ("dq.pipeline", "kept_projection", "pipeline", True),
    ("dq.pipeline", "lineage_metrics", "pipeline", True),
    ("dq.dedup", "minhash_near_dups", "dedup", True),
    ("dq.dedup", "minhash_candidates", "dedup", True),
    ("dq.dedup", "jaccard_pairs", "dedup", True),
    ("dq.dedup", "connected_components_star", "dedup", True),
    ("dq.volumetry", "collect_volumetria", "volumetry", True),
    ("dq.volumetry", "failure_row", "volumetry", True),
    ("dq.dupcheck", "dup_metric_row", "dupcheck", True),
    ("dq.dupcheck", "consolidate", "dupcheck", True),
    ("dq.remediate", "remediate_volumetria", "remediate", True),
]

# ArrowEvalPython SQL metric name -> per-layer metric name
PYTHON_METRICS = {
    "pythonBootTime": "python.start_s",
    "pythonInitTime": "python.init_s",
    "pythonTotalTime": "python.run_s",
    "pythonDataSent": "python.bytes_sent",
    "pythonDataReceived": "python.bytes_received",
}


class Tracer:
    """In-memory spans: (id, name, layer, build, parent, start, end)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def begin(self, name: str, layer: str, build: bool = False) -> dict:
        span = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "build": build,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.time()
        self._stack.pop()

    def call(self, name: str, layer: str, build: bool, fn, *args, **kwargs):
        span = self.begin(name, layer, build)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end(span)

    def install(self) -> None:
        """Wrap every WRAPPED function wherever a dq module bound it."""
        for mod_name, fname, layer, build in WRAPPED:
            orig = getattr(sys.modules[mod_name], fname)
            name = f"{mod_name[3:]}.{fname}"

            @functools.wraps(orig)
            def wrapper(*a, _o=orig, _n=name, _l=layer, _b=build, **k):
                return self.call(_n, _l, _b, _o, *a, **k)

            for mod in [m for n, m in sys.modules.items() if n == "dq" or n.startswith("dq.")]:
                for attr, val in list(vars(mod).items()):
                    if val is orig:
                        self._patched.append((mod, attr, orig))
                        setattr(mod, attr, wrapper)

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    def within(self, op: dict) -> list[dict]:
        return [s for s in self.spans if s["start"] >= op["start"] and s["end"] is not None and s["end"] <= op["end"]]

    def dump(self, path: str, meta: dict) -> None:
        """Write spans with their self time (duration minus the part of it
        covered by child spans)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            if s["end"] is None:
                continue
            dur = s["end"] - s["start"]
            out.append({**s, "dur_s": dur, "self_s": dur - union(kids.get(s["id"], []))})
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": out}, f, indent=1)


def union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkReader:
    """Status-store, QueryExecution and /proc readers for one session."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._spark = spark
        self._gw = sc._gateway
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._lock = threading.Lock()
        self.queries: list[dict] = []
        self._listener = None

    # -- status store ------------------------------------------------------
    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def job_ids(self) -> set[int]:
        self.drain()
        return set(self._spark.sparkContext.statusTracker().getJobIdsForGroup(None))

    def jobs(self, ids: set[int]) -> list[dict]:
        out = []
        it = self._store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            if j.jobId() not in ids:
                continue
            sub, comp = j.submissionTime(), j.completionTime()
            out.append(
                {
                    "id": j.jobId(),
                    "start": sub.get().getTime() / 1000 if sub.isDefined() else None,
                    "end": comp.get().getTime() / 1000 if comp.isDefined() else None,
                    "stages": _seq(j.stageIds()),
                }
            )
        return out

    def stages(self, ids: set[int]) -> list[dict]:
        """Task-metric totals of the given stage ids. ``stageList`` has no
        one-argument form over py4j: (statuses, details, withSummaries,
        unsortedQuantiles, taskStatus)."""
        quantiles = self._gw.new_array(self._gw.jvm.double, 0)
        out = []
        it = self._store.stageList(None, False, False, quantiles, None).iterator()
        while it.hasNext():
            s = it.next()
            if s.stageId() not in ids:
                continue
            out.append(
                {
                    "tasks": s.numCompleteTasks(),
                    "run_ms": s.executorRunTime(),
                    "cpu_ns": s.executorCpuTime(),
                    "gc_ms": s.jvmGcTime(),
                    "input": s.inputBytes(),
                    "output": s.outputBytes(),
                    "shuffle_write": s.shuffleWriteBytes(),
                    "shuffle_read": s.shuffleReadBytes(),
                    "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                }
            )
        return out

    def executions(self, since: float) -> list[tuple[float, float | None]]:
        """(start, end) seconds of the SQL executions submitted since
        ``since`` (epoch seconds); an execution spans an action's planning
        and all of its jobs."""
        out = []
        it = self._spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
        while it.hasNext():
            e = it.next()
            start = e.submissionTime() / 1000
            if start >= since:
                end = e.completionTime()
                out.append((start, end.get().getTime() / 1000 if end.isDefined() else None))
        return out

    # -- QueryExecution ----------------------------------------------------
    def listen(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self._gw)
        self._listener = _QueryListener(self)
        self._spark._jsparkSession.listenerManager().register(self._listener)

    def unlisten(self) -> None:
        if self._listener is not None:
            self.drain()
            self._spark._jsparkSession.listenerManager().unregister(self._listener)
            self._listener = None

    def take_queries(self) -> list[dict]:
        self.drain()
        with self._lock:
            out, self.queries = self.queries, []
        return out

    def _record(self, qe) -> None:
        phases = qe.tracker().phases()
        names = [k for k in ("analysis", "optimization", "planning") if phases.contains(k)]
        row = {k: 0 for k in ("analysis", "optimization", "planning")}
        row["intervals"] = []
        for k in names:
            ph = phases.apply(k)
            row[k] = ph.durationMs()
            row["intervals"].append((ph.startTimeMs() / 1000, ph.endTimeMs() / 1000))
        row["python"] = {}
        _python_metrics(qe.executedPlan(), row["python"])
        with self._lock:
            self.queries.append(row)

    # -- /proc --------------------------------------------------------------
    def peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM plus every process under it (the Python
        worker daemon and its forked workers)."""
        root = self._gw.proc.pid
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except OSError:
                    continue
                children.setdefault(ppid, []).append(int(entry))
        total_kb, todo = 0, [root]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
            except OSError:
                continue
        return total_kb / 1024


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the whole machine so far, from
    /proc/stat: the share of time a shared host's hypervisor took away."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _python_metrics(plan, acc: dict) -> None:
    """Numeric SQLMetric values of every ArrowEvalPython node, keyed by the
    metric's accumulator id so a cached plan shared by several actions is
    counted once (its accumulators keep growing; keep the latest value)."""
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return _python_metrics(plan.executedPlan(), acc)
    if cls.endswith("QueryStageExec"):
        return _python_metrics(plan.plan(), acc)
    if cls == "CommandResultExec":
        return _python_metrics(plan.commandPhysicalPlan(), acc)
    if cls == "InMemoryTableScanExec":
        return _python_metrics(plan.relation().cachedPlan(), acc)
    if plan.nodeName() == "ArrowEvalPython":
        it = plan.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in PYTHON_METRICS:
                m = kv._2()
                scale = {"timing": 1e-3, "nsTiming": 1e-9}.get(m.metricType(), 1.0)
                acc[m.id()] = (PYTHON_METRICS[kv._1()], m.value() * scale)
    for child in _seq(plan.children()):
        _python_metrics(child, acc)


class _QueryListener:
    """py4j implementation of org.apache.spark.sql.util.QueryExecutionListener."""

    def __init__(self, reader: SparkReader) -> None:
        self._reader = reader

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java name)
        self._reader._record(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self._reader._record(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def layer_metrics(
    wall: float, spans: list[dict], jobs: list[dict], executions: list, stages: list[dict], queries: list[dict], docs: int, cores: int
) -> dict:
    """Per-layer metrics of one traced operation of ``wall`` seconds;
    ``executions`` are the (start, end) seconds of its SQL executions."""
    m: dict[str, float] = {}
    for k in ("analysis", "optimization", "planning"):
        m[f"catalyst.{k}_ms"] = float(sum(q[k] for q in queries))

    by_id = {s["id"]: s for s in spans}

    def build_ancestor(s: dict) -> bool:
        p = s["parent"]
        while p is not None and p in by_id:
            if by_id[p]["build"]:
                return True
            p = by_id[p]["parent"]
        return False

    # build.s is what is left of the outermost build spans once the Spark
    # actions and jobs they started (eager work) and every Catalyst phase
    # are taken out: Python and py4j plan construction.
    builds = [s for s in spans if s["build"] and not build_ancestor(s)]
    actions = [(j["start"], j["end"]) for j in jobs if j["start"] is not None] + executions
    phases = [i for q in queries for i in q["intervals"]]

    def clipped(intervals: list, b: dict) -> list:
        return [(max(s, b["start"]), min(e or b["end"], b["end"])) for s, e in intervals if b["start"] <= s <= b["end"]]

    m["build.eager_jobs"] = float(sum(1 for j in jobs if j["start"] is not None and any(b["start"] <= j["start"] <= b["end"] for b in builds)))
    m["build.eager_job_s"] = sum(union(clipped(actions, b)) for b in builds)
    m["build.s"] = sum(b["end"] - b["start"] - union(clipped(actions + phases, b)) for b in builds)

    m["sched.jobs"] = float(len(jobs))
    m["sched.stages"] = float(sum(1 for s in stages if s["tasks"] > 0))
    m["sched.tasks"] = float(sum(s["tasks"] for s in stages))
    m["exec.run_s"] = sum(s["run_ms"] for s in stages) / 1e3
    m["exec.cpu_s"] = sum(s["cpu_ns"] for s in stages) / 1e9
    m["exec.gc_s"] = sum(s["gc_ms"] for s in stages) / 1e3
    m["exec.busy_frac"] = m["exec.run_s"] / (wall * cores)
    m["shuffle.write_bytes"] = float(sum(s["shuffle_write"] for s in stages))
    m["shuffle.read_bytes"] = float(sum(s["shuffle_read"] for s in stages))
    m["shuffle.bytes_per_doc"] = m["shuffle.write_bytes"] / docs
    m["shuffle.spill_bytes"] = float(sum(s["spill"] for s in stages))
    m["io.input_bytes"] = float(sum(s["input"] for s in stages))
    m["io.output_bytes"] = float(sum(s["output"] for s in stages))

    def span_s(name: str) -> float:
        # outermost spans of this name only, so recursion is not double counted
        return sum(
            s["end"] - s["start"]
            for s in spans
            if s["name"] == name and not (s["parent"] in by_id and by_id[s["parent"]]["name"] == name)
        )

    for fn in ("read_path", "overwrite_table", "append_table", "partition_exists"):
        m[f"io.{fn.replace('_table', '')}_s"] = span_s(f"io.{fn}")
    python: dict[int, tuple[str, float]] = {}
    for q in queries:
        python.update(q["python"])
    for name in PYTHON_METRICS.values():
        m[name] = sum(v for n, v in python.values() if n == name)
    m["python.bytes_per_doc"] = (m["python.bytes_sent"] + m["python.bytes_received"]) / docs
    m["dedup.candidates_s"] = span_s("dedup.minhash_candidates")
    m["dedup.verify_s"] = span_s("dedup.jaccard_pairs")
    m["dedup.cc_s"] = span_s("dedup.connected_components_star")
    cc = [s for s in spans if s["name"] == "dedup.connected_components_star"]
    m["dedup.cc_jobs"] = float(sum(1 for j in jobs if j["start"] is not None and any(c["start"] <= j["start"] <= c["end"] for c in cc)))
    m["volumetry.collect_s"] = span_s("volumetry.collect_volumetria")
    m["dupcheck.metric_s"] = span_s("dupcheck.dup_metric_row") + span_s("dupcheck.consolidate")
    m["remediate.pass_s"] = span_s("remediate.remediate_volumetria")
    return m
