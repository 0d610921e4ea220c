"""Tracing for the benchmark's traced runs.

``EventLog`` attaches Spark's own event logger to a running session
around every other job, so traced and untraced jobs alternate in one
session and their difference is the tracing overhead. ``read_events``
and ``per_layer`` turn the log into spans and per-layer counts:

    run -> call (one benchmark job) -> SQL execution -> stage

Plan nodes are attributed to the repo module that owns them (the CSV
scan to ``sources.text``, the warehouse write to ``sources.bigquery``,
Arrow UDFs to ``python`` and, by UDF name, to ``extensions.similarity``,
and so on). A node counts only if one of its metrics was updated, so a
cached subtree that was not recomputed does not count again.
"""

from __future__ import annotations

import json
import os
import statistics
from contextlib import contextmanager

_SQL = "org.apache.spark.sql.execution.ui."
_PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
             "MapInPandas", "MapInArrow", "FlatMapCoGroupsInPandas", "AggregateInPandas")
_SIMILARITY_UDFS = ("_cos(", "_assign(")


class EventLog:
    """Spark's own event logger, attached to a live SparkContext only
    around the jobs that are traced, so traced and untraced jobs can
    alternate in one session.

    The event logger is a private Spark class; it is reached through the
    JVM gateway so that tracing needs no change to the session the
    program builds."""

    def __init__(self, spark, log_dir: str, name: str):
        os.makedirs(log_dir, exist_ok=True)
        self.path = os.path.join(log_dir, name)
        if os.path.exists(self.path):
            os.remove(self.path)
        jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        conf = (
            self._sc.conf().clone()
            .set("spark.eventLog.logBlockUpdates.enabled", "true")
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            name, jvm.scala.Option.apply(None), jvm.java.net.URI("file:" + log_dir),
            conf, self._sc.hadoopConfiguration(),
        )
        self._listener.start()

    @contextmanager
    def attached(self):
        """Log the events of the enclosed jobs. The bus is drained on
        both sides so that no other job's events leak in."""
        self._sc.listenerBus().waitUntilEmpty()
        self._sc.addSparkListener(self._listener)
        try:
            yield
        finally:
            self._sc.listenerBus().waitUntilEmpty()
            self._sc.removeSparkListener(self._listener)

    def close(self) -> str:
        self._listener.stop()
        return self.path


# --- parsing -------------------------------------------------------------


class Events:
    """The parts of one event log the per-layer metrics need. Times are
    epoch seconds."""

    def __init__(self):
        self.executions: dict[int, dict] = {}
        self.jobs: dict[int, dict] = {}
        self.stages: dict[tuple[int, int], dict] = {}
        self.accum: dict[int, float] = {}
        self.blocks: list[tuple[float, str, int]] = []


def read_events(path: str) -> Events:
    ev = Events()
    stage_job: dict[int, int] = {}
    now = 0.0
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == _SQL + "SparkListenerSQLExecutionStart":
                now = e["time"] / 1000
                ev.executions[e["executionId"]] = {
                    "id": e["executionId"], "root": e.get("rootExecutionId", e["executionId"]),
                    "start": now, "end": now, "plan": e["sparkPlanInfo"],
                }
            elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                if e["executionId"] in ev.executions:
                    ev.executions[e["executionId"]]["plan"] = e["sparkPlanInfo"]
            elif kind == _SQL + "SparkListenerSQLExecutionEnd":
                now = e["time"] / 1000
                if e["executionId"] in ev.executions:
                    ev.executions[e["executionId"]]["end"] = now
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                for acc_id, value in e["accumUpdates"]:
                    ev.accum[acc_id] = ev.accum.get(acc_id, 0) + float(value)
            elif kind == "SparkListenerJobStart":
                now = e["Submission Time"] / 1000
                props = e.get("Properties") or {}
                exec_id = props.get("spark.sql.execution.id")
                ev.jobs[e["Job ID"]] = {
                    "start": now, "end": now,
                    "execution": int(exec_id) if exec_id is not None else None,
                }
                for sid in e["Stage IDs"]:
                    stage_job[sid] = e["Job ID"]
            elif kind == "SparkListenerJobEnd":
                now = e["Completion Time"] / 1000
                if e["Job ID"] in ev.jobs:
                    ev.jobs[e["Job ID"]]["end"] = now
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                now = si.get("Completion Time", now * 1000) / 1000
                stage = ev.stages.setdefault(
                    (si["Stage ID"], si["Stage Attempt ID"]),
                    {"tasks": [], "job": stage_job.get(si["Stage ID"])},
                )
                stage["start"] = si.get("Submission Time", now * 1000) / 1000
                stage["end"] = now
                stage["accums"] = set()
                for a in si["Accumulables"]:
                    if a["Name"].startswith("internal."):
                        continue
                    stage["accums"].add(a["ID"])
                    ev.accum[a["ID"]] = ev.accum.get(a["ID"], 0) + float(a["Value"])
            elif kind == "SparkListenerTaskEnd":
                info = e["Task Info"]
                now = info["Finish Time"] / 1000
                m = e.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics", {})
                sw = m.get("Shuffle Write Metrics", {})
                ev.stages.setdefault(
                    (e["Stage ID"], e["Stage Attempt ID"]),
                    {"tasks": [], "job": stage_job.get(e["Stage ID"])},
                )["tasks"].append({
                    "failed": bool(info.get("Failed")) or info.get("Killed", False),
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "spill_bytes": m.get("Disk Bytes Spilled", 0),
                    "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
                    "read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
                    "write_bytes": sw.get("Shuffle Bytes Written", 0),
                    "write_records": sw.get("Shuffle Records Written", 0),
                    "write_ns": sw.get("Shuffle Write Time", 0),
                })
            elif kind == "SparkListenerBlockUpdated":
                # Block updates carry no timestamp: place each one at the
                # time of the last timed event before it.
                b = e["Block Updated Info"]
                if b["Block ID"].startswith("rdd_"):
                    ev.blocks.append((now, b["Block ID"], b["Memory Size"] + b["Disk Size"]))
    return ev


def _nodes(node: dict):
    yield node
    for c in node["children"]:
        yield from _nodes(c)


# --- spans ---------------------------------------------------------------


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time of each span: its duration minus the part of its
    interval covered by the union of its children."""
    children: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _within(t: float, start: float, end: float) -> bool:
    return start <= t <= end


def build_spans(ev: Events, calls: list[dict], run_id: str) -> list[dict]:
    """Spans for the traced phase. ``calls`` hold the epoch ``start`` and
    ``end`` of each benchmark job."""
    spans = [{
        "id": "run", "name": "run", "kind": "run", "parent": None, "run_id": run_id,
        "start": min(c["start"] for c in calls), "end": max(c["end"] for c in calls),
    }]
    for c in calls:
        spans.append({"id": f"call{c['index']}", "name": f"call {c['index']}", "kind": "call",
                      "parent": "run", "run_id": run_id, "start": c["start"], "end": c["end"]})

    def call_of(t: float) -> str | None:
        for c in calls:
            if _within(t, c["start"], c["end"]):
                return f"call{c['index']}"
        return None

    for x in ev.executions.values():
        if x["root"] != x["id"] and x["root"] in ev.executions:
            parent = f"sql{x['root']}"
        else:
            parent = call_of(x["start"])
        if parent is None:
            continue
        spans.append({"id": f"sql{x['id']}", "name": f"sql {x['id']}", "kind": "sql",
                      "parent": parent, "run_id": run_id, "start": x["start"], "end": x["end"]})
    known = {s["id"] for s in spans}
    for (sid, attempt), st in ev.stages.items():
        if "start" not in st:
            continue
        job = ev.jobs.get(st["job"]) if st["job"] is not None else None
        parent = None
        if job is not None and job["execution"] is not None and f"sql{job['execution']}" in known:
            parent = f"sql{job['execution']}"
        else:
            parent = call_of(st["start"])
        if parent is None:
            continue
        spans.append({"id": f"stage{sid}.{attempt}", "name": f"stage {sid}", "kind": "stage",
                      "parent": parent, "run_id": run_id, "start": st["start"], "end": st["end"]})
    return spans


# --- per-layer metrics ----------------------------------------------------


def _executed(node: dict, ev: Events) -> bool:
    return any(m["accumulatorId"] in ev.accum for m in node["metrics"])


def _metric(node: dict, name: str, ev: Events) -> float:
    for m in node["metrics"]:
        if m["name"] == name:
            v = ev.accum.get(m["accumulatorId"], 0.0)
            if m["metricType"] == "timing":
                return v / 1000
            if m["metricType"] == "nsTiming":
                return v / 1e9
            return v
    return 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def call_metrics(ev: Events, call: dict, cores: int, warehouse: str | None) -> dict[str, float]:
    """Per-layer counts of one traced benchmark call."""
    start, end = call["start"], call["end"]
    execs = [x for x in ev.executions.values() if _within(x["start"], start, end)]
    job_ids = {j for j, job in ev.jobs.items() if _within(job["start"], start, end)}
    stages = [st for st in ev.stages.values() if st["job"] in job_ids]
    tasks = [t for st in stages for t in st["tasks"]]
    m: dict[str, float] = {}

    csv_scans, writes, py_nodes, sim_nodes = [], [], [], []
    agg_s = partial_rows = scanned_rows = 0.0
    exchanges = cache_scans = 0
    sim_verified = sim_kept = 0.0
    scan_accums: set[int] = set()
    for x in execs:
        nodes = [n for n in _nodes(x["plan"]) if _executed(n, ev)]
        has_csv = any(n["nodeName"].startswith("Scan csv") for n in nodes)
        for n in nodes:
            name, desc = n["nodeName"], n["simpleString"]
            if name.startswith("Scan csv"):
                csv_scans.append(n)
                scan_accums.update(mm["accumulatorId"] for mm in n["metrics"])
                scanned_rows += _metric(n, "number of output rows", ev)
            elif name == "Execute InsertIntoHadoopFsRelationCommand" and warehouse and warehouse in desc:
                writes.append(n)
            elif name == "HashAggregate" and has_csv:
                agg_s += _metric(n, "time in aggregation build", ev)
                if "partial_" in desc:
                    partial_rows += _metric(n, "number of output rows", ev)
            elif name == "Exchange":
                exchanges += 1
            elif name == "InMemoryTableScan":
                cache_scans += 1
            elif name in _PY_NODES:
                py_nodes.append(n)
                if any(u in desc for u in _SIMILARITY_UDFS):
                    sim_nodes.append(n)
            elif name == "Filter" and "pythonUDF" in desc:
                below = n["children"][0] if n["children"] else None
                while below is not None and below["nodeName"] not in _PY_NODES and len(below["children"]) == 1:
                    below = below["children"][0]
                if below is not None and "_cos(" in below["simpleString"]:
                    sim_kept += _metric(n, "number of output rows", ev)
                    sim_verified += _metric(below, "number of output rows", ev)

    scan_stages = [st for st in stages if st.get("accums", set()) & scan_accums]
    m["sources.text.csv_scans"] = len(csv_scans)
    m["sources.text.bytes_read"] = sum(t["input_bytes"] for st in scan_stages for t in st["tasks"])
    m["sources.text.scan_task_s"] = sum(t["run_ms"] for st in scan_stages for t in st["tasks"]) / 1000
    m["sources.bigquery.rows_written"] = sum(_metric(n, "number of output rows", ev) for n in writes)
    m["sources.bigquery.bytes_written"] = sum(_metric(n, "written output", ev) for n in writes)
    m["sources.bigquery.write_s"] = sum(
        _metric(n, "task commit time", ev) + _metric(n, "job commit time", ev) for n in writes
    )
    m["workload.group_sum.agg_s"] = agg_s
    m["workload.group_sum.combine_ratio"] = _ratio(partial_rows, scanned_rows)

    skews = []
    for st in stages:
        reads = sorted(t["read_bytes"] for t in st["tasks"])
        if len(reads) >= 2 and statistics.median(reads) > 0:
            skews.append(reads[-1] / statistics.median(reads))
    m["shuffle.exchanges"] = exchanges
    m["shuffle.bytes_written"] = sum(t["write_bytes"] for t in tasks)
    m["shuffle.records_written"] = sum(t["write_records"] for t in tasks)
    m["shuffle.write_s"] = sum(t["write_ns"] for t in tasks) / 1e9
    m["shuffle.fetch_wait_s"] = sum(t["fetch_wait_ms"] for t in tasks) / 1000
    m["shuffle.skew"] = max(skews, default=0.0)

    m["python.arrow_passes"] = len(py_nodes)
    m["python.rows"] = sum(_metric(n, "number of output rows", ev) for n in py_nodes)
    m["python.bytes_sent"] = sum(_metric(n, "data sent to Python workers", ev) for n in py_nodes)
    m["python.bytes_received"] = sum(_metric(n, "data returned from Python workers", ev) for n in py_nodes)
    m["python.udf_s"] = sum(_metric(n, "time to run Python workers", ev) for n in py_nodes)

    entry_end = call.get("entry_end", end) if call.get("lazy_entry") else start
    construct_jobs = [j for j in job_ids if ev.jobs[j]["start"] <= entry_end]
    m["caching.construct_s"] = entry_end - start
    m["caching.construct_jobs"] = len(construct_jobs)
    m["caching.cached_mb"] = sum(
        size for t, _bid, size in ev.blocks if _within(t, start, end) and size > 0
    ) / 1e6
    m["caching.cache_scans"] = cache_scans

    kmeans_execs = [
        x for x in execs if x["start"] <= entry_end
        and any("_assign(" in n["simpleString"] for n in _nodes(x["plan"]))
    ]
    m["extensions.similarity.kmeans_s"] = sum(x["end"] - x["start"] for x in kmeans_execs)
    m["extensions.similarity.pairs_verified"] = sim_verified
    m["extensions.similarity.pairs_kept"] = sim_kept
    m["extensions.similarity.verify_yield"] = _ratio(sim_kept, sim_verified)
    m["extensions.similarity.arrow_bytes"] = sum(
        _metric(n, "data sent to Python workers", ev) + _metric(n, "data returned from Python workers", ev)
        for n in sim_nodes
    )

    cpu_s = sum(t["cpu_ns"] for t in tasks) / 1e9
    m["exec.tasks"] = len(tasks)
    m["exec.failed_tasks"] = sum(t["failed"] for t in tasks)
    m["exec.run_s"] = sum(t["run_ms"] for t in tasks) / 1000
    m["exec.cpu_s"] = cpu_s
    m["exec.gc_s"] = sum(t["gc_ms"] for t in tasks) / 1000
    m["exec.spill_mb"] = sum(t["spill_bytes"] for t in tasks) / 1e6
    m["exec.core_util"] = _ratio(cpu_s, (end - start) * cores)
    return m


def per_layer(ev: Events, traced: list[dict], untraced: list[dict], session: dict[str, float],
              cores: int, warehouse: str | None, run_id: str) -> tuple[dict[str, float], list[dict]]:
    """Every per-layer metric of a traced run: the median of each count
    over the traced calls, the self time of each span kind per call, the
    session start-up times and the tracing overhead (traced against
    untraced calls); plus the spans themselves."""
    per_call = [call_metrics(ev, c, cores, warehouse) for c in traced]
    out = {k: statistics.median(pc[k] for pc in per_call) for k in per_call[0]}
    spans = build_spans(ev, traced, run_id)
    selfs = self_times(spans)
    for kind in ("call", "sql", "stage"):
        total = sum(selfs[s["id"]] for s in spans if s["kind"] == kind)
        out[f"trace.{kind}_self_s"] = total / len(traced)
    out["trace.spans"] = len(spans)
    out["trace.job_s"] = statistics.median(c["end"] - c["start"] for c in traced)
    out["trace.untraced_job_s"] = statistics.median(c["end"] - c["start"] for c in untraced)
    out["trace.overhead"] = out["trace.job_s"] / out["trace.untraced_job_s"] - 1
    out["session.jvm_start_s"] = session["jvm_start_s"]
    out["session.worker_warm_s"] = session["worker_warm_s"]
    out["session.first_job_s"] = session["first_job_s"]
    return out, spans
