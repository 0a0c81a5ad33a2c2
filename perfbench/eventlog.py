"""Read a Spark event log and attribute its counters to the engine's layers.

Spark's event log (``spark.eventLog.enabled``, uncompressed, not rolling)
is one JSON record per line. This module keeps what the per-layer metrics
need:

- jobs: submission/completion time, stage ids, SQL execution id;
- tasks: stage id, task CPU, GC time, output bytes/records, and the SQL
  metric (accumulator) updates each task reported;
- SQL plans: the final physical plan of every execution (after adaptive
  re-planning), whose operators name the accumulators they own.

Operators are attributed to layers by what they are (``classify``):

- ``Scan parquet`` reading the feed directory → ``changes``; reading the
  table root → ``merge.snapshot`` (counted per scan node);
- ``ArrowEvalPython`` running ``_normalize_series`` → ``normalize``,
  running ``_in_key_set`` → ``merge.probe``; ``MapInArrow`` → ``lake.fold``;
- ``Exchange``: range partitioning or the ``__range_tok`` route →
  ``rangewrite``; the prefilter's ``__kh`` distinct → ``merge.prefilter``;
  under a join → ``merge.smj``; under a window over the batch alone →
  ``dedup``, over a union with table rows → ``merge.window`` (the streaming
  versioned merge);
- ``Sort`` inherits the layer of the operator it feeds (its spill).
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."
_JOINS = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin")


@dataclass
class EventLog:
    jobs: dict[int, dict] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    tasks: list[dict] = field(default_factory=list)
    plans: dict[int, dict] = field(default_factory=dict)
    exec_start: dict[int, float] = field(default_factory=dict)
    # SQL metrics the driver sets (e.g. a file scan's "size of files read")
    driver_acc: dict[int, list[tuple[int, float]]] = field(default_factory=dict)


def load(path: str) -> EventLog:
    log = EventLog()
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                exec_id = props.get("spark.sql.execution.id")
                jid = ev["Job ID"]
                log.jobs[jid] = {
                    "id": jid,
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": list(ev.get("Stage IDs") or []),
                    "exec": int(exec_id) if exec_id is not None else None,
                }
                for sid in ev.get("Stage IDs") or []:
                    log.stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(ev["Job ID"])
                if job is not None:
                    job["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                out = m.get("Output Metrics") or {}
                log.tasks.append(
                    {
                        "stage": ev["Stage ID"],
                        "result": ev.get("Task Type") == "ResultTask",
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "out_bytes": out.get("Bytes Written", 0),
                        "out_rows": out.get("Records Written", 0),
                        "acc": [
                            (a["ID"], _num(a.get("Update")))
                            for a in info.get("Accumulables") or []
                            if _num(a.get("Update")) is not None
                        ],
                    }
                )
            elif kind in (_SQL + "SparkListenerSQLExecutionStart", _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                log.plans[ev["executionId"]] = ev["sparkPlanInfo"]
                if "time" in ev:
                    log.exec_start[ev["executionId"]] = ev["time"] / 1000.0
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                log.driver_acc.setdefault(ev["executionId"], []).extend(
                    (int(a), float(v)) for a, v in ev.get("accumUpdates") or []
                )
    return log


def _num(v) -> float | None:
    """SQL metric updates are logged as numeric strings."""
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


# metric types → (scale to base unit)
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0, "average": 1.0}


def classify(plan: dict, feed_dir: str, table_dir: str):
    """Yield (node, layer) for every attributable operator of one plan."""

    def has_table_scan(node) -> bool:
        if node["nodeName"].startswith("Scan parquet") and table_dir in _location(node):
            return True
        return any(has_table_scan(c) for c in node["children"])

    def walk(node, ctx):
        name, text = node["nodeName"], node["simpleString"]
        layer = None
        if name.startswith("Scan parquet"):
            loc = _location(node)
            layer = "changes" if feed_dir in loc else "merge.snapshot" if table_dir in loc else None
        elif name == "ArrowEvalPython":
            layer = (
                "normalize" if "_normalize_series" in text
                else "merge.probe" if "_in_key_set" in text
                else None
            )
        elif "MapInArrow" in name:
            layer = "lake.fold"
        elif name == "Exchange":
            if "rangepartitioning" in text or "__range_tok" in text:
                layer = "rangewrite"
            elif "__kh" in text:
                layer = "merge.prefilter"
            elif "SinglePartition" in text:
                layer = None
            else:
                layer = ctx
        elif name == "Window":
            ctx = "merge.window" if has_table_scan(node) else "dedup"
        elif name in _JOINS:
            ctx = "merge.smj"
        elif name in ("WriteFiles",):
            ctx = "rangewrite"
        elif name == "Sort":
            layer = ctx
        if layer is not None:
            yield node, layer
        if name == "Exchange":
            ctx = layer  # operators below an exchange feed it
        for child in node["children"]:
            yield from walk(child, ctx)

    yield from walk(plan, None)


def _location(node) -> str:
    return (node.get("metadata") or {}).get("Location", "")


@dataclass
class Counters:
    """Counters of one set of jobs (e.g. the timed ingest window)."""

    jobs: list[dict]
    metric: dict[tuple[str, str], float]  # (layer, metric name) → base units
    scan_nodes: int  # table FileScan operators across the jobs' executions
    cpu_s: float
    gc_s: float
    out_bytes: float
    write_task_rows: list[int]  # output rows per write task


def counters(log: EventLog, lo: float, hi: float, feed_dir: str, table_dir: str) -> Counters:
    """Counters of the jobs submitted in [lo, hi].

    Accumulator ids are unique across the application, so operators are
    looked up in every plan: a streaming micro-batch's feed scan sits in the
    stream's own execution, not in the foreachBatch action that runs it."""
    jobs = [j for j in log.jobs.values() if lo <= j["submit"] <= hi]
    job_ids = {j["id"] for j in jobs}
    acc_layer: dict[int, tuple[str, str, float]] = {}
    scan_nodes = 0
    execs = {j["exec"] for j in jobs if j["exec"] is not None}
    for exec_id, plan in log.plans.items():
        seen: set[int] = set()
        for node, layer in classify(plan, feed_dir, table_dir):
            ids = [m["accumulatorId"] for m in node["metrics"]]
            if ids and ids[0] in seen:
                continue  # the same operator reached twice (cached subtree)
            seen.update(ids)
            if layer == "merge.snapshot" and exec_id in execs:
                scan_nodes += 1
            for m in node["metrics"]:
                acc_layer.setdefault(
                    m["accumulatorId"], (layer, m["name"], _SCALE.get(m["metricType"], 1.0))
                )
    metric: dict[tuple[str, str], float] = defaultdict(float)
    cpu = gc = out = 0.0
    write_rows: list[int] = []
    for t in log.tasks:
        if log.stage_job.get(t["stage"]) not in job_ids:
            continue
        cpu += t["cpu_s"]
        gc += t["gc_s"]
        out += t["out_bytes"]
        if t["out_rows"]:
            write_rows.append(t["out_rows"])
        for acc_id, upd in t["acc"]:
            hit = acc_layer.get(acc_id)
            if hit is not None:
                metric[(hit[0], hit[1])] += upd * hit[2]
    for exec_id, updates in log.driver_acc.items():
        if not lo <= log.exec_start.get(exec_id, -1.0) <= hi:
            continue
        for acc_id, val in updates:
            hit = acc_layer.get(acc_id)
            if hit is not None:
                metric[(hit[0], hit[1])] += val * hit[2]
    return Counters(jobs, dict(metric), scan_nodes, cpu, gc, out, write_rows)


def result_jobs_without_output(log: EventLog, job_ids) -> int:
    """Jobs that end in a result stage yet write no output — inside a write
    these are the range partitioner's sampling jobs and broadcast builds."""
    by_job: dict[int, list[dict]] = defaultdict(list)
    for t in log.tasks:
        by_job[log.stage_job.get(t["stage"])].append(t)
    n = 0
    for j in job_ids:
        ts = by_job.get(j, [])
        if any(t["result"] for t in ts) and not any(t["out_rows"] for t in ts):
            n += 1
    return n
