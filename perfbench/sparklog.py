"""Spark-side layer metrics, read from Spark's own event log.

A traced run launches Spark with `spark.eventLog.enabled`, so the log holds
every SQL execution's physical plan (the start event and each adaptive
re-plan, with the SQLMetric accumulator ids of every node), every task's
launch/finish time and per-task accumulator updates, and the driver-side
metric updates. Summing the updates of the accumulators that belong to a
plan node gives that node's SQLMetrics for exactly the executions that
ran, including the one a noop `save()` creates internally.

Everything is attributed to a pass by time: a pass owns the SQL
executions, jobs and tasks that started inside its span.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics

SALT_EXCHANGE = ("hashpartitioning(conv_id", "REPARTITION_BY_NUM")
PYTHON_TIMES = ("time to start Python workers",
                "time to initialize Python workers",
                "time to run Python workers")


def read_events(eventlog_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(eventlog_dir, "**", "events_*"),
                                 recursive=True)):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _short(event: str) -> str:
    return event.rsplit(".", 1)[-1]


def _walk(node: dict):
    yield node
    for c in node.get("children", []):
        yield from _walk(c)


class EventLog:
    def __init__(self, events: list[dict]):
        self.executions: dict = {}   # id -> {"start": ms, "nodes": {acc: node}}
        self.driver_acc: dict = {}   # acc id -> summed driver-side value
        self.job_starts: list = []   # submission times (ms)
        self.stage_rdds: dict = {}   # stage id -> rdd names
        self.tasks: list = []        # {"stage", "launch", "finish", "acc"}
        for e in events:
            kind = _short(e["Event"])
            if kind in ("SparkListenerSQLExecutionStart",
                        "SparkListenerSQLAdaptiveExecutionUpdate"):
                ex = self.executions.setdefault(
                    e["executionId"], {"start": e.get("time"), "nodes": {}})
                if ex["start"] is None:
                    ex["start"] = e.get("time")
                for node in _walk(e["sparkPlanInfo"]):
                    for m in node["metrics"]:
                        ex["nodes"][m["accumulatorId"]] = (
                            node["nodeName"], node["simpleString"],
                            m["name"], m["metricType"])
            elif kind == "SparkListenerDriverAccumUpdates":
                for acc, val in e["accumUpdates"]:
                    self.driver_acc[acc] = self.driver_acc.get(acc, 0) + val
            elif kind == "SparkListenerJobStart":
                self.job_starts.append(e["Submission Time"])
            elif kind == "SparkListenerStageSubmitted":
                si = e["Stage Info"]
                self.stage_rdds[si["Stage ID"]] = [
                    r["Name"] for r in si.get("RDD Info", [])]
            elif kind == "SparkListenerTaskEnd":
                ti = e["Task Info"]
                acc = {}
                for a in ti.get("Accumulables", []):
                    try:
                        acc[a["ID"]] = int(a["Update"])
                    except (KeyError, TypeError, ValueError):
                        continue
                self.tasks.append({
                    "stage": e["Stage ID"], "launch": ti["Launch Time"],
                    "finish": ti["Finish Time"], "acc": acc})

    def window(self, t0: float, t1: float) -> "PassLog":
        """Everything that started in [t0, t1] (epoch seconds)."""
        lo, hi = t0 * 1000.0, t1 * 1000.0
        nodes: dict = {}
        for ex in self.executions.values():
            if ex["start"] is not None and lo <= ex["start"] <= hi:
                nodes.update(ex["nodes"])
        tasks = [t for t in self.tasks if lo <= t["launch"] <= hi]
        jobs = sum(1 for t in self.job_starts if lo <= t <= hi)
        return PassLog(nodes, tasks, jobs, self.driver_acc, self.stage_rdds)


class PassLog:
    def __init__(self, nodes, tasks, jobs, driver_acc, stage_rdds):
        self.nodes, self.tasks, self.jobs = nodes, tasks, jobs
        self.stage_rdds = stage_rdds
        self.totals: dict = {}
        for t in tasks:
            for acc, v in t["acc"].items():
                if acc in nodes:
                    self.totals[acc] = self.totals.get(acc, 0) + v
        for acc, v in driver_acc.items():
            if acc in nodes:
                self.totals[acc] = self.totals.get(acc, 0) + v

    def metric(self, node_pred, metric_name: str) -> float:
        """Sum of one SQLMetric over the nodes matching node_pred, in the
        metric's own unit (ms for timing, ns for nsTiming, bytes, count)."""
        return sum(self.totals.get(acc, 0)
                   for acc, (name, simple, m, _t) in self.nodes.items()
                   if m == metric_name and node_pred(name, simple))

    def accs(self, node_pred, metric_name: str) -> set:
        return {acc for acc, (name, simple, m, _t) in self.nodes.items()
                if m == metric_name and node_pred(name, simple)}


def _is_kernel(name, _simple):
    return name in ("MapInArrow", "PythonMapInArrow")


def _is_scan(name, _simple):
    return name.startswith("Scan ")


def _is_salt(name, simple):
    return name == "Exchange" and all(s in simple for s in SALT_EXCHANGE)


def _is_broadcast(name, _simple):
    return name == "BroadcastExchange"


def pass_metrics(p: PassLog, slots: int, max_records: int) -> dict:
    """Scan, salt, task and Arrow-boundary metrics of one pass."""
    rows_accs = p.accs(_is_kernel, "number of output rows")
    kernel = [t for t in p.tasks if rows_accs & t["acc"].keys()]
    durs = sorted((t["finish"] - t["launch"]) / 1000.0 for t in kernel)
    p50 = statistics.median(durs) if durs else 0.0
    span = ((max(t["finish"] for t in kernel) - min(t["launch"] for t in kernel))
            / 1000.0) if kernel else 0.0
    rows = [sum(v for a, v in t["acc"].items() if a in rows_accs)
            for t in kernel]
    py_accs = set().union(*(p.accs(_is_kernel, n) for n in PYTHON_TIMES))
    # Spark's three Python timings of a task laid end to end, minus the
    # task's own wall time: what they report from before the task started
    outside = sum(max(0, sum(v for a, v in t["acc"].items() if a in py_accs)
                      - (t["finish"] - t["launch"])) for t in kernel) / 1e3
    batches = sum(math.ceil(r / max_records) for r in rows if r > 0)
    scan_stages = {s for s, names in p.stage_rdds.items()
                   if "FileScanRDD" in names}
    salt_records = p.metric(_is_salt, "shuffle records written")
    return {
        "scan.time_s": p.metric(_is_scan, "scan time") / 1e3,
        "scan.bytes": p.metric(_is_scan, "size of files read"),
        "scan.partitions": sum(1 for t in p.tasks if t["stage"] in scan_stages),
        "salt.applied": 1 if salt_records > 0 else 0,
        "salt.shuffle_bytes": p.metric(_is_salt, "shuffle bytes written"),
        "salt.shuffle_write_s": p.metric(_is_salt, "shuffle write time") / 1e9,
        "tasks.count": len(kernel),
        "tasks.p50_s": p50,
        "tasks.max_s": durs[-1] if durs else 0.0,
        "tasks.skew": durs[-1] / p50 if p50 else 0.0,
        "tasks.busy_frac": sum(durs) / (slots * span) if span else 0.0,
        "arrow.boot_s": p.metric(_is_kernel, "time to start Python workers") / 1e3,
        "arrow.init_s": p.metric(_is_kernel,
                                 "time to initialize Python workers") / 1e3,
        "arrow.python_s": p.metric(_is_kernel, "time to run Python workers") / 1e3,
        "arrow.init_outside_task_s": outside,
        "arrow.bytes_sent": p.metric(_is_kernel, "data sent to Python workers"),
        "arrow.bytes_received": p.metric(_is_kernel,
                                         "data returned from Python workers"),
        "arrow.batches": batches,
        "arrow.rows_per_batch": sum(rows) / batches if batches else 0.0,
        "refs.broadcast_bytes": p.metric(_is_broadcast, "data size"),
        "spark.jobs": p.jobs,
        "kernel.task_rows": sorted(rows, reverse=True),
    }


def task_spans(p: PassLog) -> list[tuple[str, float, float]]:
    return [(f"task stage {t['stage']}", t["launch"] / 1000.0,
             t["finish"] / 1000.0) for t in p.tasks]
