"""Per-layer metrics of a traced run, from Spark's event log and the
bench-side spans.

SQL metrics are read the way the Spark UI reads them: every plan the
event log carries (the initial plan and each adaptive re-plan) maps
accumulator ids to (node, metric); task-end and driver accumulator
updates give the values. Jobs carry the job group of the span that
started them, and SQL executions inherit the group of their jobs.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = ("org.apache.spark.sql.execution.ui."
           "SparkListenerSQLAdaptiveExecutionUpdate")
SQL_DRIVER_ACCUM = ("org.apache.spark.sql.execution.ui."
                    "SparkListenerDriverAccumUpdates")


def read_events(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


class EventLog:
    def __init__(self, events: list[dict]) -> None:
        # accumulator id -> (execution id, node name, metric name, type)
        self.accums: dict[int, tuple[int, str, str, str]] = {}
        self.values: dict[int, float] = defaultdict(float)
        self.plans: dict[int, dict] = {}  # latest plan per execution
        self.exec_group: dict[int, str] = {}
        self.jobs: list[dict] = []
        self.tasks: list[dict] = []
        open_jobs: dict[int, dict] = {}
        for e in events:
            kind = e["Event"]
            if kind in (SQL_START, SQL_AQE):
                eid = e["executionId"]
                self.plans[eid] = e["sparkPlanInfo"]
                self._index_plan(eid, e["sparkPlanInfo"])
            elif kind == SQL_DRIVER_ACCUM:
                for aid, value in e["accumUpdates"]:
                    self.values[aid] += value
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                job = {"id": e["Job ID"], "start": e["Submission Time"] / 1000,
                       "end": None, "group": props.get("spark.jobGroup.id"),
                       "execution": props.get("spark.sql.execution.id")}
                open_jobs[job["id"]] = job
                self.jobs.append(job)
                if job["execution"] is not None and job["group"]:
                    self.exec_group.setdefault(int(job["execution"]),
                                               job["group"])
            elif kind == "SparkListenerJobEnd":
                open_jobs.pop(e["Job ID"])["end"] = e["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                self._task_end(e)

    def _index_plan(self, eid: int, node: dict) -> None:
        for m in node["metrics"]:
            self.accums[m["accumulatorId"]] = (
                eid, node["nodeName"], m["name"], m["metricType"]
            )
        for child in node["children"]:
            self._index_plan(eid, child)

    def _task_end(self, e: dict) -> None:
        info, metrics = e["Task Info"], e.get("Task Metrics") or {}
        for acc in info.get("Accumulables", []):
            if acc["ID"] in self.accums and "Update" in acc:
                self.values[acc["ID"]] += float(acc["Update"])
        self.tasks.append({
            "stage": (e["Stage ID"], e["Stage Attempt ID"]),
            "duration": (info["Finish Time"] - info["Launch Time"]) / 1000,
            "run": metrics.get("Executor Run Time", 0) / 1000,
            "cpu": metrics.get("Executor CPU Time", 0) / 1e9,
            "gc": metrics.get("JVM GC Time", 0) / 1000,
            "spill": metrics.get("Memory Bytes Spilled", 0)
            + metrics.get("Disk Bytes Spilled", 0),
            "ok": e["Task End Reason"]["Reason"] == "Success",
        })

    def node_metric(self, node_prefix: str, metric: str,
                    executions=None) -> float:
        """Sum of one metric over every plan node whose name starts with
        ``node_prefix``; times in seconds, sizes in bytes."""
        total = 0.0
        for aid, (eid, node, name, mtype) in self.accums.items():
            if (name == metric and node.startswith(node_prefix)
                    and (executions is None or eid in executions)):
                total += _scale(self.values.get(aid, 0.0), mtype)
        return total

    def codegen_above(self, node_name: str) -> float:
        """Duration of each WholeStageCodegen stage that consumes a
        ``node_name`` node's output within the same query stage."""
        found: list[int] = []

        def walk(node: dict, wscg: int | None) -> None:
            name = node["nodeName"]
            if name.startswith("WholeStageCodegen"):
                wscg = next(m["accumulatorId"] for m in node["metrics"]
                            if m["name"] == "duration")
            elif name in ("Exchange", "ShuffleQueryStage",
                          "BroadcastQueryStage", "TableCacheQueryStage"):
                wscg = None
            if name == node_name and wscg is not None:
                found.append(wscg)
            for child in node["children"]:
                walk(child, wscg)

        for plan in self.plans.values():
            walk(plan, None)
        return sum(self.values.get(a, 0.0) for a in set(found)) / 1000

    def executions_in(self, groups: set[str]) -> set[int]:
        return {eid for eid, g in self.exec_group.items() if g in groups}


def _scale(value: float, mtype: str) -> float:
    if mtype == "timing":
        return value / 1000
    if mtype == "nsTiming":
        return value / 1e9
    return value


def _union_len(intervals: list[tuple[float, float]]) -> float:
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


def _subtree(spans: list[dict], root_id: int) -> set[int]:
    ids = {root_id}
    for s in spans:  # parents precede children
        if s["parent"] in ids:
            ids.add(s["id"])
    return ids


def layer_metrics(log: EventLog, spans: list[dict], wall_s: float,
                  cores: int) -> dict[str, float]:
    """Per-layer figures of one traced run that took ``wall_s``; its
    root span is named ``app`` (see README.md)."""
    by_name: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)

    def dur(name: str) -> float:
        return sum((s["end"] - s["start"] for s in by_name.get(name, [])), 0.0)

    def groups(ids: set[int]) -> set[str]:
        return {f"span-{i}" for i in ids}

    m: dict[str, float] = {"session.get_spark_s": dur("session.get_spark")}

    m["scan.time_s"] = log.node_metric("Scan", "scan time")
    m["scan.bytes"] = log.node_metric("Scan", "size of files read")
    m["scan.rows"] = log.node_metric("Scan", "number of output rows")

    udf = "ArrowEvalPython"
    m["gates.udf.boot_s"] = (
        log.node_metric(udf, "time to start Python workers")
        + log.node_metric(udf, "time to initialize Python workers"))
    m["gates.udf.run_s"] = log.node_metric(udf, "time to run Python workers")
    m["gates.udf.sent_bytes"] = log.node_metric(
        udf, "data sent to Python workers")
    m["gates.udf.returned_bytes"] = log.node_metric(
        udf, "data returned from Python workers")
    m["gates.udf.rows"] = log.node_metric(udf, "number of output rows")
    m["exprs.wscg_s"] = log.codegen_above(udf)

    ckpt = by_name.get("checkpoint.run", [])
    ckpt_ids = set().union(*(_subtree(spans, s["id"]) for s in ckpt))
    ckpt_exec = log.executions_in(groups(ckpt_ids))
    writes = [s for s in spans
              if s["name"] == "writer.parquet" and s["parent"] in ckpt_ids]
    m["checkpoint.run_s"] = dur("checkpoint.run")
    m["checkpoint.write_s"] = sum(s["end"] - s["start"] for s in writes)
    # everything checkpoint.run does after its write is manifest work
    m["checkpoint.manifest_s"] = (
        max(c["end"] for c in ckpt) - max(s["end"] for s in writes)
        if writes else 0.0)
    m["checkpoint.shuffle_bytes"] = log.node_metric(
        "Exchange", "shuffle bytes written", ckpt_exec)
    m["checkpoint.files"] = log.node_metric(
        "Execute InsertIntoHadoopFsRelationCommand",
        "number of written files", ckpt_exec)

    # the dedup pass is every call main() makes after phase 1
    ckpt_end = max((s["end"] for s in ckpt), default=float("inf"))
    dedup_ids = {s["id"] for s in spans
                 if s["start"] >= ckpt_end and s["name"] != "session.stop"}
    m["dedup.exact_s"] = dur("dedup.exact")
    m["dedup.near_s"] = dur("dedup.near")
    m["dedup.shuffle_bytes"] = log.node_metric(
        "Exchange", "shuffle bytes written",
        log.executions_in(groups(dedup_ids)))

    ok = [t for t in log.tasks if t["ok"]]
    m["spark.task_run_s"] = sum(t["run"] for t in log.tasks)
    m["spark.task_cpu_s"] = sum(t["cpu"] for t in log.tasks)
    m["spark.gc_s"] = sum(t["gc"] for t in log.tasks)
    m["spark.spill_bytes"] = float(sum(t["spill"] for t in log.tasks))
    m["spark.tasks"] = float(len(log.tasks))
    m["spark.tasks_failed"] = float(len(log.tasks) - len(ok))
    m["spark.slot_busy"] = m["spark.task_run_s"] / (wall_s * cores)
    per_stage: dict[tuple, list[float]] = defaultdict(list)
    for t in log.tasks:
        per_stage[t["stage"]].append(t["duration"])
    heaviest = max(per_stage.values(), key=sum, default=[])
    median = statistics.median(heaviest) if heaviest else 0.0
    m["spark.stage_skew"] = max(heaviest) / median if median else 0.0

    # wall time that no span and no Spark job covers
    covered = [(s["start"], s["end"]) for s in spans if s["name"] != "app"]
    covered += [(j["start"], j["end"]) for j in log.jobs if j["end"]]
    m["trace.unattributed_share"] = max(
        0.0, 1.0 - _union_len(covered) / wall_s)
    m["trace.spans"] = float(len(spans))
    return m
