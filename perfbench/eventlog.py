"""Fold a Spark event log into per-span, per-layer metrics (stdlib only).

The log must be uncompressed and non-rolling (``spark.eventLog.compress=
false``, ``spark.eventLog.rolling.enabled=false``): one JSON event per line.

Jobs are attributed to benchmark spans (see ``child.Tracer``): a job whose
``spark.jobGroup.id`` names a span belongs to that span; any other job
(micro-batch jobs run under the streaming query's own group) belongs to
the innermost span whose interval contains its submission time. SQL metric
accumulator ids are mapped to the physical-plan node that owns them through
``sparkPlanInfo`` (initial and adaptive plans), and their values are
normalized by metric type: ``timing`` is ms, ``nsTiming`` is ns, ``size``
is bytes.
"""

from __future__ import annotations

import json
import re
import statistics

_SQL = "org.apache.spark.sql.execution.ui."
# physical nodes that hand rows to a Python worker
PYTHON_NODE = re.compile(r"Pandas|Python|MapInArrow|PythonUDTF")
# normalizes a SQL metric value to seconds (timings) or bytes/counts
_TO_BASE = {"timing": 1e-3, "nsTiming": 1e-9}


def load(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _walk_plan(info: dict, out: dict[int, tuple[str, str, str]]) -> None:
    node = info.get("nodeName", "")
    for m in info.get("metrics", []):
        out[int(m["accumulatorId"])] = (node, m["name"], m.get("metricType", "sum"))
    for child in info.get("children", []):
        _walk_plan(child, out)


def _count_nodes(info: dict, pattern: re.Pattern) -> int:
    own = 1 if pattern.search(info.get("nodeName", "")) else 0
    return own + sum(_count_nodes(c, pattern) for c in info.get("children", []))


def metric_value(metric_type: str, raw: float) -> float:
    """A SQL metric update in base units: seconds for timings, else as is."""
    return raw * _TO_BASE.get(metric_type, 1.0)


class Log:
    """Jobs, stages, tasks and SQL plans of one event log, indexed."""

    def __init__(self, events: list[dict]) -> None:
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.accums: dict[int, tuple[str, str, str]] = {}
        self.plans: dict[int, dict] = {}  # execution id -> latest plan
        for ev in events:
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = {
                    "id": ev["Job ID"],
                    "start": ev["Submission Time"],
                    "end": ev["Submission Time"],
                    "group": props.get("spark.jobGroup.id"),
                    "batch": props.get("streaming.sql.batchId"),
                    "execution": props.get("spark.sql.execution.id"),
                }
                self.jobs[job["id"]] = job
                for sid in ev.get("Stage IDs", []):
                    self.stage_job[sid] = job["id"]
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in self.jobs:
                    self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                self.tasks.append(ev)
            elif kind in (
                _SQL + "SparkListenerSQLExecutionStart",
                _SQL + "SparkListenerSQLAdaptiveExecutionUpdate",
            ):
                plan = ev["sparkPlanInfo"]
                self.plans[int(ev["executionId"])] = plan
                _walk_plan(plan, self.accums)
            elif kind == _SQL + "SparkListenerSQLAdaptiveSQLMetricUpdates":
                for m in ev.get("sqlPlanMetrics", []):
                    self.accums.setdefault(
                        int(m["accumulatorId"]), ("", m["name"], m.get("metricType", "sum"))
                    )

    def assign(self, spans: list[dict]) -> dict[int, str]:
        """Map each job id to the id of the span it ran under."""
        by_id = {s["id"]: s for s in spans}
        owner: dict[int, str] = {}
        for job in self.jobs.values():
            if job["group"] in by_id:
                owner[job["id"]] = job["group"]
                continue
            inside = [
                s for s in spans if s["start_ms"] <= job["start"] <= s["end_ms"]
            ]
            if inside:
                owner[job["id"]] = max(inside, key=lambda s: s["start_ms"])["id"]
        return owner


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total / 1000.0


def descendants(spans: list[dict], root_id: str) -> set[str]:
    ids, grew = {root_id}, True
    while grew:
        grew = False
        for s in spans:
            if s.get("parent") in ids and s["id"] not in ids:
                ids.add(s["id"])
                grew = True
    return ids


def fold(log: Log, spans: list[dict], root_id: str, cores: int) -> dict[str, float]:
    """Per-layer metrics of the span ``root_id`` and everything under it."""
    root = next(s for s in spans if s["id"] == root_id)
    wall_s = (root["end_ms"] - root["start_ms"]) / 1000.0
    scope = descendants(spans, root_id)
    kind = {s["id"]: s["name"] for s in spans}
    owner = log.assign(spans)
    jobs = [j for j in log.jobs.values() if owner.get(j["id"]) in scope]
    job_ids = {j["id"] for j in jobs}
    eager = [j for j in jobs if kind[owner[j["id"]]] == "queries.build"]
    stream_jobs = [j for j in jobs if j["batch"] is not None]
    batches = {(j["group"], j["batch"]) for j in stream_jobs}

    m = {
        "spark.jobs": float(len(jobs)),
        "queries.eager_jobs": float(len(eager)),
        "streaming.jobs_per_batch": len(stream_jobs) / len(batches) if batches else 0.0,
        "spark.driver_gap_s": max(0.0, wall_s - _union_s([(j["start"], j["end"]) for j in jobs])),
    }
    stages: dict[int, list[float]] = {}
    sums = dict.fromkeys(
        (
            "spark.task_s", "spark.cpu_s", "spark.gc_s", "spark.task_launch_s",
            "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
            "spark.shuffle_fetch_wait_s", "spark.spill_bytes", "spark.input_bytes",
            "python.bytes_sent", "python.bytes_received", "python.rows_received",
            "python.stage_task_s",
        ),
        0.0,
    )
    python_stages: set[int] = set()
    busy_ms = 0.0
    for ev in log.tasks:
        sid = ev["Stage ID"]
        if log.stage_job.get(sid) not in job_ids:
            continue
        info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
        run_ms = tm.get("Executor Run Time", 0)
        stages.setdefault(sid, []).append(run_ms)
        busy_ms += info.get("Finish Time", 0) - info.get("Launch Time", 0)
        sums["spark.task_s"] += run_ms / 1e3
        sums["spark.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        sums["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        sums["spark.task_launch_s"] += tm.get("Executor Deserialize Time", 0) / 1e3
        sw = tm.get("Shuffle Write Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        sums["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        sums["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        sums["spark.shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
        sums["spark.spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
            "Disk Bytes Spilled", 0
        )
        sums["spark.input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
        for acc in info.get("Accumulables", []):
            node, name, mtype = log.accums.get(int(acc.get("ID", -1)), ("", "", ""))
            if not PYTHON_NODE.search(node):
                continue
            python_stages.add(sid)
            try:
                update = float(acc.get("Update", 0))
            except (TypeError, ValueError):
                continue
            if name == "data sent to Python workers":
                sums["python.bytes_sent"] += metric_value(mtype, update)
            elif name == "data returned from Python workers":
                sums["python.bytes_received"] += metric_value(mtype, update)
            elif name == "number of output rows":
                sums["python.rows_received"] += update
    for sid in python_stages:
        sums["python.stage_task_s"] += sum(stages[sid]) / 1e3
    m.update(sums)
    m["spark.stages"] = float(len(stages))
    m["spark.tasks"] = float(sum(len(v) for v in stages.values()))
    m["spark.core_busy_frac"] = busy_ms / 1e3 / (cores * wall_s) if wall_s else 0.0
    m["python.task_share"] = (
        sums["python.stage_task_s"] / sums["spark.task_s"] if sums["spark.task_s"] else 0.0
    )
    # task skew: max / mean task run time per stage, weighted by stage time
    weighted = [
        (sum(v), max(v) / statistics.fmean(v))
        for v in stages.values()
        if len(v) > 1 and sum(v) > 0
    ]
    total = sum(w for w, _ in weighted)
    m["spark.task_skew"] = sum(w * r for w, r in weighted) / total if total else 1.0
    executions = {j["execution"] for j in jobs if j["execution"] is not None}
    m["python.nodes"] = float(
        sum(
            _count_nodes(log.plans[int(e)], PYTHON_NODE)
            for e in executions
            if int(e) in log.plans
        )
    )
    return m
