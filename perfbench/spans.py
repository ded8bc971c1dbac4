"""Spans recorded around layer calls, and the Spark event-log reader.

Spans live in memory and are written out when the run ends.  A span has a
name (``layer.function``), start and end (epoch seconds, the event log's
clock), its parent span, and the op and pass it belongs to.  A layer's self
time is its span minus what its child spans cover.

``read_event_log`` turns an uncompressed Spark event log into per-op rows:
jobs, stages, tasks, task metrics summed over the op's stages, the task
skew of its slowest stage, and the output rows of the join operators in its
SQL plans.  A job whose ``spark.job.description`` names no op is counted
under ``setup``.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

SETUP = "setup"
MB = 2**20


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self.pass_id: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "pass": self.pass_id,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def self_times(self) -> list[dict]:
        """Each span with ``self_s``: its duration minus the union of its
        children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            covered = _union_length(kids.get(s["id"], []))
            out.append(dict(s, self_s=(s["end"] - s["start"]) - covered))
        return out


def _union_length(intervals) -> float:
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
    return total


def _overlap(intervals, lo: float, hi: float) -> float:
    return _union_length(
        [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]
    )


# --- event log ----------------------------------------------------------------------
def _plan_join_metrics(plan: dict, out: dict[int, str]) -> None:
    """accumulator id -> node name, for every join's output-row metric."""
    if "Join" in plan.get("nodeName", "") or plan.get("nodeName") == "CartesianProduct":
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out[m["accumulatorId"]] = plan["nodeName"]
    for child in plan.get("children", []):
        _plan_join_metrics(child, out)


def _num(v) -> float:
    """SQL metric updates are logged as strings ("250")."""
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(path: str, label_of=lambda desc: desc) -> dict:
    """Parse one uncompressed event log (JSON per line, stdlib only).

    ``label_of`` maps a job description to an op label, or ``None`` for
    jobs the benchmark did not launch (counted as ``setup``).  Returns
    ``{label: row}`` where row holds jobs, stages, tasks, the task-metric
    sums, ``task_skew``, ``join_rows`` (max output rows over the op's join
    operators) and ``job_intervals`` (epoch-second pairs)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[tuple[int, int], dict] = {}
    tasks: dict[int, list[dict]] = {}
    exec_label: dict[int, str] = {}
    exec_joins: dict[int, dict[int, str]] = {}
    accum: dict[int, float] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                label = label_of(props.get("spark.job.description")) or SETUP
                jid = ev["Job ID"]
                jobs[jid] = {"label": label, "start": ev["Submission Time"] / 1e3}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
                eid = props.get("spark.sql.execution.root.id") or props.get(
                    "spark.sql.execution.id"
                )
                if eid is not None:
                    exec_label.setdefault(int(eid), label)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = info
            elif kind == "SparkListenerTaskEnd":
                tasks.setdefault(ev["Stage ID"], []).append(ev)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Metadata") == "sql":
                        accum[acc["ID"]] = accum.get(acc["ID"], 0) + _num(acc.get("Update"))
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                eid = ev["executionId"]
                _plan_join_metrics(ev["sparkPlanInfo"], exec_joins.setdefault(eid, {}))
                root = ev.get("rootExecutionId")
                if root is not None and root != eid and root in exec_label:
                    exec_label.setdefault(eid, exec_label[root])
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for aid, val in ev.get("accumUpdates", []):
                    accum[aid] = accum.get(aid, 0) + _num(val)

    rows: dict[str, dict] = {}

    def row(label: str) -> dict:
        return rows.setdefault(label, {
            "jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
            "gc_s": 0.0, "input_mb": 0.0, "output_mb": 0.0,
            "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            "task_skew": 0.0, "slowest_stage_s": 0.0, "join_rows": 0,
            "job_intervals": [],
        })

    for j in jobs.values():
        r = row(j["label"])
        r["jobs"] += 1
        r["job_intervals"].append((j["start"], j.get("end", j["start"])))
    for (sid, _attempt), info in stages.items():
        jid = stage_job.get(sid)
        r = row(jobs[jid]["label"] if jid in jobs else SETUP)
        r["stages"] += 1
        dur = (info.get("Completion Time", 0) - info.get("Submission Time", 0)) / 1e3
        times = []
        for t in tasks.get(sid, []):
            m = t.get("Task Metrics") or {}
            ti = t.get("Task Info") or {}
            r["tasks"] += 1
            r["run_s"] += m.get("Executor Run Time", 0) / 1e3
            r["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            r["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            r["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
            r["output_mb"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MB
            sr = m.get("Shuffle Read Metrics") or {}
            r["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / MB
            sw = m.get("Shuffle Write Metrics") or {}
            r["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            r["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            times.append(ti.get("Finish Time", 0) - ti.get("Launch Time", 0))
        if times and dur >= r["slowest_stage_s"]:
            r["slowest_stage_s"] = dur
            med = statistics.median(times)
            r["task_skew"] = max(times) / med if med > 0 else 1.0
    for eid, joins in exec_joins.items():
        label = exec_label.get(eid)
        if label is None or not joins:
            continue
        r = row(label)
        r["join_rows"] = max(
            r["join_rows"], max(int(accum.get(a, 0)) for a in joins)
        )
    return rows


def driver_gap(op_start: float, op_end: float, job_intervals) -> float:
    """The op's wall time not covered by any of its Spark jobs."""
    return (op_end - op_start) - _overlap(job_intervals, op_start, op_end)
