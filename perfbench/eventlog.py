"""Spark event-log profiler: joins the benchmark's spans to the jobs,
stages, tasks and SQL metrics in an uncompressed event log, and reduces
them to per-layer metrics.

Join rules:

- a job belongs to the span whose id is its ``spark.jobGroup.id``; a job
  whose group is not a span id (streaming micro-batches run in a thread
  of their own) belongs to the innermost span covering its submission
  time;
- a stage belongs to the latest job listing it that was submitted
  before the stage ran, so a skipped (reused) stage is counted once;
- a SQL execution belongs to the span of its first job, or, with no
  job, to the innermost span covering its start.

A layer is the module a span names: span ``operators.rollup.f`` is
layer ``operators.rollup``.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

ARROW_TO_PYTHON = "data sent to Python workers"
ARROW_FROM_PYTHON = "data returned from Python workers"
FILES_READ = "number of files read"

GENERIC = [
    ("calls", "count"),
    ("busy_s", "s"),
    ("self_s", "s"),
    ("jobs", "count"),
    ("driver_s", "s"),
    ("tasks", "count"),
    ("task_cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_write_bytes", "B"),
    ("shuffle_read_bytes", "B"),
    ("spill_bytes", "B"),
    ("task_skew", "ratio"),
    ("underparallel_stages", "count"),
]


def load_events(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def layer_of(span_name: str) -> str:
    return span_name.rsplit(".", 1)[0]


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _plan_metric_names(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in node.get("children", []):
        _plan_metric_names(child, out)


class Profile:
    """Parsed event log joined to a list of span records."""

    def __init__(self, events: list[dict], spans: list[dict], cores: int):
        self.cores = cores
        self.spans = {s["id"]: s for s in spans}
        self.children = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s["id"])
        self.jobs: dict[int, dict] = {}
        self.stages: dict[tuple[int, int], dict] = {}
        self.tasks: dict[tuple[int, int], list[dict]] = defaultdict(list)
        self.sql_names: dict[int, str] = {}
        self.sql_exec_start: dict[int, float] = {}
        self.accum: dict[int, float] = {}  # accumulator id -> final value
        self.driver_accum: dict[int, dict[int, float]] = defaultdict(dict)
        self.stage_accums: dict[tuple[int, int], set] = defaultdict(set)
        self._read(events)
        self._join()

    # -- parsing ---------------------------------------------------------
    def _read(self, events: list[dict]) -> None:
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                sql_id = props.get("spark.sql.execution.id")
                self.jobs[e["Job ID"]] = {
                    "submit": e["Submission Time"] / 1000.0,
                    "end": None,
                    "stage_ids": list(e.get("Stage IDs", [])),
                    "group": props.get("spark.jobGroup.id"),
                    "sql_id": int(sql_id) if sql_id is not None else None,
                }
            elif kind == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                self.stages[key] = {
                    "name": info.get("Stage Name", ""),
                    "num_tasks": info["Number of Tasks"],
                    "submit": (info.get("Submission Time") or 0) / 1000.0,
                    "complete": (info.get("Completion Time") or 0) / 1000.0,
                }
                for acc in info.get("Accumulables", []):
                    self._note_accum(acc, key)
            elif kind == "SparkListenerTaskEnd":
                ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                key = (e["Stage ID"], e["Stage Attempt ID"])
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                self.tasks[key].append(
                    {
                        "ms": ti["Finish Time"] - ti["Launch Time"],
                        "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_read": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": tm.get("Disk Bytes Spilled", 0),
                    }
                )
                for acc in ti.get("Accumulables", []):
                    self._note_accum(acc, key)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                self.sql_exec_start[e["executionId"]] = e["time"] / 1000.0
                _plan_metric_names(e["sparkPlanInfo"], self.sql_names)
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_metric_names(e["sparkPlanInfo"], self.sql_names)
            elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
                for m in e.get("sqlPlanMetrics", []):
                    self.sql_names[m["accumulatorId"]] = m["name"]
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in e.get("accumUpdates", []):
                    self.driver_accum[e["executionId"]][acc_id] = float(value)

    def _note_accum(self, acc: dict, stage_key: tuple[int, int]) -> None:
        value = acc.get("Value")
        try:
            value = float(value)
        except (TypeError, ValueError):
            return
        # accumulator values are running totals: the largest seen is final
        acc_id = acc["ID"]
        self.accum[acc_id] = max(self.accum.get(acc_id, value), value)
        self.stage_accums[stage_key].add(acc_id)

    # -- joining ---------------------------------------------------------
    def _innermost(self, t: float) -> str | None:
        best = None
        for s in self.spans.values():
            if s["start"] <= t <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best["id"] if best else None

    def _join(self) -> None:
        self.span_jobs: dict[str, list[int]] = defaultdict(list)
        self.jobs_by_time = 0
        for jid, job in sorted(self.jobs.items()):
            if job["group"] in self.spans:
                sid = job["group"]
            else:
                sid = self._innermost(job["submit"])
                if sid is not None:
                    self.jobs_by_time += 1
            job["span"] = sid
            if sid is not None:
                self.span_jobs[sid].append(jid)
        self.stage_job: dict[tuple[int, int], int] = {}
        for key, st in self.stages.items():
            owners = [
                jid
                for jid, j in self.jobs.items()
                if key[0] in j["stage_ids"] and j["submit"] <= st["submit"] + 1e-3
            ]
            if owners:
                self.stage_job[key] = max(owners, key=lambda j: self.jobs[j]["submit"])
        self.sql_span: dict[int, str | None] = {}
        for sql_id, t0 in self.sql_exec_start.items():
            job_ids = [j for j, job in self.jobs.items() if job["sql_id"] == sql_id]
            if job_ids:
                self.sql_span[sql_id] = self.jobs[min(job_ids)]["span"]
            else:
                self.sql_span[sql_id] = self._innermost(t0)

    # -- per-span and per-layer reductions ---------------------------------
    def span_stages(self, sid: str) -> list[tuple[int, int]]:
        jobs = set(self.span_jobs.get(sid, []))
        return [k for k, j in self.stage_job.items() if j in jobs]

    def sql_metric(self, span_ids: set[str], name: str) -> float:
        """Sum of a named SQL metric over the executions of ``span_ids``."""
        total = 0.0
        stage_ids = set()
        for sid in span_ids:
            for key in self.span_stages(sid):
                stage_ids |= self.stage_accums[key]
        for acc_id in stage_ids:
            if self.sql_names.get(acc_id) == name:
                total += self.accum[acc_id]
        for sql_id, sid in self.sql_span.items():
            if sid in span_ids:
                for acc_id, value in self.driver_accum.get(sql_id, {}).items():
                    if self.sql_names.get(acc_id) == name:
                        total += value
        return total

    def layer_metrics(self, layer: str) -> dict[str, float]:
        sids = [s["id"] for s in self.spans.values() if layer_of(s["name"]) == layer]
        m = {name: 0.0 for name, _unit in GENERIC}
        m["calls"] = float(len(sids))
        heaviest = (0.0, [])
        for sid in sids:
            s = self.spans[sid]
            dur = s["end"] - s["start"]
            kids = [
                (self.spans[c]["start"], self.spans[c]["end"])
                for c in self.children.get(sid, [])
            ]
            own_jobs = [
                (max(self.jobs[j]["submit"], s["start"]),
                 min(self.jobs[j]["end"] or s["end"], s["end"]))
                for j in self.span_jobs.get(sid, [])
            ]
            m["busy_s"] += dur
            m["self_s"] += dur - _union_len(kids)
            m["driver_s"] += dur - _union_len(kids + own_jobs)
            m["jobs"] += len(self.span_jobs.get(sid, []))
            for key in self.span_stages(sid):
                tasks = self.tasks.get(key, [])
                m["tasks"] += len(tasks)
                m["task_cpu_s"] += sum(t["cpu_s"] for t in tasks)
                m["gc_s"] += sum(t["gc_s"] for t in tasks)
                m["shuffle_write_bytes"] += sum(t["shuffle_write"] for t in tasks)
                m["shuffle_read_bytes"] += sum(t["shuffle_read"] for t in tasks)
                m["spill_bytes"] += sum(t["spill"] for t in tasks)
                if self.stages[key]["num_tasks"] < self.cores:
                    m["underparallel_stages"] += 1
                work = sum(t["ms"] for t in tasks)
                if work > heaviest[0]:
                    heaviest = (work, [t["ms"] for t in tasks])
        if heaviest[1]:
            med = statistics.median(heaviest[1])
            m["task_skew"] = max(heaviest[1]) / med if med > 0 else 1.0
        return m

    def underparallel_report(self) -> list[dict]:
        """Every completed stage with fewer tasks than cores, heaviest
        first, with the span that submitted it."""
        rows = []
        for key, st in self.stages.items():
            if st["num_tasks"] >= self.cores:
                continue
            jid = self.stage_job.get(key)
            sid = self.jobs[jid]["span"] if jid is not None else None
            tasks = self.tasks.get(key, [])
            rows.append(
                {
                    "stage": key[0],
                    "attempt": key[1],
                    "name": st["name"],
                    "tasks": st["num_tasks"],
                    "wall_s": round(st["complete"] - st["submit"], 3),
                    "task_s": round(sum(t["ms"] for t in tasks) / 1000.0, 3),
                    "span": self.spans[sid]["name"] if sid else None,
                }
            )
        return sorted(rows, key=lambda r: -r["wall_s"])
