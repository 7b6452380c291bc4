"""Fold a Spark event log into per-span layer counters.

The benchmark names its own calls into the package with a Spark job group
(one group per span).  Calls that run several stages inside one package
function (``pipeline.run_tiler``, ``streaming.incremental_update``) get one
group for the whole call; their jobs are then split by submission time
against the stage windows the program itself records (``_metrics`` and
``_lineage``), given here as spans of that group with their own times.

Counters per span and traced run:

- ``wall_s``       span wall time (the benchmark's timer, or the program's
                   own seconds for a window);
- ``jobs``         Spark jobs submitted in the span;
- ``exec_cpu_s``   executor CPU time of the span's tasks;
- ``idle_core_s``  cores x wall - executor run time: core-seconds no task
                   ran, i.e. driver-side planning, commits and serial gaps;
- ``python_s``     Python worker run time ("time to run Python workers");
- ``shuffle_mb``   shuffle bytes written.

Per workload: GC time, disk spill, shuffle fetch wait, peak task execution
memory, and ``task_skew`` = sum over stages of the slowest task time divided
by the sum of the median task times (stages with at least ``cores`` tasks).
``read_bytes`` sums the "size of files read" of file scans whose location
contains a given path fragment, per span.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

MB = float(1 << 20)
SPAN_COUNTERS = ("wall_s", "jobs", "exec_cpu_s", "idle_core_s", "python_s", "shuffle_mb")
WORKLOAD_COUNTERS = ("gc_s", "spill_mb", "fetch_wait_s", "peak_exec_mem_mb", "task_skew")
PYTHON_RUN = "time to run Python workers"
SLACK_S = 0.005   # submission times are truncated to the millisecond
FILES_READ = "size of files read"


def read_events(log_dir: str) -> list[dict]:
    """Every event of every log file in ``log_dir``, files in name order.
    The runner turns rolling logs off, so each application writes one file."""
    paths = [os.path.join(log_dir, name) for name in os.listdir(log_dir)
             if not name.startswith(".") and not name.endswith(".crc")]
    events = []
    for path in sorted(paths):
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _task_row(e: dict) -> dict:
    tm = e.get("Task Metrics") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    py_ms = 0.0
    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
        if acc.get("Name") == PYTHON_RUN:
            py_ms += float(acc.get("Update") or 0)
    return {
        "stage": e["Stage ID"],
        "run_ms": float(tm.get("Executor Run Time", 0)),
        "cpu_ns": float(tm.get("Executor CPU Time", 0)),
        "gc_ms": float(tm.get("JVM GC Time", 0)),
        "python_ms": py_ms,
        "shuffle_w": float(sw.get("Shuffle Bytes Written", 0)),
        "fetch_wait_ms": float(sr.get("Fetch Wait Time", 0)),
        "spill": float(tm.get("Disk Bytes Spilled", 0)),
        "peak_mem": float(tm.get("Peak Execution Memory", 0)),
    }


def _scan_nodes(plan: dict, out: list) -> None:
    """(location, files-read accumulator id) of every file scan in a plan."""
    loc = (plan.get("metadata") or {}).get("Location", "")
    if loc:
        for m in plan.get("metrics", []):
            if m.get("name") == FILES_READ:
                out.append((loc, m["accumulatorId"]))
    for child in plan.get("children", []):
        _scan_nodes(child, out)


class Fold:
    """Parsed event log: jobs, tasks and file-scan reads, keyed for lookup."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        scans: dict[int, list] = defaultdict(list)      # execution -> scans
        accum: dict[int, float] = defaultdict(float)    # accumulator -> value
        for e in events:
            ev = e.get("Event", "")
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                self.jobs[e["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit": e["Submission Time"] / 1000.0,
                    "execution": props.get("spark.sql.execution.id"),
                }
                for s in e.get("Stage IDs", []):
                    stage_job.setdefault(s, e["Job ID"])
            elif ev == "SparkListenerTaskEnd" and e.get("Task Metrics"):
                self.tasks.append(_task_row(e))
            elif ev.endswith(("SparkListenerSQLExecutionStart",
                              "SparkListenerSQLAdaptiveExecutionUpdate")):
                _scan_nodes(e.get("sparkPlanInfo") or {}, scans[e["executionId"]])
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in e.get("accumUpdates", []):
                    accum[acc_id] += float(value)
        for t in self.tasks:
            t["job"] = stage_job.get(t["stage"])
        # files read per execution and location, once per accumulator
        self.reads: dict[int, list] = {}
        for ex, nodes in scans.items():
            seen = {}
            for loc, acc_id in nodes:
                seen[acc_id] = loc
            self.reads[ex] = [(loc, accum.get(acc_id, 0.0)) for acc_id, loc in seen.items()]

    def jobs_in(self, group: str, window: tuple[float, float] | None = None) -> set[int]:
        """Jobs of ``group``, optionally only those submitted in
        [start, end) of ``window`` (seconds; the log keeps milliseconds)."""
        out = set()
        for jid, job in self.jobs.items():
            if job["group"] != group:
                continue
            if window is None or window[0] - SLACK_S <= job["submit"] < window[1]:
                out.add(jid)
        return out

    def span_jobs(self, span: dict) -> set[int]:
        return self.jobs_in(span["group"], (span["start"], span["end"]))

    def span(self, jobs: set[int], wall_s: float, cores: int) -> dict:
        ts = [t for t in self.tasks if t["job"] in jobs]
        run_s = sum(t["run_ms"] for t in ts) / 1000.0
        return {
            "wall_s": wall_s,
            "jobs": float(len(jobs)),
            "exec_cpu_s": sum(t["cpu_ns"] for t in ts) / 1e9,
            "idle_core_s": cores * wall_s - run_s,
            "python_s": sum(t["python_ms"] for t in ts) / 1000.0,
            "shuffle_mb": sum(t["shuffle_w"] for t in ts) / MB,
        }

    def workload(self, jobs: set[int], cores: int) -> dict:
        ts = [t for t in self.tasks if t["job"] in jobs]
        by_stage: dict[int, list] = defaultdict(list)
        for t in ts:
            by_stage[t["stage"]].append(t["run_ms"])
        worst = typical = 0.0
        for times in by_stage.values():
            if len(times) >= cores:
                worst += max(times)
                typical += statistics.median(times)
        return {
            "gc_s": sum(t["gc_ms"] for t in ts) / 1000.0,
            "spill_mb": sum(t["spill"] for t in ts) / MB,
            "fetch_wait_s": sum(t["fetch_wait_ms"] for t in ts) / 1000.0,
            "peak_exec_mem_mb": max((t["peak_mem"] for t in ts), default=0.0) / MB,
            "task_skew": worst / typical if typical else 1.0,
        }

    def read_bytes(self, jobs: set[int], fragment: str) -> float:
        """Bytes of files under a location containing ``fragment`` that the
        SQL executions behind ``jobs`` scanned."""
        execs = {self.jobs[j]["execution"] for j in jobs} - {None}
        total = 0.0
        for ex in execs:
            for loc, size in self.reads.get(int(ex), []):
                if fragment in loc:
                    total += size
        return total


def fold_spans(fold: Fold, spans: list[dict], cores: int) -> dict:
    """Span counters of one traced run.

    ``spans``: dicts with ``name``, ``group``, ``wall`` (seconds) and
    ``start``/``end``: the span's jobs are the group's jobs submitted in
    between.  Several dicts may share a name; their counters add."""
    acc: dict[str, dict] = {}
    for sp in spans:
        jobs = fold.span_jobs(sp)
        row = fold.span(jobs, sp["wall"], cores)
        tot = acc.setdefault(sp["name"], dict.fromkeys(SPAN_COUNTERS, 0.0))
        for k, v in row.items():
            tot[k] += v
    return {f"{name}.{k}": v for name, tot in acc.items() for k, v in tot.items()}
