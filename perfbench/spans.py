"""Spans around layer calls, Spark job-group tagging and event-log folding.

Everything is measured from outside the package: public functions are wrapped
where the pipeline modules look them up, each span tags the Spark jobs it
submits with a job group, and the uncompressed event log is folded with the
standard ``json`` module into per-job task metrics. Spans are kept in memory;
the caller writes them out when the run ends.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

# physical-plan nodes that run Python workers (Arrow/pandas UDFs, mapInPandas)
_PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "WindowInPandas", "PythonMapInArrow", "ArrowWindowPython",
)


class Tracer:
    """Records spans (name, start, end, parent). With a SparkContext attached,
    every span also becomes the job group of the jobs submitted inside it."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None  # set while a traced unit runs

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        traced = self.sc is not None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "traced": traced, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if traced:
            self.sc.setJobGroup(f"pb{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if traced:
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.sc.setJobGroup(f"pb{parent}", self.spans[parent]["name"])

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return wrapper

    @contextmanager
    def patched(self, targets: list[tuple[object, str, str]]):
        """Replace ``owner.attr`` with a span-recording wrapper named ``name``
        for the duration of the block."""
        saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
        try:
            for owner, attr, name in targets:
                setattr(owner, attr, self.wrap(name, getattr(owner, attr)))
            yield
        finally:
            for owner, attr, orig in saved:
                setattr(owner, attr, orig)

    @contextmanager
    def traced(self, sc):
        """Tag jobs with span job groups inside the block."""
        self.sc = sc
        try:
            yield
        finally:
            self.sc = None

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans))

    # -- folding ------------------------------------------------------------
    def attribute(self, jobs: list[dict]) -> dict[int, list[dict]]:
        """span id -> jobs submitted inside it or any of its descendants.
        A job's own span is its job group when tagged, else the innermost span
        open at its submission time (streaming micro-batches run on threads
        that do not inherit the caller's job group)."""
        by_time = sorted(self.spans, key=lambda s: s["start"])
        inclusive: dict[int, list[dict]] = defaultdict(list)
        for job in jobs:
            sid = None
            group = job["group"] or ""
            if group.startswith("pb") and group[2:].isdigit():
                sid = int(group[2:])
            else:
                for s in by_time:
                    if s["start"] <= job["submit"] <= (s["end"] or float("inf")):
                        sid = s["id"]  # later starts are nested deeper
            while sid is not None:
                inclusive[sid].append(job)
                sid = self.spans[sid]["parent"]
        return inclusive


def fold_event_logs(log_dir: Path) -> list[dict]:
    """One dict per Spark job from every event log under ``log_dir``: its job
    group, submission time, SQL execution, completed stages and summed task
    metrics."""
    jobs: list[dict] = []
    logs = [p for p in log_dir.rglob("*")
            if p.is_file() and not p.name.startswith((".", "appstatus"))]
    for path in sorted(logs):
        stage_job: dict[int, dict] = {}
        python_execs: set[int] = set()
        with path.open() as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    exec_id = props.get("spark.sql.execution.id")
                    job = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit": ev["Submission Time"] / 1000.0,
                        "exec": int(exec_id) if exec_id is not None else None,
                        "stages": 0, "single_task_stages": 0, "tasks": 0,
                        "run_s": 0.0, "cpu_s": 0.0, "shuffle_write_bytes": 0,
                        "spill_bytes": 0, "bytes_written": 0, "records_written": 0,
                    }
                    jobs.append(job)
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, job)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    job = stage_job.get(info["Stage ID"])
                    if job is not None:
                        job["stages"] += 1
                        job["single_task_stages"] += info["Number of Tasks"] == 1
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["tasks"] += 1
                    job["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    job["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    out = m.get("Output Metrics") or {}
                    job["bytes_written"] += out.get("Bytes Written", 0)
                    job["records_written"] += out.get("Records Written", 0)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    plan = ev.get("physicalPlanDescription", "")
                    if any(node in plan for node in _PYTHON_NODES):
                        python_execs.add(ev["executionId"])
        for job in jobs:
            if "python" not in job:
                job["python"] = job["exec"] in python_execs
    return jobs


def job_sum(jobs: list[dict], field: str) -> float:
    return sum(j[field] for j in jobs)
