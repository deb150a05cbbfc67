"""Spans around the program's public calls, reduced against Spark's event log.

A span records its name, parent, and wall interval in memory; when tracing
is on it also tags every Spark job it starts with a job group named after
the span's id. After the session stops (which flushes the event log) the
log is reduced to per-span job intervals and task metrics:

- ``wall_s``: the span's duration;
- ``self_s``: wall minus the part of it that child spans cover;
- ``driver_s``: wall minus the part of it in which one of its jobs ran —
  the serial planning and driver-side term;
- ``exec_cpu_s``: executor CPU of the span's tasks;
- ``idle_core_s``: wall x cores minus the run time of the span's tasks;
- ``jobs``, ``shuffle_write_bytes``, ``spill_bytes``, ``output_bytes``,
  ``input_bytes``: summed over the span's tasks.

Jobs and tasks count toward the innermost span that started them and to
every enclosing span.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time


class Tracer:
    """Span recorder. Disabled, ``span`` only yields a counts dict.

    ``traced_run`` marks a run whose rounds also make the extra calls that
    split a layer out (the same calls in its traced and untraced rounds);
    ``enabled`` switches recording per round."""

    def __init__(self, sc=None, traced_run: bool = False):
        self.sc = sc
        self.traced_run = traced_run
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        counts: dict = {}
        if not self.enabled:
            yield counts
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": f"s{len(self.spans)}", "name": name,
               "parent": parent["id"] if parent else None, "counts": counts}
        self.spans.append(rec)
        self._stack.append(rec)
        if self.sc is not None:
            self.sc.setJobGroup(rec["id"], name)
        rec["start"] = time.time()
        try:
            yield counts
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent["id"], parent["name"])
                else:
                    self.sc.setJobGroup(None, None)

    def record(self, name: str, start: float, end: float) -> None:
        """Add a span timed elsewhere; it owns no Spark jobs."""
        self.spans.append({"id": f"r{len(self.spans)}", "name": name, "parent": None,
                           "start": start, "end": end, "counts": {}})


def _union_within(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def read_event_log(log_dir: str) -> dict:
    """Jobs keyed by job group: ``{group: [job]}``, each job with its
    interval (epoch seconds) and summed task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    files = sorted(f for f in glob.glob(f"{log_dir}/**", recursive=True)
                   if os.path.isfile(f) and os.path.basename(f).startswith(("events_", "local-")))
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    job = {"group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                           "start": e["Submission Time"] / 1000.0, "end": None,
                           "run_s": 0.0, "cpu_s": 0.0, "shuffle_write_bytes": 0,
                           "spill_bytes": 0, "output_bytes": 0, "input_bytes": 0}
                    jobs[e["Job ID"]] = job
                    for s in e["Stage IDs"]:
                        stage_job[s] = e["Job ID"]
                elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif ev == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(e["Stage ID"]))
                    m = e.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["run_s"] += m["Executor Run Time"] / 1000.0
                    job["cpu_s"] += m["Executor CPU Time"] / 1e9
                    job["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    job["spill_bytes"] += m["Disk Bytes Spilled"]
                    job["output_bytes"] += m["Output Metrics"]["Bytes Written"]
                    job["input_bytes"] += m["Input Metrics"]["Bytes Read"]
    by_group: dict[str, list] = {}
    for job in jobs.values():
        if job["group"] is not None and job["end"] is not None:
            by_group.setdefault(job["group"], []).append(job)
    return by_group


def span_measures(spans: list[dict], jobs_by_group: dict, cores: int) -> list[dict]:
    """Per-span measures (one dict per span occurrence)."""
    children: dict[str, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    def subtree_jobs(s: dict) -> list:
        out = list(jobs_by_group.get(s["id"], []))
        for c in children.get(s["id"], []):
            out += subtree_jobs(c)
        return out

    out = []
    for s in spans:
        lo, hi = s["start"], s["end"]
        wall = hi - lo
        jobs = subtree_jobs(s)
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        rec = {
            "name": s["name"],
            "wall_s": wall,
            "self_s": wall - _union_within(kids, lo, hi),
            "driver_s": wall - _union_within([(j["start"], j["end"]) for j in jobs], lo, hi),
            "exec_cpu_s": sum(j["cpu_s"] for j in jobs),
            "idle_core_s": wall * cores - sum(j["run_s"] for j in jobs),
            "jobs": len(jobs),
        }
        for k in ("shuffle_write_bytes", "spill_bytes", "output_bytes", "input_bytes"):
            rec[k] = sum(j[k] for j in jobs)
        rec.update(s["counts"])
        out.append(rec)
    return out


def layer_values(measures: list[dict]) -> dict[str, float]:
    """``{"<span name>.<measure>": median over the span's occurrences}``."""
    by_name: dict[str, list] = {}
    for m in measures:
        by_name.setdefault(m["name"], []).append(m)
    out = {}
    for name, occ in by_name.items():
        for k in {k for m in occ for k in m} - {"name"}:
            out[f"{name}.{k}"] = float(statistics.median(m.get(k, 0) for m in occ))
    return out
