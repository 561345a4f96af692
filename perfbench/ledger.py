"""Spans around layer calls and the per-layer ledger folded from the event log.

A span is (name, layer, start, end, parent, iteration), plus process-tree
CPU seconds where asked for. Spans are kept in
memory and written out once at the end of a run. In a traced run every span
that names a layer also sets that layer as the Spark job group, so each job
the layer's call starts carries ``spark.jobGroup.id = <layer>`` in the event
log; ``fold_event_log`` sums the TaskEnd metrics of each group's stages.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = ("io", "canonicalize", "blocking", "scoring", "clustering", "runs")
# groups that run tasks in a traced session outside the layer spans: the
# worker warm-up job with the cold and untraced iterations, the census
# counts, and the output checks
OTHER_GROUPS = ("warmup", "census", "check")
LEDGER_KEYS = (
    "jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s", "deser_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "task_skew",
    "failed_tasks",
)
_JOB_GROUP = "spark.jobGroup.id"
_MB = 1e6


class Tracer:
    """Records spans; when ``sc`` is given, a span with a layer (or group)
    also runs under that Spark job group."""

    def __init__(self, sc=None, cpu_clock=None):
        self.sc = sc
        self.cpu_clock = cpu_clock
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, iteration: int, layer: str | None = None, cpu: bool = False):
        """``cpu=True`` also records ``cpu_clock()`` at both ends."""
        parent = self._stack[-1] if self._stack else None
        cpu = cpu and self.cpu_clock is not None
        rec = {
            "name": name,
            "layer": layer,
            "iteration": iteration,
            "parent": parent["name"] if parent else None,
            "cpu": self.cpu_clock() if cpu else None,
            "start": time.perf_counter(),
            "end": None,
        }
        if self.sc is not None and layer is not None:
            self.sc.setJobGroup(layer, name)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if cpu:
                rec["cpu"] = self.cpu_clock() - rec["cpu"]
            self._stack.pop()
            self.spans.append(rec)
            if self.sc is not None and layer is not None:
                outer = next(
                    (s["layer"] for s in reversed(self._stack) if s["layer"]), None
                )
                self.sc.setLocalProperty(_JOB_GROUP, outer)

    def _find(self, name: str, iteration: int) -> dict:
        return next(
            s for s in self.spans if s["name"] == name and s["iteration"] == iteration
        )

    def duration(self, name: str, iteration: int) -> float:
        s = self._find(name, iteration)
        return s["end"] - s["start"]

    def cpu(self, name: str, iteration: int) -> float:
        return self._find(name, iteration)["cpu"]

    def self_seconds(self) -> dict[str, float]:
        """Per layer: span time minus the part covered by child spans."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["layer"] is None:
                continue
            kids = sorted(
                (c["start"], c["end"])
                for c in self.spans
                if c["parent"] == s["name"]
                and c["iteration"] == s["iteration"]
                and s["start"] <= c["start"] <= s["end"]
            )
            covered, cur_end = 0.0, s["start"]
            for a, b in kids:
                a = max(a, cur_end)
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["layer"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def _skew(run_ms_by_stage: dict) -> float:
    """DS2's skew signal: the worst stage's max / median task run time."""
    worst = 0.0
    for times in run_ms_by_stage.values():
        if len(times) >= 2:
            worst = max(worst, max(times) / max(statistics.median(times), 1.0))
    return worst


def _event_lines(log_dir: str):
    """Lines of the one application's uncompressed event log in ``log_dir``,
    which Spark 4 writes as a directory of ``events_<n>_<app>`` parts."""
    (app,) = os.listdir(log_dir)
    path = os.path.join(log_dir, app)
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    for part in sorted(parts, key=lambda f: int(f.split("_")[1])):
        with open(os.path.join(path, part)) as f:
            yield from f


def fold_event_log(log_dir: str) -> tuple[dict[str, dict], dict]:
    """{group: ledger} over every job group in an uncompressed event log,
    plus totals: all TaskEnd events and the jobs per group."""
    stage_group: dict[int, str | None] = {}
    acc: dict[str | None, dict] = defaultdict(lambda: dict.fromkeys(LEDGER_KEYS, 0))
    run_ms: dict[str | None, dict] = defaultdict(lambda: defaultdict(list))
    stages_run: dict[str | None, set] = defaultdict(set)
    total_tasks = 0
    for line in _event_lines(log_dir):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            acc[(ev.get("Properties") or {}).get(_JOB_GROUP)]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            stage_group[sid] = (ev.get("Properties") or {}).get(_JOB_GROUP)
        elif kind == "SparkListenerTaskEnd":
            total_tasks += 1
            sid = ev["Stage ID"]
            g = stage_group.get(sid)
            a = acc[g]
            m = ev.get("Task Metrics") or {}
            info = ev["Task Info"]
            a["tasks"] += 1
            stages_run[g].add((sid, ev.get("Stage Attempt ID", 0)))
            a["task_s"] += m.get("Executor Run Time", 0) / 1e3
            a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            a["deser_s"] += m.get("Executor Deserialize Time", 0) / 1e3
            rd = m.get("Shuffle Read Metrics") or {}
            a["shuffle_read_mb"] += (
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            ) / _MB
            wr = m.get("Shuffle Write Metrics") or {}
            a["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / _MB
            a["spill_mb"] += m.get("Disk Bytes Spilled", 0) / _MB
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            if info.get("Failed") or reason not in (None, "Success"):
                a["failed_tasks"] += 1
            run_ms[g][sid].append(m.get("Executor Run Time", 0))
    for g, a in acc.items():
        a["stages"] = len(stages_run[g])
        a["task_skew"] = _skew(run_ms[g])
    totals = {
        "tasks": total_tasks,
        "jobs_by_group": {g: a["jobs"] for g, a in acc.items()},
    }
    return dict(acc), totals


def reconcile(ledger: dict, totals: dict, tracker_jobs: dict[str, int]) -> list[str]:
    """Ways the ledger fails to account for the event log; empty when every
    task is attributed to a known group and the live status tracker saw the
    same jobs per group as the log."""
    problems = []
    known = set(LAYERS) | set(OTHER_GROUPS)
    stray = {g: a["tasks"] for g, a in ledger.items() if g not in known and a["tasks"]}
    if stray:
        problems.append(f"tasks outside any layer or warm-up group: {stray}")
    attributed = sum(a["tasks"] for g, a in ledger.items() if g in known)
    if attributed != totals["tasks"]:
        problems.append(
            f"layer + warm-up/census/check tasks {attributed} != event log tasks "
            f"{totals['tasks']}"
        )
    for g, n in tracker_jobs.items():
        logged = totals["jobs_by_group"].get(g, 0)
        if n != logged:
            problems.append(f"group {g}: status tracker {n} jobs, event log {logged}")
    return problems
