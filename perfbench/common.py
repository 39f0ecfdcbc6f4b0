"""Shared benchmark plumbing: spans, event-log accounting, small stats.

Everything here is benchmark-side instrumentation. The system under test is
only ever driven through its public entry points; spans are recorded around
those calls in the benchmark's own code.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


# --- stats ------------------------------------------------------------------

def median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]) of a non-empty sample."""
    s = sorted(xs)
    i = min(len(s) - 1, max(0, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return float(s[i])


TAIL_LEVELS = (99.9, 99.5, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(xs) -> tuple[float, float, int]:
    """(level, value, samples beyond): the highest level in TAIL_LEVELS that
    still leaves at least 10 samples above it. Callers pass one sample per
    independent unit (a seed file), not per URL, so the 10 are distinct."""
    n = len(xs)
    for q in TAIL_LEVELS:
        beyond = int(n * (100.0 - q) / 100.0)
        if beyond >= 10:
            return q, percentile(xs, q), beyond
    return 50.0, percentile(xs, 50.0), n // 2


def canary(iterations: int = 3_000_000) -> float:
    """Single-thread CPU probe (the bench.py loop, shortened): stamps what
    the host delivered around a run, so a slow figure can be told apart
    from a slow host."""
    t = time.perf_counter()
    x = 0
    for i in range(iterations):
        x += i * i
    return time.perf_counter() - t


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; hidden/underscore files skipped
    for the file count (parquet _SUCCESS / .crc sidecars)."""
    total, files = 0, 0
    for d, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                continue
            if not f.startswith((".", "_")):
                files += 1
    return total, files


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


# --- spans ------------------------------------------------------------------

class Tracer:
    """Span recorder: (name, start, end, parent, run_id) per span.

    Disabled tracers still time spans (the workloads read durations off
    them) but keep no records — the untraced run pays one perf_counter
    pair per public call and nothing else."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None

    def bind(self, sc) -> None:
        """Tag Spark jobs with the innermost span name (setJobGroup)."""
        self._sc = sc

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "id": len(self.spans), **attrs}
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(rec["id"])
            if self._sc is not None:
                self._sc.setJobGroup(name, f"{self.run_id}:{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if self.enabled:
                self._stack.pop()
                if self._sc is not None:
                    if self._stack:
                        top = self.spans[self._stack[-1]]["name"]
                        self._sc.setJobGroup(top, f"{self.run_id}:{top}")
                    else:
                        self._sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def suspended(self):
        """Run a block untraced: no span records, no job groups."""
        was = self.enabled
        self.enabled = False
        try:
            yield
        finally:
            self.enabled = was

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    def self_times(self) -> dict:
        """Per span name: summed self time = span duration minus the union
        of its direct children's intervals."""
        kids: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(
                    (s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered = union_length(kids.get(s["id"], []))
            out[s["name"]] = (out.get(s["name"], 0.0)
                              + (s["end"] - s["start"]) - covered)
        return out


def union_length(intervals) -> float:
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


# --- event log --------------------------------------------------------------

def read_event_log(ev_dir: str) -> dict:
    """Jobs and per-job task totals from the session's Spark event log, the
    same fields scripts/stage_profile.py and scripts/job_gaps.py read."""
    apps = [os.path.join(ev_dir, f) for f in os.listdir(ev_dir)
            ] if os.path.isdir(ev_dir) else []
    if not apps:
        return {"jobs": []}
    app = max(apps, key=os.path.getmtime)
    # event log v2 is a directory of rolled "events_<n>_..." files
    paths = ([app] if os.path.isfile(app) else sorted(
        (os.path.join(app, f) for f in os.listdir(app)
         if f.startswith("events_")),
        key=lambda p: int(os.path.basename(p).split("_")[1])))
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in _lines(paths):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {"start": ev["Submission Time"] / 1000.0,
                         "end": None,
                         "group": props.get("spark.jobGroup.id"),
                         "tasks": 0, "failed_tasks": 0, "cpu_s": 0.0,
                         "gc_s": 0.0, "shuffle_bytes": 0,
                         "spill_bytes": 0}
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            j = jobs.get(stage_job.get(ev.get("Stage ID")))
            if j is None:
                continue
            j["tasks"] += 1
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            if reason != "Success":
                j["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            j["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            j["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sw = (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            j["shuffle_bytes"] += sw
            j["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
    return {"jobs": [j for j in jobs.values() if j["end"] is not None]}


def _lines(paths):
    for p in paths:
        with open(p) as f:
            yield from f


def window_accounting(jobs: list, windows: list[tuple[float, float]]) -> dict:
    """Per-window means of the event-log job figures. A job belongs to the
    window its submission time falls in — commit writes run on helper
    threads that carry no job group, so attribution is by time, which is
    exact while one workload step runs at a time."""
    per = []
    for (w0, w1) in windows:
        js = [j for j in jobs if w0 <= j["start"] <= w1]
        busy = union_length([(j["start"], min(j["end"], w1)) for j in js])
        per.append({
            "jobs": len(js),
            "tasks": sum(j["tasks"] for j in js),
            "failed_tasks": sum(j["failed_tasks"] for j in js),
            "cpu_s": sum(j["cpu_s"] for j in js),
            "gc_s": sum(j["gc_s"] for j in js),
            "shuffle_bytes": sum(j["shuffle_bytes"] for j in js),
            "spill_bytes": sum(j["spill_bytes"] for j in js),
            "driver_gap_s": (w1 - w0) - busy,
        })
    if not per:
        return {}
    keys = per[0].keys()
    return {k: sum(p[k] for p in per) / len(per) for k in keys}
