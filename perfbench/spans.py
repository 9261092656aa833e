"""In-memory spans around the benchmark's calls, and Spark event-log folding.

Spans are recorded only in the benchmark's own code, around each call into
a layer; nothing inside ``srpr_lsh_spark`` is instrumented. A span's self
time is its duration minus the part of it its children cover.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

from host import tree_cpu_s


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, spark=None):
        """Record ``name``; with ``spark``, the jobs this thread submits in it
        run in a job group of the same name (spans with ``spark`` do not
        nest)."""
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        if spark is not None:
            spark.sparkContext.setJobGroup(name, name)
        rec["cpu0"], rec["start"] = tree_cpu_s(), time.time()
        try:
            yield rec
        finally:
            rec["end"], rec["cpu1"] = time.time(), tree_cpu_s()
            self._stack.pop()
            if spark is not None:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                spark.sparkContext.setLocalProperty("spark.job.description", None)

    def get(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)

    def wall(self, name: str) -> float:
        s = self.get(name)
        return s["end"] - s["start"]

    def cpu(self, name: str) -> float:
        s = self.get(name)
        return s["cpu1"] - s["cpu0"]

    def self_time(self, span: dict) -> float:
        kids = sorted((c["start"], c["end"]) for c in self.spans
                      if c["parent"] == span["id"])
        return (span["end"] - span["start"]) - _covered(kids, span["start"], span["end"])

    def dump(self, path: str) -> None:
        out = [dict(s, self_s=self.self_time(s)) for s in self.spans]
        with open(path, "w") as f:
            json.dump(out, f, indent=1)


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_event_log(log_dir: str) -> "tuple[list[dict], list[dict]]":
    """(jobs, tasks) from the one application log in ``log_dir``. Times in
    seconds since the epoch."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {files}")
    jobs, tasks = [], []
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs.append({"job": ev["Job ID"], "t": ev["Submission Time"] / 1e3,
                             "stages": ev.get("Stage IDs", [])})
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "start": info["Launch Time"] / 1e3,
                    "end": info["Finish Time"] / 1e3,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "spill_b": m.get("Disk Bytes Spilled", 0),
                    "shuffle_w_b": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0),
                })
    return jobs, tasks


def fold_window(jobs, tasks, start: float, end: float, cores: int) -> dict:
    """Spark-side metrics of the jobs submitted in [start, end]: a span's
    jobs are the ones submitted while it ran, which also catches jobs that
    the pipeline submits from its own worker threads."""
    mine = [j for j in jobs if start <= j["t"] <= end]
    stage_ids = {s for j in mine for s in j["stages"]}
    ts = [t for t in tasks if t["stage"] in stage_ids]
    wall = end - start
    busy = _covered([(t["start"], t["end"]) for t in ts], start, end)
    run = sum(t["end"] - t["start"] for t in ts)
    # skew of the Spark stage holding the most task time: max / median task
    by_stage: dict = {}
    for t in ts:
        by_stage.setdefault(t["stage"], []).append(t["end"] - t["start"])
    skew = 1.0
    if by_stage:
        durs = max(by_stage.values(), key=sum)
        med = statistics.median(durs)
        skew = max(durs) / med if med > 0 else 1.0
    return {
        "jobs": len(mine),
        "tasks": len(ts),
        "no_task_s": wall - busy,
        "slot_util": run / (wall * cores) if wall > 0 else 0.0,
        "shuffle_write_mb": sum(t["shuffle_w_b"] for t in ts) / 2**20,
        "spill_mb": sum(t["spill_b"] for t in ts) / 2**20,
        "gc_s": sum(t["gc_s"] for t in ts),
        "task_skew": skew,
    }
