"""Spans around the benchmark's calls into the program, Spark job counts at
the same boundaries, and the host-noise record printed beside every run.

Nothing here reaches inside engine/ or jobs/: a span is opened by the
benchmark immediately before it calls a public function and closed when the
call returns, so a span's time is the caller-visible wall of that call.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans. Disabled (the untraced, end-to-end run) it records
    nothing and touches no Spark state, so the timed calls run exactly as a
    user's would.

    Job counting: each span runs under its own Spark job group, and a span's
    jobs are the ids in that group plus the ids of ungrouped jobs that
    appeared while it was open. Ungrouped jobs come from the engine's own
    thread pools, whose threads do not inherit the caller's job group; the
    attribution is sound because every workload is one sequential client."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None
        self._n = 0

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext if self.enabled else None

    def _drain(self) -> None:
        # job-start events reach the status store through the async listener
        # bus; wait for it so the ids read at a boundary are complete
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(rec["group"], rec["name"])

    @contextmanager
    def span(self, name: str, run_id: str, kind: str):
        if not self.enabled:
            yield None
            return
        tracker = self._sc.statusTracker()
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._n, "name": name, "run_id": run_id, "kind": kind,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{os.getpid()}-{self._n}",
        }
        self._drain()
        before = set(tracker.getJobIdsForGroup(None))
        self._set_group(rec)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._drain()
            own = set(tracker.getJobIdsForGroup(rec["group"]))
            pool = set(tracker.getJobIdsForGroup(None)) - before
            rec["jobs"] = sorted(own | pool | rec.pop("_child_jobs", set()))
            rec["pool_jobs"] = sorted(pool | rec.pop("_child_pool", set()))
            if parent is not None:
                parent.setdefault("_child_jobs", set()).update(rec["jobs"])
                parent.setdefault("_child_pool", set()).update(rec["pool_jobs"])
            self._set_group(parent)
            self.spans.append(rec)

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the time its direct children cover
        (children are sequential, so their intervals do not overlap)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0)
                for s in self.spans}

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        st = self.self_times()
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps({
                    "id": s["id"], "name": s["name"], "kind": s["kind"],
                    "run_id": s["run_id"],
                    "parent": s["parent"], "start_s": round(s["start"] - t0, 6),
                    "end_s": round(s["end"] - t0, 6), "self_s": round(st[s["id"]], 6),
                    "jobs": len(s["jobs"]), "pool_jobs": len(s["pool_jobs"]),
                }) + "\n")


# ---------------------------------------------------------------------------
# host noise
# ---------------------------------------------------------------------------
def _cpu_counters() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def _load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class HostNoise:
    """Steal share and load average over a run, from /proc. Reported next to
    the result, never folded into a metric: it tells host drift between two
    sets of runs apart from a change in the program."""

    def __init__(self):
        self.cpu0 = _cpu_counters()
        self.load0 = _load1()

    def record(self) -> dict:
        cpu1 = _cpu_counters()
        d = [b - a for a, b in zip(self.cpu0, cpu1)]
        total = sum(d) or 1
        return {
            "steal_pct": round(100.0 * d[7] / total, 2),
            "idle_pct": round(100.0 * d[3] / total, 2),
            "load1_start": self.load0,
            "load1_end": _load1(),
            "cpus": os.cpu_count(),
        }
