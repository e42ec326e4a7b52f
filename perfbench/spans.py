"""In-memory spans from the benchmark's own code, and the Spark event
log read back into per-layer figures.

A span has a name, a start, an end, a parent and the run id; spans are
kept in memory and written out once, when the run ends.  Spark
evaluates lazily, so a span around a call that only builds a plan
measures planning; the workloads therefore put spans around actions.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """Records nested spans when enabled; a no-op otherwise."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """``group`` names the Spark layer that jobs started inside the
        span are charged to (innermost span with a group wins)."""
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "group": group,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the
        time its child spans cover (children never overlap here: the
        benchmark calls layers one after another)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - c
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")

    def group_at(self, t_ms: float) -> str | None:
        """Group of the innermost grouped span open at wall time ``t_ms``."""
        best = None
        for s in self.spans:
            if s["group"] and s["start"] * 1000 <= t_ms <= (s["end"] or 1e18) * 1000:
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best["group"] if best else None


SPARK_FIELDS = ("task_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "jvm_gc_s", "jobs")


def spark_by_group(event_log_dir: str, tracer: Tracer) -> dict[str, dict[str, float]]:
    """Sum task metrics from the event log per layer group.  A job is
    charged to the group of the span open when it was submitted, which
    also covers jobs started from streaming and worker threads."""
    files = [os.path.join(event_log_dir, f) for f in os.listdir(event_log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one Spark event log in {event_log_dir}, found {len(files)}")
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def acc(group: str) -> dict[str, float]:
        return out.setdefault(group, dict.fromkeys(SPARK_FIELDS, 0.0))

    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = tracer.group_at(ev["Submission Time"]) or "other"
                acc(g)["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = g
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                a = acc(stage_group.get(ev["Stage ID"], "other"))
                a["task_s"] += m["Executor Run Time"] / 1000.0
                a["jvm_gc_s"] += m["JVM GC Time"] / 1000.0
                a["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                a["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                r = m["Shuffle Read Metrics"]
                a["shuffle_read_bytes"] += r["Remote Bytes Read"] + r["Local Bytes Read"]
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident sets (VmHWM) of the given processes."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0
