"""Spans around calls into the engine, and the Spark event-log rollup.

A span records (name, start, end, parent, op id) in memory.  Each span also
sets a Spark job group of its own, so every job the call starts can be found
again in the event log and charged to that span.  Calls made inside the
engine (a stage's snapshot commit, its lineage append) are reached by
temporarily wrapping the engine's module attributes from here; nothing in
the package is changed.
"""

from __future__ import annotations

import contextlib
import glob
import json
import statistics
import time
from collections import defaultdict

GROUP_PROP = "spark.jobGroup.id"


class NullTracer:
    """Tracing off: spans cost one context manager and record nothing."""

    def span(self, name: str):
        return contextlib.nullcontext({})


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self.op_id: str | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "group": f"{name}#{sid}",
        }
        prev = self.sc.getLocalProperty(GROUP_PROP)
        self.sc.setLocalProperty(GROUP_PROP, rec["group"])
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(GROUP_PROP, prev)

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it inside span
        ``name``, until ``unpatch``."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def durations(self, name: str, op: str | None = None) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and (op is None or s["op"] == op)]


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN = "time to run Python workers"


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, summed task counters, Python-boundary SQL
    metrics and the task skew of its widest stage."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    tasks: dict[int, list[dict]] = defaultdict(list)
    accums: dict[int, dict[str, float]] = {}
    for path in sorted(glob.glob(f"{log_dir}/*/events_*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[(ev.get("Properties") or {}).get(GROUP_PROP) or ""] += 1
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    stage_group.setdefault(sid, (ev.get("Properties") or {}).get(GROUP_PROP) or "")
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev["Task Info"]
                    tasks[ev["Stage ID"]].append(
                        {
                            "dur": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                            "gc": m.get("JVM GC Time", 0) / 1000.0,
                            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                            "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        }
                    )
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc = {}
                    for a in info.get("Accumulables", []):
                        if a.get("Name") in (PY_SENT, PY_RETURNED, PY_RUN):
                            acc[a["Name"]] = acc.get(a["Name"], 0.0) + float(a.get("Value") or 0)
                    accums[info["Stage ID"]] = acc
    out: dict[str, dict] = defaultdict(
        lambda: {
            "jobs": 0,
            "gc_s": 0.0,
            "spill_bytes": 0,
            "shuffle_write_bytes": 0,
            "python_bytes_sent": 0.0,
            "python_bytes_returned": 0.0,
            "python_worker_s": 0.0,
            "task_skew": 0.0,
            "_widest": 0,
        }
    )
    for group, n in jobs.items():
        out[group]["jobs"] = n
    for sid, group in stage_group.items():
        ts = tasks.get(sid, [])
        g = out[group]
        g["gc_s"] += sum(t["gc"] for t in ts)
        g["spill_bytes"] += sum(t["spill"] for t in ts)
        g["shuffle_write_bytes"] += sum(t["shuffle_write"] for t in ts)
        acc = accums.get(sid, {})
        g["python_bytes_sent"] += acc.get(PY_SENT, 0.0)
        g["python_bytes_returned"] += acc.get(PY_RETURNED, 0.0)
        # a millisecond timing metric
        g["python_worker_s"] += acc.get(PY_RUN, 0.0) / 1e3
        if ts and len(ts) > g["_widest"]:
            durs = [t["dur"] for t in ts]
            med = statistics.median(durs)
            g["_widest"] = len(ts)
            g["task_skew"] = max(durs) / med if med > 0 else 1.0
    for g in out.values():
        g.pop("_widest")
    return dict(out)


COUNTERS = ("jobs", "shuffle_write_bytes", "spill_bytes", "python_bytes_sent", "python_bytes_returned", "python_worker_s")


def subtree_counters(spans: list[dict], groups: dict[str, dict], name: str) -> dict[str, float]:
    """Event-log counters of every span called ``name`` and of the spans
    nested in it, averaged over those spans; ``task_skew`` is the largest
    seen."""
    children: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s["id"])
    roots = [s for s in spans if s["name"] == name]
    out = {k: 0.0 for k in COUNTERS}
    out["task_skew"] = 0.0
    for root in roots:
        todo = [root["id"]]
        while todo:
            sid = todo.pop()
            todo.extend(children[sid])
            g = groups.get(spans[sid]["group"])
            if g:
                for k in COUNTERS:
                    out[k] += g[k] / len(roots)
                out["task_skew"] = max(out["task_skew"], g["task_skew"])
    return out
