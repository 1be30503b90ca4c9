"""Tracing from outside the library.

``Tracer.wrap`` replaces a public function or method of the package with
a wrapper that records a span (name, start, end, parent, op id) and sets
the Spark job group for the duration of the call, so every Spark job the
call launches is tagged with the span that launched it. Spans are kept in
memory and written out at exit. ``fold_event_log`` reads Spark's
uncompressed event log and folds task metrics by job group; ``self_times``
turns spans into per-name self time (a span's duration minus the part of
it its child spans cover). Nothing here edits library code.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time
from collections import defaultdict

GROUP_PREFIX = "perfbench:"
_GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self.enabled = False
        self.op_id = None
        #: name -> calls of count-only wrappers
        self.counts: dict[str, int] = defaultdict(int)

    # ---- spans -----------------------------------------------------------

    def _parents(self) -> list[int]:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        return self._stack.ids

    def span(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span named ``name`` with the job group set
        to the span's id; restores the previous group afterwards."""
        if not self.enabled:
            return fn(*args, **kwargs)
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        parents = self._parents()
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": parents[-1] if parents else None,
            "op": self.op_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        prev = sc.getLocalProperty(_GROUP_KEY) if sc is not None else None
        if sc is not None:
            sc.setLocalProperty(_GROUP_KEY, f"{GROUP_PREFIX}{sid}")
        parents.append(sid)
        try:
            return fn(*args, **kwargs)
        finally:
            parents.pop()
            rec["end"] = time.time()
            if sc is not None:
                sc.setLocalProperty(_GROUP_KEY, prev)

    def wrap(self, owner, attr: str, name: str, count_only: bool = False) -> None:
        """Trace ``owner.attr`` (a module function or a class method)
        under ``name``; with ``count_only`` just count its calls. A
        module function is also replaced wherever the package imported
        it by name."""
        orig = owner.__dict__[attr]

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if count_only:
                if self.enabled:
                    self.counts[name] += 1
                return orig(*args, **kwargs)
            return self.span(name, orig, *args, **kwargs)

        targets = [owner]
        if isinstance(owner, type(sys)):
            pkg = owner.__name__.split(".")[0]
            targets += [
                m for n, m in list(sys.modules.items())
                if m is not None and m is not owner and n.split(".")[0] == pkg
                and m.__dict__.get(attr) is orig
            ]
        for t in targets:
            self._patched.append((t, attr, orig))
            setattr(t, attr, wrapper)

    def unwrap_all(self) -> None:
        for t, attr, orig in reversed(self._patched):
            setattr(t, attr, orig)
        self._patched.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# --------------------------------------------------------------------------
# span arithmetic
# --------------------------------------------------------------------------


def _covered(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> self time: its duration minus the union of its direct
    children's intervals (clipped to the span)."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        kids = [
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children[s["id"]]
        ]
        kids = [(a, b) for a, b in kids if b > a]
        out[s["id"]] = (s["end"] - s["start"]) - _covered(kids)
    return out


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------


def _zero():
    return {
        "jobs": 0,
        "tasks": 0,
        "run_ms": 0,
        "cpu_ns": 0,
        "gc_ms": 0,
        "shuffle_bytes": 0,
        "spill_bytes": 0,
    }


def read_events(log_dir: str):
    """Yield the JSON events of every (uncompressed) event log file under
    ``log_dir``, in file name order."""
    paths = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not p.endswith(".inprogress.crc")
    )
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def fold_event_log(events, window: tuple[float, float] | None = None) -> dict:
    """Fold task metrics into {job group (None when unset): totals}.
    Totals hold jobs, tasks, executor run ms, executor CPU ns, GC ms,
    shuffle bytes (read + written) and spill bytes (memory + disk).
    With ``window`` (epoch seconds), only jobs submitted inside it count.
    A stage shared by several jobs counts for the first."""
    stage_group: dict[int, object] = {}
    out: dict[object, dict] = defaultdict(_zero)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            t = ev.get("Submission Time", 0) / 1e3
            if window is not None and not window[0] <= t <= window[1]:
                continue
            group = (ev.get("Properties") or {}).get(_GROUP_KEY)
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            if ev.get("Stage ID") not in stage_group:
                continue
            m = ev.get("Task Metrics") or {}
            acc = out[stage_group[ev.get("Stage ID")]]
            acc["tasks"] += 1
            acc["run_ms"] += m.get("Executor Run Time", 0)
            acc["cpu_ns"] += m.get("Executor CPU Time", 0)
            acc["gc_ms"] += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            acc["shuffle_bytes"] += (
                sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0)
                + sw.get("Shuffle Bytes Written", 0)
            )
            acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return dict(out)


def totals(folded: dict) -> dict:
    out = _zero()
    for v in folded.values():
        for k in out:
            out[k] += v[k]
    return out


def span_of_group(group) -> int | None:
    if isinstance(group, str) and group.startswith(GROUP_PREFIX):
        return int(group[len(GROUP_PREFIX):])
    return None
