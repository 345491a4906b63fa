"""Measurement helpers: spans, process-tree RSS, host steal, Spark event log.

Spans are recorded only from the benchmark's own files, around calls into
the package's layers; nothing inside the package is instrumented.  They
stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder: (id, name, start, end, parent).

    ``spark`` (optional) tags every Spark job a span starts with the local
    property ``perfbench.span`` so the event log attributes jobs to spans.
    A disabled tracer records nothing and never touches Spark."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.spark = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setLocalProperty("perfbench.span", str(sid))
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty(
                    "perfbench.span", str(self._stack[-1]) if self._stack else None
                )

    def self_times(self) -> dict[str, dict]:
        """name -> {self_s, total_s}.  Self time is a span's duration
        minus the part of it its direct children cover (children of one
        parent never overlap: spans are opened on one thread)."""
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in self.spans:
            d = s["end"] - s["start"]
            agg = out.setdefault(s["name"], {"self_s": 0.0, "total_s": 0.0})
            agg["self_s"] += d - child_s[s["id"]]
            agg["total_s"] += d
        return out

    def subtree(self, root_id: int) -> set[int]:
        ids = {root_id}
        for s in self.spans[root_id + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# process-tree RSS and host steal
# ---------------------------------------------------------------------------


def _tree(root: int) -> list[tuple[str, list[str], int]]:
    """(command name, stat fields after it, resident pages) of ``root`` and
    every descendant."""
    children: dict[int, list[int]] = {}
    procs: dict[int, tuple[str, list[str], int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:  # process ended while scanning
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(int(d))
        procs[int(d)] = (stat[stat.index("(") + 1:stat.rindex(")")], fields, pages)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(procs[pid])
        todo.extend(children.get(pid, ()))
    return out


def _python_rss_bytes(root: int) -> int:
    """Summed RSS of the Python processes in the tree of ``root``: the
    driver and the Python workers.  The JVM is left out: its RSS follows
    its garbage collector's timing and differs by a third between
    identical runs."""
    pages = sum(p for comm, _, p in _tree(root) if comm.startswith("python"))
    return pages * os.sysconf("SC_PAGE_SIZE")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, reaped children included) charged to
    ``root`` and its descendants.  Time the hypervisor steals is not
    charged, so this counts the work done, not the host's load."""
    tick = os.sysconf("SC_CLK_TCK")
    # utime, stime, cutime, cstime are fields 14-17 of /proc/<pid>/stat
    return sum(
        sum(int(x) for x in fields[11:15]) for _, fields, _ in _tree(root or os.getpid())
    ) / tick


class RssSampler:
    """Peak summed RSS of this process and its Python descendants, sampled
    every ``interval`` seconds while active."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _python_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, _python_rss_bytes(os.getpid()))


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two samples."""
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])
    return 100.0 * delta[7] / total if total else 0.0


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

PY_BYTES = "data sent to Python workers"
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"


class EventLog:
    """Task-level counters parsed from an uncompressed, non-rolling event log.

    Tasks are attributed to spans through the ``perfbench.span`` job
    property the Tracer sets."""

    def __init__(self, directory: str):
        self.tasks: list[dict] = []
        stage_span: dict[int, int] = {}
        for path in sorted(glob.glob(os.path.join(directory, "*"))):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        span = (ev.get("Properties") or {}).get("perfbench.span")
                        if span is not None:
                            for sid in ev.get("Stage IDs", []):
                                stage_span[sid] = int(span)
                    elif kind == "SparkListenerTaskEnd":
                        self.tasks.append(self._task(ev, stage_span))

    @staticmethod
    def _task(ev: dict, stage_span: dict) -> dict:
        m = ev.get("Task Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        acc = {}
        for a in (ev.get("Task Info") or {}).get("Accumulables", []):
            if a.get("Name") in (PY_BYTES, PY_RUN, PY_START):
                acc[a["Name"]] = acc.get(a["Name"], 0) + int(a.get("Update") or 0)
        return {
            "stage": ev.get("Stage ID"),
            "span": stage_span.get(ev.get("Stage ID")),
            "run_ms": m.get("Executor Run Time", 0),
            "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
            "shuffle_records": sw.get("Shuffle Records Written", 0),
            "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            PY_BYTES: acc.get(PY_BYTES, 0),
            PY_RUN: acc.get(PY_RUN, 0),
            PY_START: acc.get(PY_START, 0),
        }

    def select(self, span_ids: set[int]) -> list[dict]:
        return [t for t in self.tasks if t["span"] in span_ids]

    @staticmethod
    def total(tasks: list[dict], key: str) -> int:
        return sum(t[key] for t in tasks)

    @staticmethod
    def task_skew(tasks: list[dict]) -> float:
        """max / median task run time in the stage of ``tasks`` that ran
        longest in total (the stage that sets the wall)."""
        by_stage: dict[int, list[int]] = {}
        for t in tasks:
            by_stage.setdefault(t["stage"], []).append(t["run_ms"])
        if not by_stage:
            return 0.0
        times = max(by_stage.values(), key=sum)
        med = statistics.median(times)
        return max(times) / med if med > 0 else 1.0
