"""Spans, Spark event-log counters and process-tree memory for the benchmark.

Spans are recorded only in the traced run: name, start, end, parent and run
id, kept in memory and written as JSON at exit. Each span also sets the Spark
job description, so the event log (enabled only in the traced run) can
attribute task counters to the span that caused them.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. Disabled tracers time nothing extra and
    touch no Spark state."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.spark = None  # set once the session exists
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent,
               "run_id": self.run_id, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(f"span:{sid}:{name}")
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.spark is not None:
                up = self.spans[self._stack[-1]] if self._stack else None
                self.spark.sparkContext.setJobDescription(
                    f"span:{up['id']}:{up['name']}" if up else None)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


# ---- Spark event log ----

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_PY_RUN = "time to run Python workers"


def event_log_counters(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum task counters per span name from an uncompressed event log.

    Returns {span name: {counter: total}}; jobs without a span description
    are grouped under ''."""
    events = []
    # rolling event log (Spark's default): <app dir>/events_<n>_<app id>
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    stage_span: dict[int, str] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description") or ""
            name = desc.split(":", 2)[2] if desc.startswith("span:") else ""
            for sid in e["Stage IDs"]:
                stage_span[sid] = name
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        m = e.get("Task Metrics") or {}
        c = out[stage_span.get(e["Stage ID"], "")]
        c["tasks"] += 1
        c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sr = m.get("Shuffle Read Metrics") or {}
        c["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                    + sr.get("Local Bytes Read", 0))
        c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        c["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                             + m.get("Disk Bytes Spilled", 0))
        for acc in (e.get("Task Info") or {}).get("Accumulables", []):
            name, upd = acc.get("Name"), acc.get("Update")
            if upd is None:
                continue
            if name == _PY_SENT:
                c["python_bytes_in"] += float(upd)
            elif name == _PY_RECV:
                c["python_bytes_out"] += float(upd)
            elif name == _PY_RUN:
                c["python_run_s"] += float(upd) / 1e3
    return {k: dict(v) for k, v in out.items()}


# ---- memory ----

def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of `root` and all its descendants (JVM, Python
    daemon and workers), read from /proc."""
    children: dict[int, list[int]] = defaultdict(list)
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        pid = int(d)
        children[int(fields[1])].append(pid)
        rss[pid] = int(fields[21]) * page
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class PeakRss:
    """Samples the process tree's resident memory on a background thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
