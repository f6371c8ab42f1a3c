"""Spans, self time, process-tree memory and JVM counters.

Spans are recorded only by the benchmark's own code, around the calls it
makes into each layer; the engine carries no tracing. A span is
``{run, id, parent, name, start, end}`` with wall-clock seconds, kept in
memory and written out once when the run ends. With tracing off,
``Tracer.span`` records nothing.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import threading
import time
import uuid


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = self._open(name, time.time(), attrs)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()
            self._stack.pop()

    def _open(self, name: str, start: float, attrs: dict) -> int:
        with self._lock:
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            self.spans.append(
                {"run": self.run_id, "id": sid, "parent": parent, "name": name,
                 "start": start, "end": start, **attrs}
            )
            self._stack.append(sid)
        return sid

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        """A span timed elsewhere (a Spark progress entry, a child process)."""
        if not self.enabled:
            return -1
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"run": self.run_id, "id": sid, "parent": parent, "name": name,
                 "start": start, "end": end, **attrs}
            )
        return sid

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part of each span's
        interval that its children cover (children may overlap)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, summary: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "summary": summary, "spans": self.spans}, f)


# ------------------------------------------------------------ memory


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(entry))
    return out


def tree_pss_bytes(root: int) -> int:
    """Proportional set size of ``root`` and its descendants. PSS splits
    shared pages among their sharers, so a helper forked by the JVM or a
    Python worker forked by its daemon does not count the parent's
    memory a second time, as summed RSS would."""
    kids, total, todo = _children(), 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """High-water memory (PSS) of this process and all its descendants,
    sampled every ``interval`` seconds on a background thread."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_pss_bytes(pid))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# --------------------------------------------------------------- JVM


def jvm_times(spark) -> tuple[float, float]:
    """(GC seconds, JIT compile seconds) of the driver JVM so far, from
    its ``GarbageCollectorMXBean``s and ``CompilationMXBean``."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans())
    return gc_ms / 1000.0, mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0


# ------------------------------------------------------------ stats


def percentile(values: list[float], q: float) -> float:
    """Percentile (``q`` in 0..100) of a non-empty list, interpolated
    linearly between the two nearest ranks, so that a short list (a
    census pass has 6 or 11 queries) does not jump from one query to the
    next as a value crosses its neighbour."""
    s = sorted(values)
    x = q / 100.0 * (len(s) - 1)
    lo = math.floor(x)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (x - lo)


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0
