"""Measurement helpers: layer spans, Spark job counts, percentiles and
process-tree memory.

Spans are recorded by the benchmark around calls into the package's
modules (its layers); the package itself is not changed.  Each span gets
its own Spark job group, so the jobs a call fires are counted from
outside with ``statusTracker().getJobIdsForGroup``.  A layer's self time
is its spans' duration minus the part covered by child spans.
"""

from __future__ import annotations

import functools
import json
import math
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = ("session", "sources", "operators", "streaming", "sinks", "jobs", "suite")


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (``p`` in 0..100) of a non-empty list."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def tail_percentile(n: int) -> int | None:
    """The highest of p90/p75 that leaves at least ten samples beyond it
    among ``n``, or None when neither does (a p90 needs 100 samples)."""
    for p in (90, 75):
        if n * (100 - p) / 100.0 >= 10:
            return p
    return None


class Tracer:
    """In-memory span recorder.  Disabled, every method is a no-op and
    ``span`` costs one branch, so untraced runs measure the program alone."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next,
            "name": name,
            "layer": name.split(".", 1)[0],
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "group": f"perfbench-{os.getpid()}-{self._next}",
        }
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def wrap(self, layer: str, fn):
        """``fn`` wrapped in a span named ``<layer>.<fn name>``."""
        name = f"{layer}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def instrument(self, module, layer: str, names: list[str]) -> None:
        """Replace ``module.<name>`` by a traced wrapper, so calls that
        reach the function through that attribute record a span."""
        if not self.enabled:
            return
        for n in names:
            setattr(module, n, self.wrap(layer, getattr(module, n)))

    def finish(self, spark) -> None:
        """Resolve each span's own Spark job count.  Job-start events
        reach the status store through the asynchronous listener bus, so
        drain the bus first."""
        if not self.enabled:
            return
        bus = spark.sparkContext._jsc.sc().listenerBus()
        bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            rec["jobs"] = len(tracker.getJobIdsForGroup(rec["group"]))

    def self_times(self) -> dict[str, float]:
        """Seconds per layer spent in that layer's spans and not in a
        child span."""
        child = defaultdict(float)
        for rec in self.spans:
            if rec["parent"] is not None:
                child[rec["parent"]] += rec["end"] - rec["start"]
        out = {layer: 0.0 for layer in LAYERS}
        for rec in self.spans:
            if rec["layer"] in out:
                out[rec["layer"]] += rec["end"] - rec["start"] - child[rec["id"]]
        return out

    def jobs_under(self, root: dict) -> int:
        """Jobs fired inside ``root``, its descendant spans included."""
        kids = defaultdict(list)
        for s in self.spans:
            kids[s["parent"]].append(s)
        total, todo = 0, [root]
        while todo:
            s = todo.pop()
            total += s["jobs"]
            todo.extend(kids[s["id"]])
        return total

    def named(self, name: str) -> list[dict]:
        return [r for r in self.spans if r["name"] == name]

    def dump(self, path: str) -> None:
        fields = ("id", "name", "layer", "parent", "op", "start", "end", "jobs")
        with open(path, "w") as fh:
            json.dump([{k: r.get(k) for k in fields} for r in self.spans], fh)


def _tree_pids(root: int) -> list[int]:
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields after it are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _rss_bytes(pid: int) -> int:
    """Proportional resident set (PSS): pages shared between processes,
    such as those Python workers inherit from their fork server, are
    split among the sharers instead of counted once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class TreeMemory:
    """Samples the resident memory of this process and all its
    descendants (driver Python, the JVM, Python workers) and reports the
    sum over processes of each one's peak.  Summing per-process peaks
    does not depend on whether one sample happened to catch every
    process at its high point together.  Also remembers every
    descendant it saw, so shutdown can wait for them."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peaks: dict[int, int] = {}
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    @property
    def peak(self) -> int:
        return sum(self.peaks.values())

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.sample(me)
            self._stop.wait(self.interval)

    def sample(self, root: int) -> None:
        for pid in _tree_pids(root):
            if pid != root:
                self.seen.add(pid)
            self.peaks[pid] = max(self.peaks.get(pid, 0), _rss_bytes(pid))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample(os.getpid())
        return False
