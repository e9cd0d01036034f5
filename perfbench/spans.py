"""Spans, percentiles and per-request Spark job counts.

Spans are recorded only here, around calls into newsleak_spark's public
functions; nothing inside the program is instrumented. They are kept in
memory and written out when the run ends.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: str


class Tracer:
    """Thread-aware span recorder: each thread has its own open-span
    stack, so concurrent clients' spans never parent each other."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, name, 0.0, 0.0, parent.id if parent else None,
                                   request or (parent.request if parent else "")))
        sp = self.spans[sid]
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def span_cost_s() -> float:
    """Seconds one span's entry and exit cost, timed on a scratch tracer."""
    tr, n = Tracer(), 20_000
    t0 = time.perf_counter()
    for _ in range(n):
        with tr.span("cost", request="cost"):
            pass
    return (time.perf_counter() - t0) / n


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def high_percentile(xs: list[float], beyond: int = 10) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has at
    least ``beyond`` samples above it; the median when that percentile
    would not be above the median."""
    xs = sorted(xs)
    n = len(xs)
    rank = n - beyond  # xs[rank-1] has exactly `beyond` samples after it
    if 2 * rank <= n + 1:
        return median(xs), 50.0
    return xs[rank - 1], 100.0 * rank / n


class JobCounter:
    """Exact Spark job and task counts per request: each request runs
    under its own job group, read back from the status tracker once the
    listener bus has caught up."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.groups: dict[str, str] = {}  # group -> request type

    def start(self, group: str, rtype: str) -> None:
        """Run this thread's next jobs under the request's own group."""
        self.groups[group] = rtype
        self.sc.setJobGroup(group, rtype)

    def stop(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def per_type(self, timeout_s: float = 30.0) -> dict[str, tuple[float, float]]:
        """request type -> (jobs per request, tasks per request)."""
        st = self.sc.statusTracker()
        deadline = time.monotonic() + timeout_s
        per: dict[str, list[tuple[int, int]]] = {}
        for group, rtype in self.groups.items():
            while True:
                ids = st.getJobIdsForGroup(group)
                infos = [st.getJobInfo(j) for j in ids]
                if all(i is not None and i.status != "RUNNING" for i in infos) or time.monotonic() > deadline:
                    break
                time.sleep(0.05)
            tasks = 0
            for info in infos:
                for sid in info.stageIds if info else ():
                    stage = st.getStageInfo(sid)
                    tasks += stage.numCompletedTasks if stage else 0
            per.setdefault(rtype, []).append((len(ids), tasks))
        return {
            t: (sum(j for j, _ in v) / len(v), sum(k for _, k in v) / len(v))
            for t, v in per.items()
        }

