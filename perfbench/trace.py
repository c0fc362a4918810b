"""Spans recorded around the benchmark's own calls into ftidx.

A span has a name, start and end (seconds on the ``perf_counter``
clock), the id of the span that caused it, a request id shared by
every span of one request, and free-form attributes.  Spans stay in
memory and are written out once, when the run ends.

A disabled tracer records nothing and sets no Spark job group, so the
untraced run pays only for entering an empty context manager.
"""

from __future__ import annotations

import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc=None):
        """``sc`` is the SparkContext whose jobs are counted per span;
        None disables tracing."""
        self.enabled = sc is not None
        self._sc = sc
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        """Record one span.  ``jobs=True`` runs the body under its own
        Spark job group and stores the number of jobs it launched as
        the span's ``spark_jobs`` attribute."""
        if not self.enabled:
            yield {}
            return
        parent = getattr(self._local, "current", None)
        sid = next(self._ids)
        rec = {"id": sid, "name": name,
               "parent": parent["id"] if parent else None,
               "request": parent["request"] if parent else sid, **attrs}
        group = f"perfbench-{sid}"
        if jobs:
            prev_group = self._sc.getLocalProperty("spark.jobGroup.id")
            self._sc.setJobGroup(group, name)
        self._local.current = rec
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._local.current = parent
            if jobs:
                rec["spark_jobs"] = len(
                    self._sc.statusTracker().getJobIdsForGroup(group))
                self._sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(rec)

    def named(self, name: str) -> list[dict]:
        with self._lock:
            return [s for s in self.spans if s["name"] == name]

    def median_ms(self, name: str) -> float:
        return statistics.median(
            1e3 * (s["end"] - s["start"]) for s in self.named(name))

    def write(self, path) -> None:
        with self._lock, open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


class JobCounter:
    """Counts the Spark jobs one thread launches between ``start`` and
    ``stop`` — a single job group around a whole loop, so the loop's
    per-query cost is untouched."""

    def __init__(self, sc, name: str):
        self._sc = sc
        self._group = f"perfbench-{name}"

    def start(self) -> None:
        self._sc.setJobGroup(self._group, self._group)

    def stop(self) -> int:
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        return len(self._sc.statusTracker().getJobIdsForGroup(self._group))
