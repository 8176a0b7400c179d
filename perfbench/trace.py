"""Phase timing and spans around every call into the library.

Phase times are always measured (they are the end-to-end numbers).
Spans are kept only when tracing: in memory while the run goes, and
written as one JSON file when the benchmark ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    def bind(self, sc) -> None:
        self.sc = sc

    def _jobs(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    @contextmanager
    def span(self, name: str, op: int, group: str, phases: dict):
        """Time one library call (or the action) of op ``op``; adds the
        seconds, and when tracing the jobs, to ``phases[name]``."""
        jobs0 = self._jobs(group) if self.enabled else 0
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        if self.enabled:
            self.spans.append({"name": name, "op": op, "parent": parent})
            self._stack.append(idx)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            acc = phases.setdefault(name, {"s": 0.0, "jobs": 0})
            acc["s"] += end - start
            if self.enabled:
                self._stack.pop()
                jobs = self._jobs(group) - jobs0
                acc["jobs"] += jobs
                self.spans[idx].update(
                    start=start - self._t0, end=end - self._t0, jobs=jobs
                )

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"meta": meta, "spans": self.spans}, fh)
