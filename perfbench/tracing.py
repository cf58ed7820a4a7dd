"""In-memory spans, written out as JSON when the benchmark ends.

A span is (name, start, end, parent, workload, run id); times are
seconds on ``time.perf_counter``'s clock relative to the tracer's
creation. Spans are recorded only around calls the benchmark itself
makes into the program.
"""

from __future__ import annotations

import contextlib
import json
import os
import time


class Tracer:
    def __init__(self, workload: str, run_id: str):
        self.workload = workload
        self.run_id = run_id
        self.t0 = time.perf_counter()
        self.epoch0 = time.time()  # wall clock at t0, for Spark's times
        self.spans: list = []  # (name, start, end, parent)
        self._open: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield idx
        finally:
            self.end(idx)

    def begin(self, name: str) -> int:
        parent = self._open[-1] if self._open else None
        self.spans.append([name, time.perf_counter() - self.t0, None, parent])
        idx = len(self.spans) - 1
        self._open.append(idx)
        return idx

    def end(self, idx: int) -> float:
        """Close span idx (the innermost open one); returns its length."""
        popped = self._open.pop()
        if popped != idx:
            raise RuntimeError(f"span {idx} closed out of order ({popped})")
        span = self.spans[idx]
        span[2] = time.perf_counter() - self.t0
        return span[2] - span[1]

    def add(self, name: str, start: float, end: float, parent=None) -> int:
        """A span measured elsewhere (e.g. a Spark execution), given in
        seconds on this tracer's clock."""
        self.spans.append([name, start, end, parent])
        return len(self.spans) - 1

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = [{"id": i, "name": n, "start": s, "end": e, "parent": p,
                 "workload": self.workload, "run_id": self.run_id}
                for i, (n, s, e, p) in enumerate(self.spans)]
        with open(path, "w") as f:
            json.dump(rows, f)
