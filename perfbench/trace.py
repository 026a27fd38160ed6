"""In-memory spans recorded by the benchmark's own wrappers.

A span is ``(id, parent, name, start, end)`` with times from
``time.perf_counter``; every span of one run carries the run id when it is
written out.  Spans stay in memory until ``write`` at the end of the run,
so tracing costs one clock read and one list append per boundary.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, run_id: str, process: str):
        self.run_id = run_id
        self.process = process
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = self._stack()
            sid = next(self._ids)
            parent = stack[-1] if stack else 0
            stack.append(sid)
            start = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.spans.append((sid, parent, name, start, time.perf_counter()))
                stack.pop()

        return traced

    def summary(self) -> dict:
        """name -> {"count", "total_s", "self_s"}; self time is a span's
        duration minus the part of it its child spans cover."""
        children: dict[int, list] = defaultdict(list)
        for sid, parent, _, start, end in self.spans:
            if parent:
                children[parent].append((start, end))
        out: dict[str, dict] = {}
        for sid, _, name, start, end in self.spans:
            covered, reach = 0.0, start
            for cs, ce in sorted(children.get(sid, ())):
                cs, ce = max(cs, reach), min(ce, end)
                if ce > cs:
                    covered += ce - cs
                    reach = ce
            s = out.setdefault(name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
            s["count"] += 1
            s["total_s"] += end - start
            s["self_s"] += (end - start) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "a") as f:
            for sid, parent, name, start, end in self.spans:
                f.write(json.dumps({"run": self.run_id, "process": self.process, "id": sid,
                                    "parent": parent, "name": name, "start": start,
                                    "end": end}) + "\n")
