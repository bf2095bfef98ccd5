"""In-memory span recorder for the traced benchmark run.

Spans are recorded only from the benchmark's own files: inside a
``with tracer.patched(...)`` block, named module or class attributes of
the program are replaced by timing wrappers, and ``Tracer.span`` times a
call the benchmark itself makes. Nothing is
written until ``Tracer.dump`` runs at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
import uuid


class Tracer:
    def __init__(self, run_id: str | None = None):
        self.run_id = run_id or uuid.uuid4().hex[:12]
        # (name, start_ns, end_ns, parent index or -1)
        self.spans: list[tuple[str, int, int, int]] = []
        self._stack: list[int] = []

    # --- recording ---------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, time.perf_counter_ns(), 0, parent))
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            n, start, _end, p = self.spans[idx]
            self.spans[idx] = (n, start, time.perf_counter_ns(), p)

    def _wrapper(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    @contextlib.contextmanager
    def patched(self, targets):
        """``targets``: (owner, attribute, span name) triples. Each
        attribute is replaced by a traced wrapper and restored on exit."""
        saved = []
        try:
            for owner, attr, name in targets:
                fn = owner.__dict__[attr]
                saved.append((owner, attr, fn))
                setattr(owner, attr, self._wrapper(name, fn))
            yield self
        finally:
            for owner, attr, fn in reversed(saved):
                setattr(owner, attr, fn)

    # --- reading -----------------------------------------------------------

    def total_s(self, name: str, parent_name: str | None = None) -> float:
        """Summed duration of spans called ``name``; with
        ``parent_name``, only those whose direct parent has that name."""
        out = 0
        for n, start, end, p in self.spans:
            if n != name:
                continue
            if parent_name is not None and \
                    (p < 0 or self.spans[p][0] != parent_name):
                continue
            out += end - start
        return out / 1e9

    def calls(self, name: str, parent_name: str | None = None) -> int:
        return sum(1 for n, _s, _e, p in self.spans if n == name and (
            parent_name is None
            or (p >= 0 and self.spans[p][0] == parent_name)))

    def self_s(self, name: str) -> float:
        """Summed self time of spans called ``name``: each span's
        duration minus the durations of its direct children (children
        nest inside their parent, so this never double-subtracts)."""
        child = [0] * len(self.spans)
        for n, start, end, p in self.spans:
            if p >= 0:
                child[p] += end - start
        return sum(end - start - child[i]
                   for i, (n, start, end, _p) in enumerate(self.spans)
                   if n == name) / 1e9

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra,
                       "fields": ["name", "start_ns", "end_ns", "parent"],
                       "spans": self.spans}, f)
