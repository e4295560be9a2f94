"""In-memory span recorder for the traced run.

A span is (id, name, parent, start, end, attrs); all spans of one run
share ``run_id``.  Nothing is written until ``dump`` at the end of the
run, so recording costs one tuple per layer call.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex
        self.spans = []
        self._stack = []

    @contextmanager
    def span(self, name, **attrs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        record = {"id": sid, "name": name, "parent": parent,
                  "start": time.perf_counter(), "end": None}
        record.update(attrs)
        self.spans.append(record)
        self._stack.append(sid)
        try:
            yield record
        finally:
            self._stack.pop()
            record["end"] = time.perf_counter()

    def min_duration(self, name):
        """Shortest span called ``name`` (0 if there is none)."""
        return min((s["end"] - s["start"] for s in self.spans
                    if s["name"] == name), default=0.0)

    def dump(self, path, **meta):
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"run_id": self.run_id, **meta, "spans": self.spans},
                      f)
