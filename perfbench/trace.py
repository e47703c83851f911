"""In-memory spans recorded around the benchmark's calls into each layer.

A span has a name, start, end, parent and run id.  A layer's self time is
its span's duration minus the part of that interval its child spans
cover.  ``patched`` wraps module functions for the length of a ``with``
block so that calls the program makes into them are recorded too.
"""

from __future__ import annotations

import contextlib
import json
import time
from pathlib import Path


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, sid: int) -> float:
        s = self.spans[sid]
        covered, cursor = 0.0, s["start"]
        for c in sorted(self.children(sid), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return (s["end"] - s["start"]) - covered

    def descendants(self, sid: int) -> list[dict]:
        out, todo = [], [sid]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += [k["id"] for k in kids]
        return out

    def write(self, path: Path, **extra) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        spans = [dict(s, self_s=self.self_time(s["id"])) for s in self.spans]
        path.write_text(json.dumps({"run_id": self.run_id, "spans": spans,
                                    **extra}, indent=1, default=str))


@contextlib.contextmanager
def patched(module, wrappers: dict):
    """Replace ``module.<name>`` with ``make(original)`` for each entry of
    ``wrappers`` inside the block, restoring the originals afterwards."""
    originals = {name: getattr(module, name) for name in wrappers}
    try:
        for name, make in wrappers.items():
            setattr(module, name, make(originals[name]))
        yield
    finally:
        for name, fn in originals.items():
            setattr(module, name, fn)
