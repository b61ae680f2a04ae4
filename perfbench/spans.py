"""In-memory spans recorded around the benchmark's calls into the package.

A span is (name, start, end, parent, run id). Spans are kept in a list
and written as one JSON file when the run ends. With tracing off the
tracer records nothing, so untraced timings carry no tracing cost.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []  # ids of the open spans

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
             "run": self.run_id, "start": time.perf_counter(), "end": None}
        )
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(kids.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def self_by_name(self, name: str) -> list[float]:
        st = self.self_times()
        return [st[s["id"]] for s in self.spans if s["name"] == name and s["id"] in st]

    def write(self, path: Path, counters: dict) -> None:
        st = self.self_times()
        spans = [{**s, "self": st.get(s["id"])} for s in self.spans]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"run": self.run_id, "spans": spans, "counters": counters}))
