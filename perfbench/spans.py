"""In-memory span recorder for the traced run.

Spans are recorded by the benchmark around calls into the package's
public functions (never inside the package): name, start, end, parent
and the id of the operation they belong to. They are kept in memory and
written out once, when the run ends.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager, nullcontext

#: span name → layer (the repo module whose public call it wraps)
LAYER = {
    "get_spark": "session",
    "parse_selector": "plans.selector",
    "LogQuery.projected": "plans.logquery",
    "render.first_line": "plans.render",
    "render.last_line": "plans.render",
    "read_arrow": "sources.arrow_ipc.read",
    "parse_cri_lines": "sources.cri",
    "write_batch.parquet": "sources.logs.write",
    "write_batch.arrow": "sources.arrow_ipc.write",
    "cri_ts_to_ns": "functions.time_ns",
    "fmt_ns_iso": "functions.time_ns",
    "IngestJob.drain": "streaming.ingest",
}


class Tracer:
    """Spans on one thread stack per thread; a disabled tracer records
    nothing and costs one attribute test per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.op = 0

    def span(self, name: str):
        return self._span(name) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
                   "op": self.op, "start": time.perf_counter(), "end": None}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def add(self, name: str, start: float, end: float) -> None:
        """Record a span whose interval was measured elsewhere."""
        if self.enabled:
            with self._lock:
                self.spans.append({"id": len(self.spans), "name": name, "parent": None,
                                   "op": self.op, "start": start, "end": end})

    def self_ms_by_layer(self) -> dict[str, float]:
        """Each layer's self time: span duration minus the part of it
        covered by child spans, summed per layer."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cur_end = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
                if c["end"] is None:
                    continue
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            layer = LAYER.get(s["name"], s["name"])
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"] - covered) * 1000
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
