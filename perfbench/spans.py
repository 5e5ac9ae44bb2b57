"""In-memory spans recorded around the benchmark's calls into each layer.

A span has a name, start, end, parent span and request id; spans stay in
memory and are written out once, at exit.  A layer's self time is its
span's duration minus the part covered by its child spans (the client is
single-threaded, so children never overlap).
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

# Span name prefix -> layer (the engine module the span calls into);
# spans of no layer are the benchmark client's own time.
LAYERS = (
    "session",
    "sources.pdf",
    "functions.text",
    "functions.embed",
    "operators.ingest",
    "operators.status",
    "operators.knn",
    "operators.serving",
    "arrow",  # pyspark's Arrow transfer between the client and the JVM
)


def layer_of(name: str) -> str:
    for layer in LAYERS:
        if name == layer or name.startswith(layer + "."):
            return layer
    return "client"


class Tracer:
    """Records spans when enabled; a disabled tracer costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request or (parent["request"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in self.spans}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
