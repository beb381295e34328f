"""Tracing for the per-layer run.

Spans are recorded around calls into the program's public functions, from
the benchmark's own code: the program itself is not instrumented.  A span
holds a name, start, end, its parent span and the run id; spans stay in
memory and are written out once, at the end of the run.

Spark evaluates lazily, so a layer's boundary is made observable by
materialising it: ``materialize`` runs the plan to its end with a ``noop``
write (every row computed, nothing stored).  A layer's self time is then
found by prefix differencing — the span of the plan ending at the layer
minus the span of the plan ending at its upstream layer.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list = []
        self._open: list = []
        self._next = 0

    @contextmanager
    def span(self, name: str):
        sid = self._next
        self._next += 1
        parent = self._open[-1] if self._open else None
        self._open.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            self._open.pop()
            self.spans.append(Span(sid, name, start, end, parent, self.run_id))

    def durations(self, name: str) -> list:
        return [s.seconds for s in self.spans if s.name == name]

    def self_times(self, layer: str, upstream: str | None) -> list:
        """Per-unit self time of ``layer`` by prefix differencing: each
        ``layer`` span minus the ``upstream`` span under the same parent."""
        up = {s.parent: s.seconds for s in self.spans if s.name == upstream}
        return [
            s.seconds - up.get(s.parent, 0.0)
            for s in self.spans
            if s.name == layer
        ]

    def median_self(self, layer: str, upstream: str | None) -> float:
        vals = self.self_times(layer, upstream)
        return statistics.median(vals) if vals else 0.0

    def dump(self, path: str, **extra) -> None:
        spans = sorted(self.spans, key=lambda s: s.start)
        t0 = spans[0].start if spans else 0.0
        rows = [
            dict(asdict(s), start=s.start - t0, end=s.end - t0) for s in spans
        ]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": rows, **extra}, f, indent=1)


def materialize(df) -> None:
    """Compute every row of ``df`` and discard it."""
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# direct kernel microbenchmarks (single process, no Spark)
# ---------------------------------------------------------------------------


def _median_per_item(fn, items: list, repeats: int) -> float:
    runs = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        for x in items:
            fn(x)
        runs.append((time.perf_counter() - t0) / len(items))
    return statistics.median(runs)


def html_kernel_us(payloads: list, repeats: int = 3) -> float:
    """Median microseconds per document of ``kernels.html.extract_doc``."""
    from tesseract_rs_spark.config import ExtractConfig
    from tesseract_rs_spark.kernels.html import extract_doc

    cfg = ExtractConfig()
    return 1e6 * _median_per_item(lambda h: extract_doc(h, cfg), payloads, repeats)


def raster_kernel_ms(payloads: list, repeats: int = 3) -> float:
    """Median milliseconds per page of ``kernels.raster.extract_raster_doc``."""
    from tesseract_rs_spark.kernels.raster import extract_raster_doc

    return 1e3 * _median_per_item(extract_raster_doc, payloads, repeats)
