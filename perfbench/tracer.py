"""In-memory spans for the traced run, recorded from the benchmark's side.

Span tree per op (all spans of one op share its ``op`` id):

    op -> build -> tables.load_table
    op -> collect -> stage            (stage spans use AppStatusStore
                                       submit/complete times)
    op -> stream.batch                (stream ops, from StreamingQueryProgress)

Spans stay in memory and are written out once, at the end of the run. A
span's self time is its duration minus the part of it its children cover.
"""

from __future__ import annotations

import json
import sys
import time
from contextlib import contextmanager

from layers import covered_s


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.table_calls = 0
        self.table_misses = 0
        self.table_s = 0.0

    def span(self, op: int, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        self.spans.append({"op": op, "name": name, "start": start, "end": end, "parent": parent, **attrs})
        return len(self.spans) - 1

    @contextmanager
    def load_table_spans(self, op: int, parent: int):
        """Time every ``tables.load_table`` call made while the block runs,
        and count handle-cache misses as growth of ``_TABLE_CACHE``.
        Operator modules bind ``load_table`` by name at import, so the
        wrapper replaces that name in every package module that holds it."""
        tables = sys.modules["input_data_pipeline_spark.tables"]
        original = tables.load_table

        def traced(spark, sf_dir, name):
            before = len(tables._TABLE_CACHE)
            t0 = time.time()
            try:
                return original(spark, sf_dir, name)
            finally:
                t1 = time.time()
                missed = len(tables._TABLE_CACHE) > before
                self.table_calls += 1
                self.table_misses += missed
                self.table_s += t1 - t0
                self.span(op, "tables.load_table", t0, t1, parent, table=name, miss=missed)

        holders = [
            m for n, m in list(sys.modules.items())
            if n.startswith("input_data_pipeline_spark") and getattr(m, "load_table", None) is original
        ]
        for m in holders:
            m.load_table = traced
        try:
            yield
        finally:
            for m in holders:
                m.load_table = original

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            dur = s["end"] - s["start"]
            own = dur - covered_s(kids.get(i, []), s["start"], s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "self_time_s": self.self_times(), "spans": self.spans}, f)
