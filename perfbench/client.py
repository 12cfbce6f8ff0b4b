"""Client-side pieces the benchmark hands to the program's sink.

Spark's executor Python workers unpickle these by module path; the
program's ``get_spark`` puts the repository root on their ``PYTHONPATH``,
which is why this package sits at the root.

``NativeFactory`` is the plain ``client_factory`` of the untimed and
timed runs.  The traced run swaps in ``TracedSink``: a timed row iterator
around ``ClickHouseSink.insert_partition`` and a timing client wrapper.
Each task writes its spans to its own file in the trace directory; the
driver merges them after the run.
"""

from __future__ import annotations

import dataclasses
import json
import os
import time
import uuid
from dataclasses import dataclass, field

from grower_spark.sinks.chnative import (
    NativeClickHouseClient,
    compress_stream,
    encode_block,
)
from grower_spark.sinks.clickhouse import ClickHouseSink


@dataclass(frozen=True)
class NativeFactory:
    host: str
    port: int

    def __call__(self) -> NativeClickHouseClient:
        return NativeClickHouseClient(self.host, self.port, compression="lz4")


class Spans:
    """In-memory span log: name, start, end, parent id, trace id
    (workload/run/batch) and optional attributes."""

    def __init__(self, trace_id: str) -> None:
        self.trace_id = trace_id
        self.items: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: str | None = None,
            span_id: str | None = None, **attrs) -> str:
        span_id = span_id or f"{name}:{uuid.uuid4().hex[:12]}"
        self.items.append({
            "id": span_id, "name": name, "start": start, "end": end,
            "parent": parent, "trace_id": self.trace_id, **attrs,
        })
        return span_id

    def write(self, trace_dir: str) -> None:
        path = os.path.join(trace_dir, f"spans-{os.getpid()}-{uuid.uuid4().hex}.jsonl")
        with open(path, "w") as f:
            for s in self.items:
                f.write(json.dumps(s) + "\n")


def read_spans(trace_dir: str) -> list[dict]:
    out = []
    for name in sorted(os.listdir(trace_dir)):
        if name.startswith("spans-"):
            with open(os.path.join(trace_dir, name)) as f:
                out.extend(json.loads(line) for line in f)
    return out


class _TimedRows:
    """Row iterator that adds the time spent waiting on Spark's rows."""

    def __init__(self, rows) -> None:
        self._rows = iter(rows)
        self.wait_s = 0.0
        self.n = 0

    def __iter__(self):
        return self

    def __next__(self):
        t0 = time.perf_counter()
        try:
            row = next(self._rows)
        finally:
            self.wait_s += time.perf_counter() - t0
        self.n += 1
        return row


class _TracedClient:
    """Times ``insert``; then, outside that span, re-encodes and
    re-compresses the same chunk to split the insert into encode,
    compress and send."""

    def __init__(self, inner: NativeClickHouseClient, types: dict,
                 spans: Spans, parent: str) -> None:
        self.inner, self.types, self.spans, self.parent = inner, types, spans, parent
        self._failed_last = False

    def insert(self, table, rows, column_names) -> None:
        t0 = time.time()
        try:
            self.inner.insert(table, rows, column_names)
        except Exception:
            self.spans.add("sinks.insert", t0, time.time(), self.parent,
                           rows=len(rows), error=True, retry=self._failed_last)
            self._failed_last = True
            raise
        t1 = time.time()
        self.spans.add("sinks.insert", t0, t1, self.parent, rows=len(rows),
                       error=False, retry=self._failed_last)
        self._failed_last = False
        step = self.inner.insert_chunk_rows
        for lo in range(0, len(rows), step):
            chunk = rows[lo:lo + step]
            block = [(c, self.types[c], [row[i] for row in chunk])
                     for i, c in enumerate(column_names)]
            e0 = time.time()
            body = encode_block(block, self.inner.revision)
            e1 = time.time()
            wire = compress_stream(body)
            e2 = time.time()
            self.spans.add("sinks.encode", e0, e1, self.parent,
                           values=len(chunk) * len(column_names))
            self.spans.add("sinks.compress", e1, e2, self.parent,
                           raw=len(body), wire=len(wire))


@dataclass
class TracedSink(ClickHouseSink):
    """``ClickHouseSink`` whose partitions record spans.  ``types`` maps
    column -> ClickHouse type for the traced re-encode."""

    trace_dir: str = ""
    trace_id: str = ""
    parent: str | None = None
    types: dict = field(default_factory=dict)

    def insert_partition(self, rows_iter) -> None:
        spans = Spans(self.trace_id)
        part_id = f"sinks.partition:{uuid.uuid4().hex[:12]}"
        base = self.client_factory

        def factory():
            t0 = time.time()
            client = base()
            spans.add("sinks.connect", t0, time.time(), part_id)
            return _TracedClient(client, self.types, spans, part_id)

        rows = _TimedRows(rows_iter)
        inner = dataclasses.replace(self, client_factory=factory)
        t0 = time.time()
        try:
            ClickHouseSink.insert_partition(inner, rows)
        finally:
            spans.add("sinks.partition", t0, time.time(), self.parent, part_id,
                      upstream_wait_s=rows.wait_s, rows=rows.n)
            spans.write(self.trace_dir)
