"""Spans and counts for the traced run, recorded only from benchmark code.

Every hook here wraps a public seam of the program instead of editing it:

- ``TracedSink`` subclasses ``ClickHouseSink`` and times ``insert_partition``;
- ``TracedClientFactory`` is the sink's ``client_factory``; in each worker
  it hands out ``TracedClient`` (times ``insert``, counts connects) and
  wraps the ``chnative`` module's ``encode_block`` and ``compress_stream``;
- ``TracedFileBuf`` registers the ``filebuf`` reader under another name
  and times its micro-batch reads;
- ``ProgressLog`` is a ``StreamingQueryListener`` keeping each progress
  event;
- ``registry_call`` runs one registry row under a job group per phase
  and reads the phase's jobs from Spark's status tracker.

Tracing is on while the file ``<trace_dir>/ON`` exists, so one run can
compare traced and untraced work on the same objects.  Spans live in
memory per process and are appended to ``<trace_dir>/spans-<pid>.jsonl``
when a partition or a read ends; ``read_spans`` folds them into self
times (a span's length minus the time its child spans cover).
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from grower_spark.sinks import chnative
from grower_spark.sinks.clickhouse import ClickHouseSink
from grower_spark.sources.filebuf import FileBufDataSource, _FileBufStreamReader


def tracing_on(trace_dir: str) -> bool:
    return bool(trace_dir) and os.path.exists(os.path.join(trace_dir, "ON"))


class Tracer:
    """Per-process span buffer; spans nest per thread."""

    def __init__(self) -> None:
        self.on = False
        self.spans: list[tuple[str, float, float]] = []  # name, dur, self
        self.counts: dict[str, float] = {}
        self.values: list[tuple[str, float]] = []
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = [time.perf_counter(), 0.0]  # start, time covered by children
        stack.append(rec)
        try:
            yield
        finally:
            stack.pop()
            dur = time.perf_counter() - rec[0]
            if stack:
                stack[-1][1] += dur
            self.spans.append((name, dur, dur - rec[1]))

    def count(self, name: str, n: float = 1) -> None:
        if self.on:
            self.counts[name] = self.counts.get(name, 0) + n

    def value(self, name: str, v: float) -> None:
        if self.on:
            self.values.append((name, v))

    def flush(self, trace_dir: str) -> None:
        if not (self.spans or self.counts or self.values):
            return
        path = os.path.join(trace_dir, f"spans-{os.getpid()}.jsonl")
        with open(path, "a") as fh:
            fh.write(json.dumps({"spans": self.spans, "counts": self.counts,
                                 "values": self.values}) + "\n")
        self.spans, self.counts, self.values = [], {}, []


TRACER = Tracer()
_PATCHED = False


def _patch_chnative() -> None:
    """Time the encoder and the frame compressor the client calls by
    module-global name."""
    global _PATCHED
    if _PATCHED:
        return
    encode, compress = chnative.encode_block, chnative.compress_stream

    def encode_block(columns, revision):
        with TRACER.span("sinks.chnative.encode"):
            out = encode(columns, revision)
        if columns:
            TRACER.count("sinks.chnative.blocks")
            TRACER.count("sinks.chnative.bytes_raw", len(out))
        return out

    def compress_stream(data, method=chnative.METHOD_LZ4):
        with TRACER.span("sinks.chnative.compress"):
            out = compress(data, method)
        TRACER.count("sinks.chnative.bytes_wire", len(out))
        return out

    chnative.encode_block = encode_block
    chnative.compress_stream = compress_stream
    _PATCHED = True


class TracedClient(chnative.NativeClickHouseClient):
    def connect(self):
        if self._sock is None:
            TRACER.count("sinks.chnative.connects")
        return super().connect()

    def insert(self, table, rows, column_names):
        t0 = time.perf_counter()
        try:
            with TRACER.span("sinks.chnative.insert"):
                super().insert(table, rows, column_names)
        except Exception:
            TRACER.count("sinks.clickhouse.retries")
            raise
        TRACER.value("sinks.clickhouse.insert_s", time.perf_counter() - t0)


@dataclass
class TracedClientFactory:
    """Picklable ``client_factory``: a plain LZ4 native client, or the
    traced one while tracing is on in this worker."""

    host: str
    port: int

    def __call__(self):
        cls = chnative.NativeClickHouseClient
        if TRACER.on:
            _patch_chnative()
            cls = TracedClient
        return cls(self.host, self.port, compression="lz4")


@dataclass
class TracedSink(ClickHouseSink):
    trace_dir: str = ""

    def insert_partition(self, rows_iter) -> None:
        if not tracing_on(self.trace_dir):
            return super().insert_partition(rows_iter)
        TRACER.on = True
        try:
            with TRACER.span("sinks.clickhouse.insert_partition"):
                super().insert_partition(rows_iter)
            TRACER.count("sinks.clickhouse.partitions")
        finally:
            TRACER.flush(self.trace_dir)
            TRACER.on = False


class _TracedStreamReader(_FileBufStreamReader):
    def __init__(self, options):
        super().__init__(options)
        self.trace_dir = options.get("trace_dir", "")

    def read(self, start):
        if not tracing_on(self.trace_dir):
            return super().read(start)
        TRACER.on = True
        try:
            with TRACER.span("sources.filebuf.read"):
                rows, end = super().read(start)
            now = time.time()
            new = set(end["consumed"]) - set(start.get("consumed", []))
            for path in new:
                TRACER.value("sources.spool_wait_s",
                             now - os.path.getmtime(path))
            TRACER.value("sources.filebuf.offset_files", len(end["consumed"]))
        finally:
            TRACER.flush(self.trace_dir)
            TRACER.on = False
        return rows, end


class TracedFileBuf(FileBufDataSource):
    @classmethod
    def name(cls):
        return "filebuf_traced"

    def simpleStreamReader(self, schema):
        return _TracedStreamReader(self.options)


def progress_log(spark):
    """Register and return a listener that keeps every progress event:
    arrival time (monotonic), batch id, query name, input rows and the
    per-phase ``durationMs``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[dict] = []

        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            self.events.append({"t": time.monotonic(), "batch": p.batchId,
                                "name": p.name or "",
                                "rows": int(p.numInputRows or 0),
                                "ms": dict(p.durationMs or {})})

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    listener = ProgressLog()
    spark.streams.addListener(listener)
    return listener


def read_spans(trace_dir: str) -> tuple[dict, dict, dict]:
    """Fold every process's span file: (self seconds by span name,
    summed counts, value lists by name)."""
    selfs: dict[str, float] = {}
    counts: dict[str, float] = {}
    values: dict[str, list[float]] = {}
    for name in os.listdir(trace_dir):
        if not name.startswith("spans-"):
            continue
        with open(os.path.join(trace_dir, name)) as fh:
            for line in fh:
                rec = json.loads(line)
                for span, _dur, self_s in rec["spans"]:
                    selfs[span] = selfs.get(span, 0.0) + self_s
                for k, v in rec["counts"].items():
                    counts[k] = counts.get(k, 0) + v
                for k, v in rec["values"]:
                    values.setdefault(k, []).append(v)
    return selfs, counts, values


_CALLS = 0


def registry_call(spark, query, sf_dir: str, traced: bool) -> tuple:
    """Build and collect one registry row: (DataFrame, rows, phase
    numbers).  ``build`` is the call that returns the DataFrame (some rows
    run jobs there, such as checkpoints), ``exec`` the collect.  Traced,
    each phase runs under its own job group, and the numbers add its job
    count and shuffle-write megabytes and the collected query's Catalyst
    planning time (``QueryPlanningTracker`` phases)."""
    global _CALLS
    _CALLS += 1
    group = f"perfbench.{_CALLS}"  # finished groups keep their job ids
    sc = spark.sparkContext
    out = {}
    t0 = time.perf_counter()
    if traced:
        sc.setJobGroup(f"{group}.build", "registry row build")
    df = query(spark, sf_dir)
    t1 = time.perf_counter()
    if traced:
        sc.setJobGroup(f"{group}.exec", "registry row collect")
    rows = df.collect()
    t2 = time.perf_counter()
    out["build_s"], out["exec_s"] = t1 - t0, t2 - t1
    if traced:
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        shuffle = 0
        for phase in ("build", "exec"):
            jobs = tracker.getJobIdsForGroup(f"{group}.{phase}")
            for job in jobs:
                for stage in tracker.getJobInfo(job).stageIds:
                    try:
                        shuffle += store.lastStageAttempt(stage).shuffleWriteBytes()
                    except Exception:  # a skipped stage never ran
                        pass
            out[f"{phase}_jobs"] = len(jobs)
        out["shuffle_write_mb"] = shuffle / 2**20
        phases = df._jdf.queryExecution().tracker().phases().values().iterator()
        catalyst_ms = 0
        while phases.hasNext():
            catalyst_ms += phases.next().durationMs()
        out["catalyst_s"] = catalyst_ms / 1000.0
    return df, rows, out
