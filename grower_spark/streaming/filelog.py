"""FileLog transport, Spark-native (reference: cmd/filelog/main.go +
internal/services/filelog/impl.go — the flagship pipeline, SURVEY.md §3.1).

Reference lifecycle: ticker -> rotate live log -> scan lines -> parallel
parse/cast workers -> buffered ClickHouse insert; SIGINT/SIGTERM -> drain.

Spark lifecycle here: file stream on the rotation directory
(``trigger(processingTime=scrape_interval)`` ≈ the ticker, S3) -> the
config-compiled LogPipeline (one codegen stage ≈ the worker pool, C1) ->
sink.  Checkpointing makes delivery at-least-once where the reference's
memory buffer was at-most-once (SURVEY.md §4.2); ``stop()`` on signal ≈
the dropper chain (C3/C5).  An optional liveness HTTP endpoint mirrors C4.

Every configuration runs ONE streaming query over the raw lines, as the
reference parses each line once on its way to one bulk insert
(handler.go:20-39).  Its ``foreachBatch`` parses the batch once, and the
sink (``ClickHouseSink``, or ``ParquetSink`` by default) splits the result
in one pass: valid rows are written and invalid lines become dead-letter
parquet parts.  The batch's time (``batchTimestampMs`` from the offset
log) is the fallback for empty Date/DateTime values and the dead lines'
``seen_at``; it enters the plan so that the generated code, once
compiled, serves every batch.
"""

from __future__ import annotations

import http.server
import inspect
import json
import logging
import os
import signal
import threading
from dataclasses import dataclass, field
from typing import Callable, Optional

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from grower_spark.config import PipelineConfig
from grower_spark.plans.pipeline import LogPipeline
from grower_spark.sinks.deadletter import DeadLetterPart
from grower_spark.sinks.files import ParquetSink
from grower_spark.sources.file import stream_lines

log = logging.getLogger(__name__)


def batch_timestamp_ms(checkpoint: str, batch_id: int) -> int:
    """``batchTimestampMs`` of micro-batch ``batch_id``: the value
    ``current_timestamp()`` has in that batch.  The offset log records it
    before the batch runs, and a replay of the batch reads it back.  The
    checkpoint is read as a local directory."""
    with open(os.path.join(checkpoint, "offsets", str(batch_id))) as fh:
        fh.readline()  # log version
        return int(json.loads(fh.readline())["batchTimestampMs"])


def _refuse_file_sink_dir(path: str, what: str) -> None:
    """Raise if a streaming file sink wrote ``path``: Spark reads such a
    directory through the sink's ``_spark_metadata`` log alone, so parts
    written there would never be read."""
    if os.path.exists(os.path.join(path, "_spark_metadata")):
        raise ValueError(
            f"{what} directory {path} was written by a streaming file sink "
            "(it holds _spark_metadata); readers would not see new parts "
            "there: use a new directory")


@dataclass
class FileLogRunner:
    """The ingest topology: a line stream (the rotation directory, or
    ``lines_df``) parsed by the config's ``LogPipeline`` into a sink.

    It runs one query, ``filelog-main``, over the raw lines.  Each batch
    is parsed once and handed over whole; with ``deadletter_path`` the
    sink is called as ``foreach_batch(parsed, batch_id,
    deadletter=DeadLetterPart(...))`` and writes both sides
    (``ClickHouseSink.foreach_batch()`` does), without it as
    ``foreach_batch(valid_rows, batch_id)``.  ``foreach_batch`` defaults
    to ``ParquetSink(output_path).foreach_batch()``.
    """

    spark: SparkSession
    config: PipelineConfig
    logs_dir: str
    output_path: str
    checkpoint_root: str
    scrape_interval_seconds: int = 60  # reference default, cmd/filelog/main.go:56-61
    max_files_per_trigger: int = 1
    deadletter_path: Optional[str] = None
    foreach_batch: Optional[Callable] = None  # e.g. ClickHouseSink.foreach_batch()
    available_now: bool = False  # drain-and-stop mode (tests / backfill)
    # caller-supplied streaming DataFrame[value: string] overriding the
    # text-directory source — the syslog/kafkalog topologies feed the SAME
    # runner from a filebuf spool (cli.py), so trigger/checkpoint/deadletter
    # wiring exists once
    lines_df: Optional["DataFrame"] = None
    queries: list = field(default_factory=list)
    # set by install_signal_handlers; await_termination switches to polling
    _stop_requested: Optional[threading.Event] = None

    def start(self) -> "FileLogRunner":
        lines = self.lines_df if self.lines_df is not None else stream_lines(
            self.spark,
            self.logs_dir,
            max_files_per_trigger=self.max_files_per_trigger,
        )
        pipeline = LogPipeline(self.config)
        checkpoint = os.path.join(self.checkpoint_root, "main")

        writer = lines.writeStream.foreachBatch(
            self._parse_batch(pipeline, checkpoint)
        ).option("checkpointLocation", checkpoint)
        if self.available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(
                processingTime=f"{self.scrape_interval_seconds} seconds"
            )
        self.queries.append(writer.queryName("filelog-main").start())
        return self

    def _parse_batch(self, pipeline: LogPipeline, checkpoint: str) -> Callable:
        """The query's ``foreachBatch`` function."""
        sink = self.foreach_batch
        if sink is None:
            output = os.path.abspath(self.output_path)
            _refuse_file_sink_dir(output, "output")
            sink = ParquetSink(output).foreach_batch()
        dead = self.deadletter_path and os.path.abspath(self.deadletter_path)
        if dead:
            _refuse_file_sink_dir(dead, "dead-letter")
            if "deadletter" not in inspect.signature(sink).parameters:
                raise TypeError(
                    "with deadletter_path, foreach_batch must accept a "
                    "deadletter= keyword (as ClickHouseSink.foreach_batch() "
                    "does) and write the invalid lines it is given")
        jvm = self.spark._jvm
        zone = jvm.org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
            self.spark.conf.get("spark.sql.session.timeZone"))

        def run(batch_df: DataFrame, batch_id: int) -> None:
            now_ms = batch_timestamp_ms(checkpoint, batch_id)
            parsed = pipeline.parse_detailed(batch_df, batch_time_ms=now_ms)
            if not dead:
                sink(parsed.where(F.col("_valid")).drop("_raw", "_valid"), batch_id)
                return
            seen_date = jvm.java.time.Instant.ofEpochMilli(now_ms).atZone(
                zone).toLocalDate().toString()
            sink(parsed, batch_id,
                 deadletter=DeadLetterPart(dead, batch_id, now_ms, seen_date))

        return run

    @classmethod
    def for_queries(cls, queries: list) -> "FileLogRunner":
        """A runner wrapping externally built streaming queries — reuses
        the signal-safe stop/await machinery (poll-the-flag handlers,
        dead-query exception surfacing) without the parse pipeline.
        Used by CLI modes whose query isn't a LogPipeline (e.g.
        ``publish --logs-dir``)."""
        runner = cls.__new__(cls)
        runner.queries = list(queries)
        runner._stop_requested = None
        return runner

    def await_termination(self, timeout: Optional[int] = None) -> None:
        if self._stop_requested is None:
            for q in self.queries:
                q.awaitTermination(timeout)
            return
        # Signal-handler mode: POLL instead of blocking in one py4j call.
        # The handler may only set a flag — a py4j call from inside a
        # signal handler re-enters the per-thread connection the
        # interrupted awaitTermination still holds and deadlocks (found by
        # the --follow SIGTERM e2e: main thread stuck in send_command,
        # handler's stop() never completes).
        import time as _time

        deadline = None if timeout is None else _time.monotonic() + timeout
        while True:
            if self._stop_requested.is_set():
                self.stop()
                for q in self.queries:
                    q.awaitTermination(30)
                return
            # A query that died with an error must RAISE here, exactly as
            # the blocking awaitTermination would — otherwise a crashed
            # pipeline exits 0 (and a dead query beside a live one would
            # spin forever).
            for q in self.queries:
                if not q.isActive:
                    exc = q.exception()
                    if exc is not None:
                        raise exc
            if all(not q.isActive for q in self.queries):
                return
            if deadline is not None and _time.monotonic() >= deadline:
                return
            _time.sleep(0.5)

    def stop(self) -> None:
        # Warn-and-continue over a poisoned handle (reference discipline,
        # impl.go:179-181): one query failing to stop must not leave the
        # remaining queries running.
        for q in self.queries:
            try:
                q.stop()
            except Exception:
                log.warning("query %s failed to stop cleanly",
                            getattr(q, "name", None) or q, exc_info=True)

    def install_signal_handlers(self) -> None:
        """SIGINT/SIGTERM -> graceful stop (reference pkg/signal/notify.go).

        The handler only SETS A FLAG: stopping the queries means py4j
        calls, and the signal arrives on the main thread mid-py4j-call
        (awaitTermination), whose connection is not re-entrant.
        ``await_termination`` polls the flag and does the real stop."""
        self._stop_requested = threading.Event()

        def _handler(signum, frame):
            self._stop_requested.set()

        signal.signal(signal.SIGINT, _handler)
        signal.signal(signal.SIGTERM, _handler)


class StreamMetrics:
    """Cumulative streaming metrics in Prometheus text exposition format.

    The reference left "sending metrics to prometheus" as a TODO
    (README.md:27-31); here it's a ``StreamingQueryListener`` that
    accumulates per-query totals from progress events plus last-batch
    gauges, rendered by the liveness server's ``/metrics`` endpoint.  The
    last batch's time per phase (``durationMs``: ``walCommit``,
    ``addBatch``, ``commitOffsets``, ...) is a gauge labelled by phase.

    Register with ``spark.streams.addListener(metrics.listener())``.
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.rows_total: dict[str, int] = {}
        self.batches_total: dict[str, int] = {}
        self.last_batch_rows: dict[str, int] = {}
        self.last_rows_per_sec: dict[str, float] = {}
        self.last_batch_duration_s: dict[str, dict[str, float]] = {}

    def record(
        self,
        name: str,
        num_input_rows: int,
        rows_per_sec: float,
        duration_ms: Optional[dict] = None,
    ) -> None:
        with self._lock:
            self.rows_total[name] = self.rows_total.get(name, 0) + num_input_rows
            self.batches_total[name] = self.batches_total.get(name, 0) + 1
            self.last_batch_rows[name] = num_input_rows
            self.last_rows_per_sec[name] = rows_per_sec
            if duration_ms is not None:
                self.last_batch_duration_s[name] = {
                    phase: ms / 1000.0 for phase, ms in duration_ms.items()
                }

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        metrics = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                p = event.progress
                metrics.record(
                    p.name or str(p.id),
                    int(p.numInputRows or 0),
                    float(p.processedRowsPerSecond or 0.0),
                    dict(p.durationMs or {}),
                )

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        return _Listener()

    def render(self) -> str:
        def series(metric: str, mtype: str, values: dict) -> list[str]:
            out = [f"# TYPE {metric} {mtype}"]
            for name in sorted(values):
                out.append(f'{metric}{{query="{name}"}} {values[name]}')
            return out

        with self._lock:
            lines = (
                series("grower_stream_rows_total", "counter", self.rows_total)
                + series("grower_stream_batches_total", "counter", self.batches_total)
                + series("grower_stream_last_batch_rows", "gauge", self.last_batch_rows)
                + series(
                    "grower_stream_processed_rows_per_second",
                    "gauge",
                    self.last_rows_per_sec,
                )
                + ["# TYPE grower_stream_last_batch_duration_seconds gauge"]
                + [
                    f'grower_stream_last_batch_duration_seconds'
                    f'{{query="{name}",phase="{phase}"}} {phases[phase]}'
                    for name, phases in sorted(self.last_batch_duration_s.items())
                    for phase in sorted(phases)
                ]
            )
        return "\n".join(lines) + "\n"


def start_liveness_server(
    port: int, metrics: Optional[StreamMetrics] = None
) -> threading.Thread:
    """GET /live -> 200 'Alive' (reference C4, cmd/filelog/main.go:220-241);
    GET /metrics -> Prometheus text exposition when a ``StreamMetrics`` is
    attached (reference TODO, README.md:27-31)."""

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            if self.path == "/live":
                body = b"Alive"
            elif self.path == "/metrics" and metrics is not None:
                body = metrics.render().encode()
            else:
                self.send_error(404)
                return
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):  # silence
            pass

    server = http.server.ThreadingHTTPServer(("0.0.0.0", port), Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    thread.server = server  # type: ignore[attr-defined]
    return thread
