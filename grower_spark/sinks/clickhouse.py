"""ClickHouse batch-insert sink (reference K1: zikwall/clickhouse-buffer
wiring at internal/services/filelog/impl.go:60-78).

Reference behavior to match: per-writer buffered batches flushed by size
(default 5000) or interval (default 2000ms), retry on failure, LZ4 wire
compression, per-insert ``max_execution_time``, columns named explicitly.

Spark-native mapping: Structured Streaming's micro-batch IS the buffer —
``trigger(processingTime=flush_interval)`` bounds latency and the batch
admission options bound size; ``foreachBatch`` delivers each batch to
``ClickHouseSink``, which hands every partition to the client as Arrow
record batches (``mapInArrow``), sliced to ``insert_chunk`` rows, with
app-level retry per chunk.  Unlike the reference's in-memory buffer (data
loss on crash, SURVEY.md §4.2), checkpointing + a replayable source
upgrades delivery to at-least-once.

Given a dead-letter destination, the sink takes the whole parse result
of a batch (``LogPipeline.parse_detailed``: ``_valid``, ``_raw`` and the
typed columns) and splits it in the same ``mapInArrow`` pass: each task
inserts its valid rows, then writes its invalid lines as one dead-letter
parquet part (``sinks.deadletter.DeadLetterPart``).  ``FileLogRunner``
wires it that way, so one streaming query parses each line once.

The client is injectable — anything with ``insert(table, rows,
column_names)`` taking a pyarrow ``RecordBatch`` as ``rows`` works — and
two real options ship:

- ``HttpClickHouseClient`` (this module): stdlib HTTP client speaking
  ClickHouse's public HTTP interface (``POST /?query=INSERT ... FORMAT
  TabSeparated`` with TSV body, settings as URL params, credentials via
  ``X-ClickHouse-User``/``Key`` headers) — testable
  against an in-process fake server, and a legitimate production path
  (the HTTP interface is ClickHouse's canonical second protocol).
- ``NativeClickHouseClient`` (``sinks/chnative.py``): the native TCP
  protocol with optional LZ4 frames, matching the reference's
  clickhouse-go wiring; it encodes each Arrow column into a native block
  with numpy.
"""

from __future__ import annotations

import datetime as _dt
import gzip as _gzip
import time
import urllib.parse
import urllib.request
from dataclasses import dataclass
from typing import Callable, Optional, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame

from grower_spark.sinks.deadletter import DeadLetterPart, split_columns, split_valid


def _tsv_value(v) -> str:
    """One value in ClickHouse TabSeparated encoding.

    Escaping per the TSV format spec: backslash, tab, newline, CR; NULL is
    ``\\N``; DateTime as ``YYYY-MM-DD hh:mm:ss`` (server-local seconds —
    ClickHouse DateTime carries no sub-second), Date as ``YYYY-MM-DD``;
    bools as 1/0 (UInt8 convention).
    """
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, _dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, _dt.date):
        return v.strftime("%Y-%m-%d")
    s = str(v)
    return (
        s.replace("\\", "\\\\")
        .replace("\t", "\\t")
        .replace("\n", "\\n")
        .replace("\r", "\\r")
    )


class ClickHouseHttpError(RuntimeError):
    """Non-2xx reply from the ClickHouse HTTP interface (body included —
    ClickHouse returns the exception text there)."""


class HttpClickHouseClient:
    """Minimal ClickHouse client over the public HTTP interface (stdlib).

    Satisfies the sink's client protocol: ``insert(table, rows,
    column_names)`` plus ``command(sql)`` for DDL.  One POST per insert
    call; the sink's chunking already bounds statement size.

    ``compress`` picks the request-body ``Content-Encoding``: ``True`` or
    ``"gzip"`` = stdlib gzip; ``"lz4"`` (r10 verdict item 5) = LZ4 *frame*
    format via pyarrow's bundled codec (no ``lz4`` package in this env —
    probed 2026-08-15; ClickHouse >= 22.10 accepts ``Content-Encoding:
    lz4`` frame bodies on the HTTP interface, giving wire parity with the
    reference's native-protocol LZ4, cmd/filelog/main.go:181-183).
    Measured on a varied 10k-line nginx TSV body, 1.4 MB (SCALE.md r11):
    lz4 compresses ~22x faster than gzip (2.4 ms vs 55 ms) at ~1.7x the
    output size (4.0x vs 6.7x ratio) — the same CPU-vs-wire trade the
    reference picked with native-protocol LZ4.  ``False`` = identity.
    """

    def __init__(
        self,
        url: str = "http://localhost:8123",
        database: str = "default",
        user: Optional[str] = None,
        password: Optional[str] = None,
        settings: Optional[dict] = None,
        timeout: float = 30.0,
        compress: "bool | str" = False,
    ) -> None:
        self.url = url.rstrip("/")
        self.database = database
        self.user = user
        self.password = password
        self.settings = dict(settings or {})
        self.timeout = timeout
        if compress is True:
            compress = "gzip"
        if compress not in (False, None, "gzip", "lz4"):
            raise ValueError(
                f"compress must be False, 'gzip' or 'lz4', got {compress!r}"
            )
        if compress == "lz4":
            import pyarrow  # bundled lz4-frame codec; no lz4 pkg in env

            self._lz4 = pyarrow.Codec("lz4")
        self.compress = compress

    def _post(self, query: str, body: bytes = b"") -> bytes:
        params = {"database": self.database, "query": query}
        for k, v in self.settings.items():
            params[str(k)] = str(v)
        url = f"{self.url}/?{urllib.parse.urlencode(params)}"
        headers = {"Content-Type": "application/octet-stream"}
        if self.user is not None:
            headers["X-ClickHouse-User"] = self.user
        if self.password is not None:
            headers["X-ClickHouse-Key"] = self.password
        if self.compress and body:
            if self.compress == "lz4":
                body = self._lz4.compress(body, asbytes=True)
            else:
                body = _gzip.compress(body)
            headers["Content-Encoding"] = self.compress
        req = urllib.request.Request(url, data=body, headers=headers, method="POST")
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                return resp.read()
        except urllib.error.HTTPError as exc:  # non-2xx: surface CH's text
            detail = exc.read().decode("utf-8", errors="replace")
            raise ClickHouseHttpError(
                f"ClickHouse HTTP {exc.code}: {detail[:500]}"
            ) from None

    def command(self, sql: str) -> None:
        """Run a statement with no data body (DDL, SET, ...)."""
        self._post(sql)

    def insert(self, table: str, rows: "pa.RecordBatch | Sequence[tuple]",
               column_names: Sequence[str]) -> None:
        """``rows`` is a pyarrow ``RecordBatch``, read column by column, or
        row tuples positional per ``column_names``."""
        if isinstance(rows, pa.RecordBatch):
            rows = zip(*(rows.column(c).to_pylist() for c in column_names))
        cols = ", ".join(f"`{c}`" for c in column_names)
        query = f"INSERT INTO {table} ({cols}) FORMAT TabSeparated"
        body = "".join(
            "\t".join(_tsv_value(v) for v in row) + "\n" for row in rows
        ).encode("utf-8")
        self._post(query, body)


def clickhouse_ddl(
    table: str,
    columns: Sequence[tuple[str, str]],
    partition_by: str = "toYYYYMM(insert_date)",
    order_by: str = "(status, insert_date)",
    insert_date_from: Optional[str] = "time_local",
) -> str:
    """CREATE TABLE DDL mirroring migrations/sample_test.sql:1-19, including
    the materialized ``insert_date`` column (:13) and MergeTree layout."""
    cols = [f"    `{name}` {chtype}" for name, chtype in columns]
    if insert_date_from:
        cols.append(f"    `insert_date` Date DEFAULT toDate({insert_date_from})")
    body = ",\n".join(cols)
    return (
        f"CREATE TABLE IF NOT EXISTS {table}\n(\n{body}\n)\n"
        f"ENGINE = MergeTree\nPARTITION BY {partition_by}\nORDER BY {order_by}"
    )


def spark_to_clickhouse_type(spark_type: str) -> str:
    """Inverse of the §1.3 widening map, for DDL generation."""
    return {
        "tinyint": "Int8",
        "smallint": "Int16",
        "int": "Int32",
        "bigint": "Int64",
        "decimal(20,0)": "UInt64",
        "float": "Float32",
        "double": "Float64",
        "string": "String",
        "date": "Date",
        "timestamp": "DateTime",
    }.get(spark_type, "String")


@dataclass
class ClickHouseSink:
    """``foreachBatch`` writer with named columns and retry-with-backoff.

    ``foreach_batch`` selects ``columns`` and runs ``insert_partition`` on
    every partition through ``mapInArrow``, so each partition arrives as
    an iterator of pyarrow ``RecordBatch``es and no row is built in
    Python.  ``client_factory`` is called once per partition task (the
    client is not serializable); each batch is sliced into chunks of at
    most ``insert_chunk`` rows, so one giant micro-batch cannot create one
    giant INSERT, and a failed chunk is retried on its own.  With a
    ``deadletter`` part, ``foreach_batch`` splits a parse result instead
    (``sinks.deadletter.split_valid``).
    """

    table: str
    columns: Sequence[str]
    client_factory: Callable[[], object]
    max_retries: int = 3
    backoff_seconds: float = 0.5
    insert_chunk: int = 10000

    def insert_partition(self, batches) -> None:
        """Insert one partition, given as an iterator of pyarrow
        ``RecordBatch``es, in chunks of at most ``insert_chunk`` rows
        (zero-copy slices), each chunk retried on its own."""
        client = self.client_factory()
        for batch in batches:
            for lo in range(0, batch.num_rows, self.insert_chunk):
                self._insert_with_retry(client,
                                        batch.slice(lo, self.insert_chunk))

    def _insert_with_retry(self, client, rows: pa.RecordBatch) -> None:
        attempt = 0
        while True:
            try:
                client.insert(self.table, rows, column_names=list(self.columns))
                return
            except Exception:
                attempt += 1
                if attempt > self.max_retries:
                    raise
                time.sleep(self.backoff_seconds * (2 ** (attempt - 1)))

    def foreach_batch(self) -> Callable[..., None]:
        """The function to hand to ``writeStream.foreachBatch`` (also
        callable directly with a batch DataFrame for batch mode).

        Called as ``write(batch_df, batch_id, deadletter=part)``, it takes
        ``batch_df`` to be a ``parse_detailed`` result and splits it into
        inserted rows and dead-letter lines in one pass."""
        sink = self

        def insert(batches):
            sink.insert_partition(batches)
            return iter(())

        def write(batch_df: DataFrame, batch_id: int = 0,
                  deadletter: Optional[DeadLetterPart] = None) -> None:
            # mapInArrow hands each partition over as Arrow record batches;
            # the function yields nothing, and collect() runs the job
            if deadletter is None:
                batch_df.select(*sink.columns).mapInArrow(
                    insert, "inserted long").collect()
                return

            def split(batches):
                split_valid(batches, sink.columns, sink.insert_partition,
                            deadletter)
                return iter(())

            batch_df.select(*split_columns(sink.columns)).mapInArrow(
                split, "inserted long").collect()

        return write


class IdempotentForeachBatch:
    """Batch-id guard around a foreachBatch function.

    Structured Streaming replays the last uncommitted micro-batch after a
    crash, so a plain insert sink is at-least-once.  Recording committed
    batch ids (atomic marker files; point ``marker_dir`` at durable storage
    in production, or swap the marker for a ClickHouse dedup table /
    ReplacingMergeTree key) makes the replay a no-op — effectively-once.
    The reference had neither: its in-memory buffer *lost* rows on crash
    (SURVEY.md §4.2).
    """

    def __init__(self, inner: Callable[[DataFrame, int], None], marker_dir: str):
        import os

        self.inner = inner
        self.marker_dir = marker_dir
        os.makedirs(marker_dir, exist_ok=True)

    def _marker(self, batch_id: int) -> str:
        import os

        return os.path.join(self.marker_dir, f"batch-{batch_id}.done")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        import os
        import tempfile

        marker = self._marker(batch_id)
        if os.path.exists(marker):
            return  # replayed batch: already delivered
        self.inner(batch_df, batch_id)
        fd, tmp = tempfile.mkstemp(dir=self.marker_dir)
        os.close(fd)
        os.rename(tmp, marker)  # atomic commit record
