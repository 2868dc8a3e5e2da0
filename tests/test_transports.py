"""Transport tests: streaming FileLog end-to-end, rotation/retention,
syslog envelope extraction, ClickHouse sink batching/retry/DDL, kafka
framing, dead-letter persistence."""

import dataclasses
import os

import pyarrow as pa
import pyspark.sql.functions as F
import pytest

from grower_spark.config import PipelineConfig
from grower_spark.plans.pipeline import LogPipeline
from grower_spark.session import CHECKPOINT_FILE_MANAGER
from grower_spark.sinks.clickhouse import ClickHouseSink, clickhouse_ddl
from grower_spark.sinks.deadletter import DeadLetterPart, write_deadletter_batch
from grower_spark.sinks.files import ParquetSink, pick_time_col, write_batch_files
from grower_spark.sinks.kafka import frame_for_kafka, kafka_writer_options
from grower_spark.sources.kafka import kafka_reader_options
from grower_spark.sources.rotate import Rotator, clear_backup_files, stamp_name
from grower_spark.sources.syslog import rfc3164_extract
from grower_spark.streaming.filelog import FileLogRunner, start_liveness_server

CONFIG = {
    "nginx": {
        "log_format": '$remote_addr - $remote_user [$time_local] "$request" $status',
        "log_time_format": "02/Jan/2006:15:04:05 -0700",
    },
    "scheme": {
        "logs_table": "t.access_log",
        "columns": {
            "remote_addr": "remote_addr",
            "time_local": "time_local",
            "request": "request",
            "status": "status",
        },
    },
}

LINE = '1.2.3.4 - bob [21/Jul/2022:00:30:43 +0300] "GET / HTTP/1.1" 200'
BAD = "not a log line"


def test_filelog_streaming_end_to_end(spark, tmp_path):
    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "access.log-1.growerlog").write_text(
        "\n".join([LINE, LINE.replace(" 200", " 404"), BAD]) + "\n"
    )
    (logs / "access.log-2.growerlog").write_text(LINE.replace(" 200", " 500") + "\n")

    runner = FileLogRunner(
        spark,
        PipelineConfig.from_dict(CONFIG),
        logs_dir=str(logs),
        output_path=str(tmp_path / "out"),
        checkpoint_root=str(tmp_path / "ckpt"),
        deadletter_path=str(tmp_path / "dl"),
        max_files_per_trigger=1,
        available_now=True,
    ).start()
    runner.await_termination(timeout=120)

    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 3
    assert sorted(r["status"] for r in out.select("status").collect()) == [200, 404, 500]
    assert "insert_month" in out.columns  # monthly partitioning in place
    assert out.select("insert_date").distinct().collect()[0][0].isoformat() == "2022-07-20"

    dl = spark.read.parquet(str(tmp_path / "dl"))
    assert [r["line"] for r in dl.collect()] == [BAD]


def test_filelog_streaming_resumes_from_checkpoint(spark, tmp_path):
    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "a.growerlog").write_text(LINE + "\n")
    kwargs = dict(
        spark=spark,
        config=PipelineConfig.from_dict(CONFIG),
        logs_dir=str(logs),
        output_path=str(tmp_path / "out"),
        checkpoint_root=str(tmp_path / "ckpt"),
        available_now=True,
    )
    FileLogRunner(**kwargs).start().await_termination(timeout=120)
    # second run: only the NEW file is processed (offsets checkpointed)
    (logs / "b.growerlog").write_text(LINE.replace(" 200", " 201") + "\n")
    FileLogRunner(**kwargs).start().await_termination(timeout=120)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert sorted(r["status"] for r in out.collect()) == [200, 201]


FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def _offset_log_manager(query) -> str:
    return (query._jsq.streamingQuery().offsetLog().fileManager()
            .getClass().getName())


def test_filelog_checkpoint_logs_skip_file_context(spark, tmp_path):
    """The session writes checkpoint logs through Spark's FileSystem-based
    manager, whose renames and creates start no ``readlink``/``chmod``
    process on the local file system."""
    (tmp_path / "logs").mkdir()
    runner = FileLogRunner(
        spark, PipelineConfig.from_dict(CONFIG),
        logs_dir=str(tmp_path / "logs"), output_path=str(tmp_path / "out"),
        checkpoint_root=str(tmp_path / "ckpt"),
    ).start()
    try:
        assert _offset_log_manager(runner.queries[0]) == CHECKPOINT_FILE_MANAGER
    finally:
        runner.stop()


def test_file_context_checkpoint_resumes_under_filesystem_manager(spark, tmp_path):
    """A checkpoint written by the FileContext-based manager (Spark's
    default) resumes under the session's manager: the same files, and
    every row and dead line lands once."""
    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "a.growerlog").write_text(LINE + "\n" + BAD + "\n")
    kwargs = dict(
        spark=spark, config=PipelineConfig.from_dict(CONFIG),
        logs_dir=str(logs), output_path=str(tmp_path / "out"),
        checkpoint_root=str(tmp_path / "ckpt"),
        deadletter_path=str(tmp_path / "dl"), available_now=True,
    )
    key = "spark.sql.streaming.checkpointFileManagerClass"
    spark.conf.set(key, FILE_CONTEXT_MANAGER)
    try:
        old = FileLogRunner(**kwargs).start()
        old.await_termination(timeout=120)
    finally:
        spark.conf.set(key, CHECKPOINT_FILE_MANAGER)
    assert _offset_log_manager(old.queries[0]) == FILE_CONTEXT_MANAGER
    (logs / "b.growerlog").write_text(LINE.replace(" 200", " 201") + "\n")
    new = FileLogRunner(**kwargs).start()
    new.await_termination(timeout=120)
    assert _offset_log_manager(new.queries[0]) == CHECKPOINT_FILE_MANAGER
    out = spark.read.parquet(str(tmp_path / "out"))
    assert sorted(r["status"] for r in out.collect()) == [200, 201]
    assert [r["line"] for r in spark.read.parquet(str(tmp_path / "dl")).collect()] == [BAD]
    assert sorted(os.listdir(tmp_path / "ckpt" / "main" / "commits")) == [
        ".0.crc", ".1.crc", "0", "1"]


def test_rotator_and_retention(tmp_path):
    live = tmp_path / "access.log"
    live.write_text("x\n")
    clock = {"t": 1000.0}
    reopened = []
    rot = Rotator(str(live), reopen=lambda: reopened.append(1), clock=lambda: clock["t"])
    backup = rot.rotate()
    assert backup == str(tmp_path / "access.log-1000.growerlog")
    assert os.path.exists(backup) and not os.path.exists(live)
    assert reopened == [1]
    assert rot.rotate() is None  # nothing to rotate now

    # retention: keep newest 2, drop older-than-50s among survivors
    for ts in (1100, 1200, 1300):
        (tmp_path / f"access.log-{ts}.growerlog").write_text("y\n")
    deleted = clear_backup_files(str(live), str(tmp_path), max_backups=2,
                                 max_age_seconds=50, now=1310)
    assert sorted(os.path.basename(p) for p in deleted) == [
        "access.log-1000.growerlog",  # beyond max_backups
        "access.log-1100.growerlog",  # beyond max_backups
        "access.log-1200.growerlog",  # kept by count, dropped by age
    ]
    assert os.path.exists(tmp_path / "access.log-1300.growerlog")


def test_stamp_name_format():
    assert stamp_name("/var/log/access.log", 42) == "/var/log/access.log-42.growerlog"


def test_rotate_with_compression_and_spark_readback(spark, tmp_path):
    """compress=True gzips the backup (reference 'compressing logs' TODO);
    retention counts .gz backups; Spark's text source reads them
    transparently so the rotation-directory stream keeps working."""
    import gzip

    live = tmp_path / "access.log"
    live.write_text("line one\nline two\n")
    rot = Rotator(str(live), clock=lambda: 2000.0, compress=True)
    backup = rot.rotate()
    assert backup == str(tmp_path / "access.log-2000.growerlog.gz")
    assert os.path.exists(backup) and not os.path.exists(live)
    assert not os.path.exists(backup[:-3])  # original removed
    with gzip.open(backup, "rt") as fh:
        assert fh.read() == "line one\nline two\n"

    # retention sees compressed backups
    deleted = clear_backup_files(str(live), str(tmp_path), max_backups=0)
    assert deleted == [backup]

    # Spark reads .gz text transparently
    live.write_text("fresh\n")
    Rotator(str(live), clock=lambda: 3000.0, compress=True).rotate()
    rows = {r["value"] for r in spark.read.text(str(tmp_path)).collect()}
    assert rows == {"fresh"} or rows == set()  # live log may be empty now
    rows_all = {
        r["value"]
        for r in spark.read.text(str(tmp_path / "access.log-3000.growerlog.gz")).collect()
    }
    assert rows_all == {"fresh"}


def test_rfc3164_extract(spark):
    frames = [
        f"<190>Jul 21 00:30:43 web-01 nginx: {LINE}",
        f"<13>Jul  2 01:02:03 host-x app[123]: {LINE}",
        "garbage frame",
    ]
    df = rfc3164_extract(spark.createDataFrame([(x,) for x in frames], ["value"]))
    rows = df.collect()
    assert rows[0]["pri"] == 190 and rows[0]["facility"] == 23 and rows[0]["severity"] == 6
    assert rows[0]["tag"] == "nginx" and rows[0]["value"] == LINE
    assert rows[1]["tag"] == "app" and rows[1]["value"] == LINE
    assert rows[2]["pri"] is None and rows[2]["value"] == ""
    # piping content into the pipeline drops the garbage frame (reference drop)
    pipeline = LogPipeline(PipelineConfig.from_dict(CONFIG))
    assert pipeline.parse(df.select("value")).count() == 2


def _row_tuples(batch, column_names):
    """The rows of a sink-delivered RecordBatch as tuples in column order."""
    return list(zip(*(batch.column(c).to_pylist() for c in column_names)))


class FlakyClient:
    def __init__(self, fail_times=0):
        self.fail_times = fail_times
        self.inserts = []

    def insert(self, table, rows, column_names):
        if self.fail_times > 0:
            self.fail_times -= 1
            raise RuntimeError("transient")
        self.inserts.append(
            (table, _row_tuples(rows, column_names), list(column_names)))


def test_clickhouse_sink_batches_and_retries(spark):
    client = FlakyClient(fail_times=2)
    sink = ClickHouseSink(
        table="db.access_log",
        columns=["remote_addr", "status"],
        client_factory=lambda: client,
        backoff_seconds=0.0,
        insert_chunk=2,
    )
    rows = [{"remote_addr": f"1.1.1.{i}", "status": 200 + i, "extra": "x"} for i in range(5)]
    sink.insert_partition(iter([pa.RecordBatch.from_pylist(rows)]))
    assert len(client.inserts) == 3  # chunks of 2,2,1
    table, first_chunk, cols = client.inserts[0]
    assert table == "db.access_log" and cols == ["remote_addr", "status"]
    assert first_chunk == [("1.1.1.0", 200), ("1.1.1.1", 201)]


def test_clickhouse_sink_gives_up_after_retries():
    client = FlakyClient(fail_times=99)
    sink = ClickHouseSink(
        table="t", columns=["a"], client_factory=lambda: client,
        backoff_seconds=0.0, max_retries=2,
    )
    with pytest.raises(RuntimeError):
        sink.insert_partition(iter([pa.RecordBatch.from_pylist([{"a": 1}])]))


class FileBackedClient:
    """Executor-side fake: inserts append to files so the driver can
    observe them (foreachPartition runs in worker processes)."""

    def __init__(self, directory):
        self.directory = directory

    def insert(self, table, rows, column_names):
        import os
        import uuid

        path = os.path.join(self.directory, f"{uuid.uuid4().hex}.txt")
        with open(path, "w") as fh:
            for row in _row_tuples(rows, column_names):
                fh.write(f"{table}|{','.join(column_names)}|{row}\n")


def test_clickhouse_foreach_batch_roundtrip(spark, tmp_path):
    out = tmp_path / "inserts"
    out.mkdir()
    out_str = str(out)
    sink = ClickHouseSink(
        table="db.t", columns=["status"],
        client_factory=lambda: FileBackedClient(out_str),
    )
    df = spark.createDataFrame([(200,), (404,)], ["status"]).coalesce(1)
    sink.foreach_batch()(df, 0)
    lines = sorted(
        line for f in out.iterdir() for line in f.read_text().splitlines()
    )
    assert lines == ["db.t|status|(200,)", "db.t|status|(404,)"]


def _write_logs(logs, n_files):
    """One good line per file (status 200 + file number), one bad line and
    one line whose time is ``-``."""
    logs.mkdir()
    for k in range(n_files):
        (logs / f"access-{k}.growerlog").write_text("\n".join([
            LINE.replace(" 200", f" {200 + k}"),
            f"{BAD} {k}",
            LINE.replace("21/Jul/2022:00:30:43 +0300", "-"),
        ]) + "\n")


@pytest.mark.parametrize("sink", ["clickhouse", "parquet"])
def test_clickhouse_topology_compiles_its_code_once(spark, tmp_path, sink):
    """The ingest topology runs one query whose generated code is the
    same in every micro-batch, whichever sink it writes to: after the
    first file, Spark's codegen compile count stays flat (the batch's time
    enters the plan as a string behind a barrier, not as an inlined
    timestamp literal)."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    out = tmp_path / "out"
    out.mkdir()
    out_str = str(out)
    if sink == "clickhouse":
        write = ClickHouseSink(
            table="db.t", columns=["remote_addr", "time_local", "status"],
            client_factory=lambda: FileBackedClient(out_str),
        ).foreach_batch()
    else:
        write = ParquetSink(out_str).foreach_batch()
    compiles = []

    def counted(batch_df, batch_id, deadletter=None):
        write(batch_df, batch_id, deadletter=deadletter)
        compiles.append(codegen.METRIC_COMPILATION_TIME().getCount())

    _write_logs(tmp_path / "logs", 4)
    runner = FileLogRunner(
        spark, PipelineConfig.from_dict(CONFIG),
        logs_dir=str(tmp_path / "logs"), output_path="",
        checkpoint_root=str(tmp_path / "ckpt"),
        deadletter_path=str(tmp_path / "dl"),
        foreach_batch=counted, available_now=True,
    ).start()
    runner.await_termination(timeout=120)
    assert len(runner.queries) == 1
    assert len(compiles) == 4
    assert compiles[1:] == [compiles[0]] * 3
    if sink == "clickhouse":
        landed = [line for f in out.iterdir() for line in f.read_text().splitlines()]
        assert len(landed) == 8
    else:
        assert spark.read.parquet(out_str).count() == 8
    assert spark.read.parquet(str(tmp_path / "dl")).count() == 4


def test_clickhouse_topology_refuses_file_sink_deadletter_dir(spark, tmp_path):
    """A directory a streaming file sink wrote is read through its
    ``_spark_metadata`` log only, so new parts there would be invisible:
    ``start()`` refuses such a dead-letter directory, and such a parquet
    output directory, before any query starts."""
    (tmp_path / "logs").mkdir()
    clickhouse = ClickHouseSink(
        table="db.t", columns=["status"],
        client_factory=lambda: FlakyClient()).foreach_batch()
    active = len(spark.streams.active)
    for written, sink in (("dl", clickhouse), ("out", None)):
        (tmp_path / written / "_spark_metadata").mkdir(parents=True)
        runner = FileLogRunner(
            spark, PipelineConfig.from_dict(CONFIG),
            logs_dir=str(tmp_path / "logs"), output_path=str(tmp_path / "out"),
            checkpoint_root=str(tmp_path / "ckpt"),
            deadletter_path=str(tmp_path / written) if written == "dl" else None,
            foreach_batch=sink, available_now=True,
        )
        with pytest.raises(ValueError, match="_spark_metadata"):
            runner.start()
        assert runner.queries == [] and len(spark.streams.active) == active


def _run_parquet(spark, tmp_path, foreach_batch=None):
    """The CLI's topology: FileLogRunner writing parquet to ``out`` and
    dead lines to ``dl``, draining ``logs``."""
    FileLogRunner(
        spark, PipelineConfig.from_dict(CONFIG),
        logs_dir=str(tmp_path / "logs"), output_path=str(tmp_path / "out"),
        checkpoint_root=str(tmp_path / "ckpt"),
        deadletter_path=str(tmp_path / "dl"),
        foreach_batch=foreach_batch, available_now=True,
    ).start().await_termination(timeout=120)


def _parquet_rows(spark, path) -> list:
    return sorted(tuple(r) for r in spark.read.parquet(str(path)).collect())


def test_parquet_topology_replayed_batch(spark, tmp_path):
    """A batch replayed after a crash (its commit record deleted) writes
    its typed parts and its dead-letter part again in place: each row and
    each dead line is read once, with the same fallback time as before."""
    _write_logs(tmp_path / "logs", 3)
    _run_parquet(spark, tmp_path)
    rows, dead = _parquet_rows(spark, tmp_path / "out"), _parquet_rows(spark, tmp_path / "dl")
    assert len(rows) == 6 and len(dead) == 3
    commits = tmp_path / "ckpt" / "main" / "commits"
    os.remove(commits / "2")
    os.remove(commits / ".2.crc")  # the checksum file would block the rewrite
    _run_parquet(spark, tmp_path)
    assert (commits / "2").exists()  # the batch ran again
    assert _parquet_rows(spark, tmp_path / "out") == rows
    assert _parquet_rows(spark, tmp_path / "dl") == dead


@dataclasses.dataclass(frozen=True)
class CrashOnceDeadLetterPart(DeadLetterPart):
    """A dead-letter part whose first write, across processes, raises:
    the task dies after it wrote its typed parts."""

    flag: str = ""

    def write(self, lines) -> None:
        if not os.path.exists(self.flag):
            open(self.flag, "w").close()
            raise RuntimeError("crash before the dead-letter part")
        super().write(lines)


def test_parquet_topology_task_crash_before_deadletter(spark, tmp_path):
    """A task that crashes after writing its typed parts and before its
    dead-letter part fails the batch; on restart the batch is replayed and
    every row and dead line is read once."""
    _write_logs(tmp_path / "logs", 3)
    write = ParquetSink(str(tmp_path / "out")).foreach_batch()
    flag = str(tmp_path / "crashed")

    def crashing(batch_df, batch_id, deadletter=None):
        write(batch_df, batch_id, deadletter=CrashOnceDeadLetterPart(
            **dataclasses.asdict(deadletter), flag=flag))

    with pytest.raises(Exception, match="crash before the dead-letter part"):
        _run_parquet(spark, tmp_path, foreach_batch=crashing)
    assert os.path.exists(flag)
    # the crashed batch's typed rows are visible until the replay
    assert spark.read.parquet(str(tmp_path / "out")).count() == 2
    assert not (tmp_path / "dl").exists()
    _run_parquet(spark, tmp_path, foreach_batch=crashing)
    out = spark.read.parquet(str(tmp_path / "out"))
    # per file k: status 200 + k, and 200 for the line whose time is "-"
    assert sorted(r["status"] for r in out.collect()) == [200, 200, 200, 200, 201, 202]
    assert sorted(r["line"] for r in spark.read.parquet(str(tmp_path / "dl")).collect()) \
        == [f"{BAD} {k}" for k in range(3)]


def test_parquet_sink_matches_batch_writer(spark, tmp_path):
    """``ParquetSink`` writes what ``write_batch_files`` writes: the same
    schema (``insert_month`` read back as int), the same rows, NULL times
    under Spark's default partition, and no partitioning without a time
    column."""
    import datetime as dt
    import decimal

    df = spark.createDataFrame([
        (decimal.Decimal(2**64 - 1), 1, 2, dt.date(2022, 7, 1), 1.5,
         dt.datetime(2022, 7, 1, 3), 200),
        (decimal.Decimal(0), -1, -2, None, None, None, None),
        (decimal.Decimal(5), 3, 4, dt.date(2022, 8, 9), 2.5,
         dt.datetime(2022, 8, 9, 3), 404),
    ], "u64 decimal(20,0), i8 tinyint, i16 smallint, d date, f float, "
       "time_local timestamp, status smallint").repartition(2)
    for name, frame in (("timed", df), ("untimed", df.drop("d", "time_local"))):
        batch, sink = tmp_path / name / "batch", tmp_path / name / "sink"
        write_batch_files(frame, str(batch), time_col=pick_time_col(frame))
        ParquetSink(str(sink)).foreach_batch()(frame, 0)
        want, got = spark.read.parquet(str(batch)), spark.read.parquet(str(sink))
        assert got.schema == want.schema
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert sorted(p.name for p in (tmp_path / "timed" / "sink").iterdir()) == [
        "insert_month=202207", "insert_month=202208",
        "insert_month=__HIVE_DEFAULT_PARTITION__"]
    assert all(p.name.startswith("part-0-")
               for p in (tmp_path / "untimed" / "sink").iterdir())


def test_clickhouse_ddl():
    ddl = clickhouse_ddl(
        "only_tests.access_log",
        [("remote_addr", "String"), ("status", "UInt16"), ("time_local", "DateTime")],
    )
    assert "CREATE TABLE IF NOT EXISTS only_tests.access_log" in ddl
    assert "`insert_date` Date DEFAULT toDate(time_local)" in ddl
    assert "ENGINE = MergeTree" in ddl
    assert "PARTITION BY toYYYYMM(insert_date)" in ddl
    assert "ORDER BY (status, insert_date)" in ddl


def test_kafka_option_builders():
    r = kafka_reader_options(["b1:9092", "b2:9092"], "logs", group_id="g1",
                             max_offsets_per_trigger=5000)
    assert r["kafka.bootstrap.servers"] == "b1:9092,b2:9092"
    assert r["subscribe"] == "logs" and r["kafka.group.id"] == "g1"
    assert r["maxOffsetsPerTrigger"] == "5000"
    w = kafka_writer_options("b1:9092", "logs")
    assert w == {"kafka.bootstrap.servers": "b1:9092", "topic": "logs"}


def test_kafka_framing(spark):
    df = spark.createDataFrame([("line1", "k1")], ["value", "key"])
    unkeyed = frame_for_kafka(df)
    assert unkeyed.columns == ["value"] and dict(unkeyed.dtypes)["value"] == "binary"
    keyed = frame_for_kafka(df, key_col="key")
    assert keyed.columns == ["key", "value"]


def test_deadletter_batch_write(spark, tmp_path):
    bad = spark.createDataFrame([("oops",)], ["line"])
    write_deadletter_batch(bad, str(tmp_path / "dl"), source="syslog")
    back = spark.read.parquet(str(tmp_path / "dl"))
    row = back.collect()[0]
    assert row["line"] == "oops" and row["source"] == "syslog"


def test_liveness_server():
    import urllib.request

    thread = start_liveness_server(18573)
    try:
        body = urllib.request.urlopen("http://127.0.0.1:18573/live", timeout=5).read()
        assert body == b"Alive"
        with pytest.raises(Exception):
            urllib.request.urlopen("http://127.0.0.1:18573/nope", timeout=5)
        with pytest.raises(Exception):  # no metrics registry attached
            urllib.request.urlopen("http://127.0.0.1:18573/metrics", timeout=5)
    finally:
        thread.server.shutdown()


def test_metrics_endpoint_renders_registry():
    import urllib.request

    from grower_spark.streaming.filelog import StreamMetrics

    metrics = StreamMetrics()
    metrics.record("filelog-main", 100, 2500.0)
    metrics.record("filelog-main", 50, 1250.0)
    metrics.record("filelog-deadletter", 2, 10.0)
    thread = start_liveness_server(18574, metrics)
    try:
        body = urllib.request.urlopen(
            "http://127.0.0.1:18574/metrics", timeout=5
        ).read().decode()
    finally:
        thread.server.shutdown()
    assert '# TYPE grower_stream_rows_total counter' in body
    assert 'grower_stream_rows_total{query="filelog-main"} 150' in body
    assert 'grower_stream_batches_total{query="filelog-main"} 2' in body
    assert 'grower_stream_last_batch_rows{query="filelog-main"} 50' in body
    assert 'grower_stream_rows_total{query="filelog-deadletter"} 2' in body


def test_metrics_listener_accumulates_from_stream(spark, tmp_path):
    """End-to-end: a real streaming query's progress events flow through
    the StreamingQueryListener into the registry."""
    import time

    from grower_spark.streaming.filelog import StreamMetrics

    metrics = StreamMetrics()
    listener = metrics.listener()
    spark.streams.addListener(listener)
    try:
        src = tmp_path / "in"
        src.mkdir()
        (src / "a.txt").write_text("one\ntwo\nthree\n")
        q = (
            spark.readStream.text(str(src))
            .writeStream.format("noop")
            .queryName("metrics-e2e")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        deadline = time.time() + 15  # listener events are async
        while time.time() < deadline and metrics.rows_total.get("metrics-e2e", 0) < 3:
            time.sleep(0.2)
        assert metrics.rows_total.get("metrics-e2e") == 3
        assert metrics.batches_total.get("metrics-e2e", 0) >= 1
        assert "metrics-e2e" in metrics.render()
    finally:
        spark.streams.removeListener(listener)


def test_metrics_last_batch_duration_per_phase(spark, tmp_path):
    """The last batch's ``durationMs`` reaches ``/metrics`` as one gauge
    per phase, including the offset and commit log writes."""
    import time

    from grower_spark.streaming.filelog import StreamMetrics

    metrics = StreamMetrics()
    listener = metrics.listener()
    spark.streams.addListener(listener)
    try:
        _write_logs(tmp_path / "logs", 1)
        FileLogRunner(
            spark, PipelineConfig.from_dict(CONFIG),
            logs_dir=str(tmp_path / "logs"), output_path=str(tmp_path / "out"),
            checkpoint_root=str(tmp_path / "ckpt"), available_now=True,
        ).start().await_termination(timeout=120)
        deadline = time.time() + 15  # listener events are async
        while time.time() < deadline and "filelog-main" not in metrics.last_batch_duration_s:
            time.sleep(0.2)
        body = metrics.render()
    finally:
        spark.streams.removeListener(listener)
    assert "# TYPE grower_stream_last_batch_duration_seconds gauge" in body
    for phase in ("walCommit", "addBatch", "commitOffsets"):
        assert f'grower_stream_last_batch_duration_seconds{{query="filelog-main",phase="{phase}"}} ' in body


def test_cli_ddl_and_help(tmp_path, capsys):
    from grower_spark.cli import main

    import yaml

    cfg_path = tmp_path / "cfg.yaml"
    cfg_path.write_text(yaml.safe_dump(CONFIG))
    assert main(["ddl", "--config", str(cfg_path)]) == 0
    out = capsys.readouterr().out
    assert "CREATE TABLE IF NOT EXISTS t.access_log" in out
    assert "`status` UInt16" in out


def test_cli_rotate(tmp_path, capsys):
    from grower_spark.cli import main

    live = tmp_path / "access.log"
    live.write_text("x\n")
    assert main(["rotate", "--log-file", str(live)]) == 0
    out = capsys.readouterr().out
    assert "rotated:" in out and ".growerlog" in out


def test_idempotent_foreach_batch(spark, tmp_path):
    from grower_spark.sinks.clickhouse import IdempotentForeachBatch

    calls = []
    wrapped = IdempotentForeachBatch(
        lambda df, bid: calls.append(bid), str(tmp_path / "markers")
    )
    df = spark.createDataFrame([(1,)], ["x"])
    wrapped(df, 7)
    wrapped(df, 7)  # crash-replay of the same micro-batch: must be a no-op
    wrapped(df, 8)
    assert calls == [7, 8]


def test_cli_syslog_e2e(spark, tmp_path, capsys):
    """cmd/syslog parity through the CLI: RFC3164 frames over a TCP socket
    -> receiver spool -> envelope strip -> pipeline -> typed parquet."""
    import os
    import socket

    from conftest import FIXTURES
    from test_template import SAMPLE_LINE

    from grower_spark.cli import main
    from grower_spark.sources.receiver import SpoolReceiver

    spool = str(tmp_path / "spool")
    # ingest phase: the daemon's own receiver shape (lines framing), driven
    # directly so the drain phase below can use --available-now
    rx = SpoolReceiver(spool, tcp_port=0, framing="lines").start()
    try:
        with socket.create_connection(("127.0.0.1", rx.tcp_port), timeout=5) as s:
            for i in range(3):
                s.sendall(f"<190>Jul 20 21:30:43 web01 nginx: {SAMPLE_LINE}\n".encode())
            s.sendall(b"<13>Jul 20 21:30:44 web01 other: not an access line\n")
    finally:
        rx.stop()

    out = str(tmp_path / "out")
    dl = str(tmp_path / "dl")
    rc = main([
        "syslog",
        "--config", os.path.join(FIXTURES, "sample_test.yaml"),
        "--spool-dir", spool,
        "--output", out,
        "--checkpoint", str(tmp_path / "ckpt"),
        "--dead-letter", dl,
        "--available-now",
    ])
    assert rc == 0
    good = spark.read.parquet(out)
    assert good.count() == 3
    assert {r["status"] for r in good.select("status").collect()} == {444}
    assert spark.read.parquet(dl).count() == 1


def test_cli_kafkalog_connector_path_runs_the_ingest_topology(
        spark, tmp_path, monkeypatch):
    """The connector path feeds Kafka's line stream to the same one-query
    ``FileLogRunner`` as every other transport: typed rows land partitioned
    by month, the bad line lands in --dead-letter, and SIGTERM stops it.
    ``kafka_line_stream`` is replaced by a text stream over a directory,
    so no connector jar is needed."""
    import glob
    import signal
    import threading
    import time

    from conftest import FIXTURES
    from test_template import SAMPLE_LINE

    import grower_spark.sources.kafka as kafka
    from grower_spark.cli import main

    topic = tmp_path / "topic"
    topic.mkdir()
    (topic / "records.txt").write_text(
        "\n".join([SAMPLE_LINE, SAMPLE_LINE, "not an access line"]) + "\n")
    asked = {}

    def line_stream(spark, **options):
        asked.update(options)
        return spark.readStream.text(str(topic))

    monkeypatch.setattr(kafka, "kafka_line_stream", line_stream)
    out, dl = tmp_path / "out", tmp_path / "dl"
    handlers = {s: signal.getsignal(s) for s in (signal.SIGINT, signal.SIGTERM)}

    def stop_when_landed():
        deadline = time.monotonic() + 120
        installed = False
        while time.monotonic() < deadline:
            installed = signal.getsignal(signal.SIGTERM) is not handlers[signal.SIGTERM]
            if installed and glob.glob(f"{out}/insert_month=*/part-*.parquet") \
                    and glob.glob(f"{dl}/seen_date=*/part-*.parquet"):
                break
            time.sleep(0.5)
        if installed:
            os.kill(os.getpid(), signal.SIGTERM)
        else:  # SIGTERM would end the test process: stop the queries instead
            for q in spark.streams.active:
                q.stop()

    stopper = threading.Thread(target=stop_when_landed, daemon=True)
    stopper.start()
    try:
        rc = main([
            "kafkalog",
            "--config", os.path.join(FIXTURES, "sample_test.yaml"),
            "--brokers", "127.0.0.1:9092", "--topic", "logs",
            "--output", str(out), "--dead-letter", str(dl),
            "--checkpoint", str(tmp_path / "ckpt"), "--scrape-interval", "1",
        ])
    finally:
        stopper.join(timeout=130)
        for s, h in handlers.items():
            signal.signal(s, h)
    assert not stopper.is_alive()
    assert rc == 0
    assert asked == {"brokers": "127.0.0.1:9092", "topic": "logs"}
    good = spark.read.parquet(str(out))
    assert [r["status"] for r in good.collect()] == [444, 444]
    assert {r["insert_month"] for r in good.select("insert_month").collect()} == {202207}
    assert [(r["line"], r["source"]) for r in spark.read.parquet(str(dl)).collect()] \
        == [("not an access line", "filelog")]


def test_stop_survives_poisoned_query_handle(caplog):
    """VERDICT r5 item 7: one query handle raising on stop() must not leave
    the remaining queries running, and the failure must be WARN-logged
    (reference warn-and-continue discipline, impl.go:179-181)."""
    import logging

    class Poisoned:
        name = "poisoned"

        def stop(self):
            raise RuntimeError("jvm handle gone")

    class Recorder:
        name = "ok"
        stopped = False

        def stop(self):
            self.stopped = True

    runner = object.__new__(FileLogRunner)
    ok = Recorder()
    runner.queries = [Poisoned(), ok]
    with caplog.at_level(logging.WARNING, logger="grower_spark.streaming.filelog"):
        runner.stop()  # must not raise
    assert ok.stopped
    assert any("poisoned" in r.getMessage() for r in caplog.records
               if r.levelno == logging.WARNING)


def test_receiver_midrun_crash_is_warn_logged(tmp_path, caplog):
    """A receiver loop crash AFTER successful startup must be warn-logged,
    not swallowed (previously `except BaseException: pass`)."""
    import logging

    from grower_spark.sources.receiver import SpoolReceiver

    rx = SpoolReceiver(str(tmp_path / "spool"), tcp_port=0)

    async def boom(self=rx):
        self._ready.set()
        raise RuntimeError("post-startup crash")

    rx._main = boom
    with caplog.at_level(logging.WARNING, logger="grower_spark.sources.receiver"):
        rx.start()
        rx._thread.join(timeout=10)
    assert not rx._thread.is_alive()
    assert any("abnormally" in r.getMessage() for r in caplog.records)


def test_cli_syslog_liveness_endpoint(spark, tmp_path):
    """Reference syslog parity: GET /live -> 200 'Alive'
    (cmd/syslog/main.go:199-201), now wired through the syslog CLI."""
    import os
    import socket
    import urllib.request

    from conftest import FIXTURES
    from test_template import SAMPLE_LINE

    from grower_spark.cli import main
    from grower_spark.sources.receiver import SpoolReceiver

    spool = str(tmp_path / "spool")
    rx = SpoolReceiver(spool, tcp_port=0, framing="lines").start()
    try:
        with socket.create_connection(("127.0.0.1", rx.tcp_port), timeout=5) as s:
            s.sendall(f"<190>Jul 20 21:30:43 web01 nginx: {SAMPLE_LINE}\n".encode())
    finally:
        rx.stop()
    with socket.socket() as probe:
        probe.bind(("127.0.0.1", 0))
        port = probe.getsockname()[1]
    rc = main([
        "syslog",
        "--config", os.path.join(FIXTURES, "sample_test.yaml"),
        "--spool-dir", spool,
        "--output", str(tmp_path / "out"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--available-now",
        "--live-addr-port", str(port),
    ])
    assert rc == 0
    # the liveness daemon thread outlives the drain
    with urllib.request.urlopen(f"http://127.0.0.1:{port}/live", timeout=5) as r:
        assert r.read() == b"Alive"
    body = urllib.request.urlopen(
        f"http://127.0.0.1:{port}/metrics", timeout=5
    ).read().decode()
    assert "grower_stream_rows_total" in body
