"""HttpClickHouseClient against an in-process fake ClickHouse HTTP server:
wire format (query param, TSV body, escaping, NULL, datetime), credentials,
gzip, error surfacing, retry integration, and a real Spark foreachPartition
drive end-to-end (executor Python workers reach the server over 127.0.0.1).
"""

from __future__ import annotations

import gzip
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, HTTPServer

import datetime

import pyarrow as pa
import pytest

from grower_spark.sinks.clickhouse import (
    ClickHouseHttpError,
    ClickHouseSink,
    HttpClickHouseClient,
    _tsv_value,
)

# module-level so Spark's pickled closures can reach the port via conftest's
# PYTHONPATH; the server itself lives only in the driver process
_RECEIVED: list[dict] = []
_FAIL_NEXT: list[int] = []  # pop one 500 per queued entry


class _Handler(BaseHTTPRequestHandler):
    def do_POST(self):  # noqa: N802  (stdlib naming)
        n = int(self.headers.get("Content-Length", 0))
        body = self.rfile.read(n)
        encoding = self.headers.get("Content-Encoding")
        raw = body
        if encoding == "gzip":
            body = gzip.decompress(body)
        elif encoding == "lz4":
            # LZ4 frames carry no content-size field (pyarrow does not
            # set the FLG bit) and pyarrow's decompress needs the exact
            # size — the TEST decodes raw bytes against its known
            # expected body instead
            body = b""
        q = urllib.parse.parse_qs(urllib.parse.urlparse(self.path).query)
        _RECEIVED.append(
            {
                "query": q.get("query", [""])[0],
                "database": q.get("database", [""])[0],
                "params": {k: v[0] for k, v in q.items()},
                "encoding": encoding,
                "body_raw": raw,
                "body": body.decode("utf-8"),
                "user": self.headers.get("X-ClickHouse-User"),
                "key": self.headers.get("X-ClickHouse-Key"),
            }
        )
        if _FAIL_NEXT:
            _FAIL_NEXT.pop()
            self.send_response(500)
            msg = b"Code: 241. DB::Exception: Memory limit exceeded"
            self.send_header("Content-Length", str(len(msg)))
            self.end_headers()
            self.wfile.write(msg)
            return
        self.send_response(200)
        self.send_header("Content-Length", "0")
        self.end_headers()

    def log_message(self, *a):  # silence test output
        pass


@pytest.fixture(scope="module")
def ch_server():
    srv = HTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


@pytest.fixture(autouse=True)
def _clean():
    _RECEIVED.clear()
    _FAIL_NEXT.clear()


def test_tsv_escaping_rules():
    assert _tsv_value(None) == "\\N"
    assert _tsv_value(True) == "1" and _tsv_value(False) == "0"
    assert _tsv_value("a\tb\nc\\d\re") == "a\\tb\\nc\\\\d\\re"
    assert _tsv_value(datetime.datetime(2024, 3, 1, 12, 30, 45, 999999)) == "2024-03-01 12:30:45"
    assert _tsv_value(datetime.date(2024, 3, 1)) == "2024-03-01"
    assert _tsv_value(42) == "42" and _tsv_value(1.5) == "1.5"


def test_insert_wire_format(ch_server):
    c = HttpClickHouseClient(ch_server, database="logs", user="u", password="p",
                             settings={"max_execution_time": 30})
    c.insert("access", [(1, "GET /", None), (2, "a\tb", 7)],
             column_names=["status", "request", "extra"])
    assert len(_RECEIVED) == 1
    r = _RECEIVED[0]
    assert r["query"] == "INSERT INTO access (`status`, `request`, `extra`) FORMAT TabSeparated"
    assert r["database"] == "logs"
    assert r["params"]["max_execution_time"] == "30"
    assert r["user"] == "u" and r["key"] == "p"
    assert r["body"] == "1\tGET /\t\\N\n2\ta\\tb\t7\n"


def test_insert_gzip_body(ch_server):
    c = HttpClickHouseClient(ch_server, compress=True)
    c.insert("t", [("x" * 100,)], column_names=["s"])
    assert _RECEIVED[0]["body"] == "x" * 100 + "\n"  # handler decompressed
    assert _RECEIVED[0]["encoding"] == "gzip"


def test_insert_lz4_body(ch_server):
    """r10 verdict item 5: Content-Encoding: lz4 with an LZ4 FRAME body
    (what ClickHouse's HTTP interface expects), produced by pyarrow's
    bundled codec.  The wire bytes must start with the frame magic and
    decompress to exactly the TabSeparated insert body."""
    import pyarrow

    c = HttpClickHouseClient(ch_server, compress="lz4")
    c.insert("t", [("y" * 50, 7)], column_names=["s", "n"])
    r = _RECEIVED[0]
    assert r["encoding"] == "lz4"
    assert r["body_raw"][:4] == b"\x04\x22\x4d\x18"  # LZ4 frame magic
    expected = ("y" * 50 + "\t7\n").encode()
    got = pyarrow.Codec("lz4").decompress(
        r["body_raw"], decompressed_size=len(expected), asbytes=True
    )
    assert got == expected


def test_compress_arg_validated():
    import pytest

    with pytest.raises(ValueError, match="compress"):
        HttpClickHouseClient("http://h:1", compress="zstd")


def test_command_ddl(ch_server):
    c = HttpClickHouseClient(ch_server)
    c.command("CREATE TABLE t (x Int32) ENGINE = MergeTree ORDER BY x")
    assert _RECEIVED[0]["query"].startswith("CREATE TABLE t")
    assert _RECEIVED[0]["body"] == ""


def test_http_error_surfaces_clickhouse_text(ch_server):
    _FAIL_NEXT.append(1)
    c = HttpClickHouseClient(ch_server)
    with pytest.raises(ClickHouseHttpError, match="Memory limit exceeded"):
        c.command("SELECT 1")


def test_sink_retry_through_http_client(ch_server):
    """One 500 then success: the sink's retry loop must re-POST the same
    insert and succeed without surfacing the transient."""
    _FAIL_NEXT.append(1)
    sink = ClickHouseSink(
        table="access",
        columns=["status"],
        client_factory=lambda: HttpClickHouseClient(ch_server),
        backoff_seconds=0.01,
    )
    sink.insert_partition(
        iter([pa.RecordBatch.from_pylist([{"status": 200}, {"status": 404}])]))
    assert len(_RECEIVED) == 2  # failed attempt + retry
    assert _RECEIVED[0]["body"] == _RECEIVED[1]["body"] == "200\n404\n"


def test_spark_foreach_partition_e2e(spark, ch_server):
    """Full sink path on a real DataFrame: executor Python workers build
    their own HTTP clients and every row lands exactly once."""
    df = spark.createDataFrame(
        [(i, f"req-{i}", None if i % 3 == 0 else float(i)) for i in range(20)],
        ["status", "request", "value"],
    ).repartition(4)
    sink = ClickHouseSink(
        table="access",
        columns=["status", "request", "value"],
        client_factory=lambda: HttpClickHouseClient(ch_server),
    )
    sink.foreach_batch()(df)
    rows = []
    for r in _RECEIVED:
        assert r["query"].startswith("INSERT INTO access")
        rows += [ln for ln in r["body"].splitlines() if ln]
    assert sorted(int(ln.split("\t")[0]) for ln in rows) == list(range(20))
    nulls = [ln for ln in rows if ln.endswith("\\N")]
    assert len(nulls) == 7  # i % 3 == 0 for 20 values


def test_cli_ddl_apply(ch_server, tmp_path, capsys):
    """`ddl --apply-url` prints the DDL and executes it over HTTP."""
    import shutil

    from grower_spark.cli import main

    cfg = str(tmp_path / "cfg.yaml")
    shutil.copy("tests/fixtures/sample_test.yaml", cfg)
    rc = main(["ddl", "--config", cfg, "--apply-url", ch_server,
               "--database", "logs"])
    assert rc == 0
    assert len(_RECEIVED) == 1
    assert _RECEIVED[0]["query"].startswith("CREATE TABLE IF NOT EXISTS")
    assert _RECEIVED[0]["database"] == "logs"
    assert "CREATE TABLE" in capsys.readouterr().out
