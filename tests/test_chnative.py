"""NativeClickHouseClient against an in-process fake native-TCP server:
handshake + revision negotiation (modern and old servers), the INSERT
flow (sample block -> typed data blocks -> empty terminator), column
codec round-trips (fixed-width, String, Nullable, DateTime/Date),
chunking, exception surfacing, ping/pong, and a Spark foreachPartition
drive through ClickHouseSink — the same e2e pattern the HTTP client and
kafkawire tests use (no real ClickHouse server exists in this env)."""

from __future__ import annotations

import datetime
import socket
import struct
import threading

import pytest

from grower_spark.sinks.chnative import (
    CLIENT_DATA,
    CLIENT_HELLO,
    CLIENT_PING,
    CLIENT_QUERY,
    METHOD_LZ4,
    METHOD_NONE,
    METHOD_ZSTD,
    CompressedBlockReader,
    compress_frame,
    compress_stream,
    read_frame,
    REV_BLOCK_INFO,
    REV_CLIENT_INFO,
    REV_CLIENT_WRITE_INFO,
    REV_QUOTA_KEY,
    REV_SERVER_DISPLAY_NAME,
    REV_SERVER_TIMEZONE,
    REV_TEMPORARY_TABLES,
    REV_TOTAL_ROWS_IN_PROGRESS,
    REV_VERSION_PATCH,
    SERVER_DATA,
    SERVER_END_OF_STREAM,
    SERVER_EXCEPTION,
    SERVER_PONG,
    SERVER_PROGRESS,
    ClickHouseNativeError,
    NativeClickHouseClient,
    ProtocolError,
    Reader,
    decode_block,
    encode_block,
    write_string,
    write_varint,
)
from grower_spark.sinks.clickhouse import ClickHouseSink

# module-level so Spark's pickled closures can reach the port; the server
# itself lives only in the driver process (same pattern as the HTTP test)
_STATE: dict = {}


class FakeNativeServer:
    """Server side of the native protocol, enough for the client flows:
    hello, query (DDL + insert), data blocks, ping, injected exceptions.

    ``table_types`` maps insert-target column name -> ClickHouse type for
    the sample block.  Every received command / insert block is recorded
    for assertions."""

    def __init__(self, revision: int = 54462,
                 table_types: dict | None = None,
                 fail_query_with: tuple | None = None,
                 fail_insert_midstream: tuple | None = None) -> None:
        self.revision = revision
        self.table_types = dict(table_types or {})
        self.fail_query_with = fail_query_with
        # when set: send the insert's sample block and this exception in
        # one write, then STOP parsing the insert stream (drain and count
        # raw bytes until EOF) — the shape of a server that raises
        # mid-insert (quota, oversize value) and stops reading
        self.fail_insert_midstream = fail_insert_midstream
        self.drained_bytes = 0
        # when set: SELECT queries answer with this [(name, type, values)]
        # result, streamed as header block + per-row-group data blocks
        self.select_result: list | None = None
        self.commands: list[str] = []
        self.inserts: list[list] = []  # one entry per non-empty block
        self.hello: dict = {}
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._sock.bind(("127.0.0.1", 0))
        self._sock.listen(8)
        self.port = self._sock.getsockname()[1]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._serve, daemon=True)
        self._thread.start()

    # -- lifecycle --------------------------------------------------------

    def close(self) -> None:
        self._stop.set()
        try:
            self._sock.close()
        except OSError:
            pass

    def _serve(self) -> None:
        while not self._stop.is_set():
            try:
                conn, _ = self._sock.accept()
            except OSError:
                return
            threading.Thread(
                target=self._handle, args=(conn,), daemon=True
            ).start()

    # -- wire helpers -----------------------------------------------------

    def _negotiated(self) -> int:
        return min(self.revision, self._client_revision)

    def _send_hello(self, conn: socket.socket) -> None:
        out = bytearray()
        out += write_varint(0)  # ServerHello
        out += write_string("FakeHouse")
        out += write_varint(23)
        out += write_varint(8)
        out += write_varint(self.revision)
        if self.revision >= REV_SERVER_TIMEZONE:
            out += write_string("UTC")
        if self.revision >= REV_SERVER_DISPLAY_NAME:
            out += write_string("fake")
        if self.revision >= REV_VERSION_PATCH:
            out += write_varint(7)
        conn.sendall(bytes(out))

    @staticmethod
    def _exception_packet(code: int, name: str, msg: str) -> bytes:
        return (
            write_varint(SERVER_EXCEPTION)
            + struct.pack("<i", code)
            + write_string(name)
            + write_string(msg)
            + write_string("fake stack")
            + b"\x00"
        )

    def _send_exception(self, conn, code: int, name: str, msg: str) -> None:
        conn.sendall(self._exception_packet(code, name, msg))

    def _data_packet(self, columns, method=None) -> bytes:
        out = write_varint(SERVER_DATA)
        if self._negotiated() >= REV_TEMPORARY_TABLES:
            out += write_string("")
        body = encode_block(columns, self._negotiated())
        return out + (compress_stream(body, method) if method is not None else body)

    def _send_data(self, conn, columns, method=None) -> None:
        conn.sendall(self._data_packet(columns, method))

    def _send_progress(self, conn) -> None:
        rev = self._negotiated()
        out = write_varint(SERVER_PROGRESS) + write_varint(1) + write_varint(10)
        if rev >= REV_TOTAL_ROWS_IN_PROGRESS:
            out += write_varint(0)
        if rev >= REV_CLIENT_WRITE_INFO:
            out += write_varint(1) + write_varint(10)
        conn.sendall(out)

    def _read_client_block(self, r: Reader, compressed=False) -> list:
        if self._negotiated() >= REV_TEMPORARY_TABLES:
            r.string()
        if compressed:
            cr = CompressedBlockReader(r)
            block = decode_block(cr, self._negotiated())
            assert cr.leftover() == 0
            return block
        return decode_block(r, self._negotiated())

    # -- protocol ---------------------------------------------------------

    def _handle(self, conn: socket.socket) -> None:
        try:
            r = Reader(conn)
            code = r.varint()
            assert code == CLIENT_HELLO, code
            self.hello = {
                "client_name": r.string(),
                "major": r.varint(),
                "minor": r.varint(),
                "revision": r.varint(),
                "database": r.string(),
                "user": r.string(),
                "password": r.string(),
            }
            self._client_revision = self.hello["revision"]
            self._send_hello(conn)
            while not self._stop.is_set():
                code = r.varint()
                if code == CLIENT_PING:
                    conn.sendall(write_varint(SERVER_PONG))
                    continue
                assert code == CLIENT_QUERY, code
                rev = self._negotiated()
                r.string()  # query id
                if rev >= REV_CLIENT_INFO:
                    assert r.read(1)[0] == 1  # initial query kind
                    r.string(); r.string(); r.string()  # user/qid/addr
                    assert r.read(1)[0] == 1  # TCP interface
                    r.string(); r.string(); r.string()  # os/host/name
                    r.varint(); r.varint(); r.varint()  # version
                    if rev >= REV_QUOTA_KEY:
                        r.string()
                    if rev >= REV_VERSION_PATCH:
                        r.varint()
                while r.string():  # settings until empty name
                    if rev >= 54429:
                        r.varint()  # flags
                    r.string()      # value (strings serialization)
                r.varint()  # stage
                compressed = r.varint() == 1  # query-level compression
                self.saw_compression = compressed
                query = r.string()
                assert r.varint() == CLIENT_DATA  # external-tables end
                ext = self._read_client_block(r, compressed)
                assert ext == [], ext
                if self.fail_query_with is not None:
                    self._send_exception(conn, *self.fail_query_with)
                    continue
                if query.upper().startswith("INSERT INTO"):
                    cols = query[query.index("(") + 1:query.index(")")]
                    names = [c.strip().strip("`") for c in cols.split(",")]
                    sample = [(n, self.table_types[n], []) for n in names]
                    # the server mirrors the query's compression choice;
                    # METHOD_LZ4 on the reply leg exercises the client's
                    # read_frame/decompress path too
                    packet = self._data_packet(
                        sample, method=METHOD_LZ4 if compressed else None)
                    if self.fail_insert_midstream is None:
                        conn.sendall(packet)
                    else:
                        # one send: the exception is in the client's
                        # buffer by the time it has parsed the sample block
                        conn.sendall(packet + self._exception_packet(
                            *self.fail_insert_midstream))
                        while True:  # stop PARSING; drain so no RST race
                            chunk = conn.recv(65536)
                            if not chunk:
                                return
                            self.drained_bytes += len(chunk)
                    while True:
                        code = r.varint()
                        assert code == CLIENT_DATA, code
                        block = self._read_client_block(r, compressed)
                        if not block or not block[0][2]:
                            break
                        self.inserts.append(block)
                    self._send_progress(conn)
                    conn.sendall(write_varint(SERVER_END_OF_STREAM))
                elif (query.upper().startswith("SELECT")
                        and self.select_result is not None):
                    self.commands.append(query)
                    method = METHOD_LZ4 if compressed else None
                    res = self.select_result
                    # header block: names/types, no rows
                    self._send_data(conn, [(n, t, []) for n, t, _ in res],
                                    method=method)
                    # stream the rows as two blocks to exercise concat
                    n_rows = len(res[0][2]) if res else 0
                    half = max(1, n_rows // 2)
                    for lo in range(0, n_rows, half):
                        self._send_data(
                            conn,
                            [(n, t, v[lo:lo + half]) for n, t, v in res],
                            method=method,
                        )
                    self._send_progress(conn)
                    conn.sendall(write_varint(SERVER_END_OF_STREAM))
                else:
                    self.commands.append(query)
                    self._send_progress(conn)
                    conn.sendall(write_varint(SERVER_END_OF_STREAM))
        except OSError:
            pass  # client went away; tests assert positively
        except ProtocolError:
            pass  # clean disconnect at a packet boundary
        except Exception:  # noqa: BLE001 — surface fake-server bugs loudly
            import traceback

            traceback.print_exc()
        finally:
            try:
                conn.close()
            except OSError:
                pass


@pytest.fixture()
def native_server():
    srv = FakeNativeServer(
        table_types={
            "msg": "String",
            "n": "Int64",
            "score": "Float64",
            "ts": "DateTime",
            "tag": "Nullable(String)",
            "opt": "Nullable(Int64)",
        }
    )
    _STATE["port"] = srv.port
    yield srv
    srv.close()


def test_varint_roundtrip():
    for n in (0, 1, 127, 128, 300, 1 << 14, (1 << 35) + 7, (1 << 63) - 1):
        r = Reader(data=write_varint(n))
        assert r.varint() == n


def test_handshake_and_command(native_server):
    c = NativeClickHouseClient("127.0.0.1", native_server.port,
                               database="logs", user="u", password="p")
    info = c.connect()
    assert (info.name, info.timezone, info.display_name,
            info.version_patch) == ("FakeHouse", "UTC", "fake", 7)
    assert c.revision == 54429  # min(client 54429, server 54462)
    c.command("CREATE TABLE t (x Int64) ENGINE = Memory")
    assert native_server.commands == ["CREATE TABLE t (x Int64) ENGINE = Memory"]
    assert native_server.hello["database"] == "logs"
    assert native_server.hello["user"] == "u"
    c.close()


def test_insert_typed_roundtrip(native_server):
    ts = datetime.datetime(2026, 8, 15, 12, 0, 0,
                           tzinfo=datetime.timezone.utc)
    rows = [
        ("hello", 1, 0.5, ts, "a", 7),
        ("wörld\tx", -2, -1.25, ts, None, None),
    ]
    cols = ["msg", "n", "score", "ts", "tag", "opt"]
    with NativeClickHouseClient("127.0.0.1", native_server.port) as c:
        c.insert("logs.t", rows, cols)
    (block,) = native_server.inserts
    got = {name: (t, vals) for name, t, vals in block}
    assert got["msg"] == ("String", ["hello", "wörld\tx"])
    assert got["n"] == ("Int64", [1, -2])
    assert got["score"] == ("Float64", [0.5, -1.25])
    assert got["ts"] == ("DateTime", [int(ts.timestamp())] * 2)
    assert got["tag"] == ("Nullable(String)", ["a", None])
    assert got["opt"] == ("Nullable(Int64)", [7, None])


def test_insert_chunks_blocks(native_server):
    rows = [(f"r{i}", i, float(i),
             datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc),
             None, None) for i in range(5)]
    cols = ["msg", "n", "score", "ts", "tag", "opt"]
    c = NativeClickHouseClient("127.0.0.1", native_server.port,
                               insert_chunk_rows=2)
    c.insert("t", rows, cols)
    c.close()
    sizes = [len(b[0][2]) for b in native_server.inserts]
    assert sizes == [2, 2, 1]
    assert [v for b in native_server.inserts for v in b[1][2]] == [0, 1, 2, 3, 4]


def test_exception_surfaces():
    srv = FakeNativeServer(fail_query_with=(60, "UNKNOWN_TABLE",
                                            "Table default.t does not exist"))
    try:
        c = NativeClickHouseClient("127.0.0.1", srv.port)
        with pytest.raises(ClickHouseNativeError) as ei:
            c.command("SELECT 1")
        assert ei.value.code == 60
        assert "UNKNOWN_TABLE" in str(ei.value)
        c.close()
    finally:
        srv.close()


def test_ping_pong(native_server):
    c = NativeClickHouseClient("127.0.0.1", native_server.port)
    assert c.ping() is True
    c.close()


def test_old_server_revision_negotiation():
    """A pre-display-name server (rev 54060): hello carries only the
    timezone, the negotiated revision drops to the server's, and the
    insert flow still round-trips (BlockInfo still present: 54060 >=
    51903)."""
    srv = FakeNativeServer(revision=54060, table_types={"x": "UInt32"})
    try:
        c = NativeClickHouseClient("127.0.0.1", srv.port)
        info = c.connect()
        assert info.timezone == "UTC" and info.display_name == ""
        assert c.revision == 54060
        assert c.revision >= REV_BLOCK_INFO
        c.insert("t", [(1,), (2,)], ["x"])
        c.close()
        (block,) = srv.inserts
        assert block[0][:2] == ("x", "UInt32") and block[0][2] == [1, 2]
    finally:
        srv.close()


def test_cli_ddl_apply_native(native_server, tmp_path, capsys):
    """`ddl --apply-url native://host:port` prints the DDL and executes
    it over the native TCP protocol (the http:// form stays on the HTTP
    client — pinned in test_clickhouse_http.py)."""
    import shutil

    from grower_spark.cli import main

    cfg = str(tmp_path / "cfg.yaml")
    shutil.copy("tests/fixtures/sample_test.yaml", cfg)
    rc = main(["ddl", "--config", cfg,
               "--apply-url", f"native://127.0.0.1:{native_server.port}",
               "--database", "logs"])
    assert rc == 0
    assert len(native_server.commands) == 1
    assert native_server.commands[0].startswith("CREATE TABLE IF NOT EXISTS")
    assert native_server.hello["database"] == "logs"
    assert "CREATE TABLE" in capsys.readouterr().out


def test_cli_ddl_apply_native_compressed(native_server, tmp_path, capsys):
    """`native://host:port?compress=lz4` negotiates compression and the
    DDL round-trips through checksummed frames."""
    import shutil

    from grower_spark.cli import main

    cfg = str(tmp_path / "cfg.yaml")
    shutil.copy("tests/fixtures/sample_test.yaml", cfg)
    rc = main(["ddl", "--config", cfg, "--apply-url",
               f"native://127.0.0.1:{native_server.port}?compress=lz4"])
    assert rc == 0
    assert native_server.saw_compression is True
    assert len(native_server.commands) == 1
    assert native_server.commands[0].startswith("CREATE TABLE IF NOT EXISTS")
    capsys.readouterr()


def test_transport_error_resets_connection(native_server):
    """A dropped socket must not poison the sink's retry loop: the
    failed attempt closes the client, the next insert reconnects and
    succeeds on the same object (ClickHouseSink retries into the SAME
    client_factory product)."""
    c = NativeClickHouseClient("127.0.0.1", native_server.port)
    c.insert("t", [("a", 1, 0.1,
                    __import__("datetime").datetime(
                        2026, 1, 1, tzinfo=__import__("datetime").timezone.utc),
                    None, None)],
             ["msg", "n", "score", "ts", "tag", "opt"])
    c._sock.close()  # simulate the connection dying under us
    with pytest.raises(Exception):
        c.insert("t", [("b", 2, 0.2, None, None, None)],
                 ["msg", "n", "score", "ts", "tag", "opt"])
    assert c._sock is None  # transport error reset the client
    c.insert("t", [("c", 3, 0.3, None, None, None)],
             ["msg", "n", "score", "ts", "tag", "opt"])  # retry works
    c.close()
    flat = [v for b in native_server.inserts for v in b[0][2]]
    assert flat == ["a", "c"]


def test_server_exception_keeps_connection():
    """Server-side EXCEPTIONS are protocol-synchronized — the client
    must keep the connection and work on the next call."""
    srv = FakeNativeServer(fail_query_with=(60, "UNKNOWN_TABLE", "nope"))
    try:
        c = NativeClickHouseClient("127.0.0.1", srv.port)
        with pytest.raises(ClickHouseNativeError):
            c.command("SELECT 1")
        assert c._sock is not None  # still connected
        srv.fail_query_with = None
        c.command("SELECT 2")  # same connection, next query fine
        assert srv.commands == ["SELECT 2"]
        c.close()
    finally:
        srv.close()


def test_spark_foreach_partition_e2e(spark, native_server):
    """The production shape: executor Python workers open native-TCP
    connections to 127.0.0.1 and stream typed blocks through
    ClickHouseSink — proving the client pickles (constructed per task
    via client_factory) and the protocol survives multi-process use."""
    df = spark.createDataFrame(
        [(f"m{i}", i, i / 2.0) for i in range(20)],
        "msg string, n long, score double",
    ).repartition(4)
    port = native_server.port
    sink = ClickHouseSink(
        table="logs.t",
        columns=["msg", "n", "score"],
        client_factory=lambda: NativeClickHouseClient("127.0.0.1", port),
    )
    sink.foreach_batch()(df)
    flat = sorted(t for b in native_server.inserts
                  for t in zip(*[vals for _, _, vals in b]))
    assert flat == sorted((f"m{i}", i, i / 2.0) for i in range(20))


def test_sink_arrow_partitions_chunked_into_blocks(spark, native_server):
    """foreach_batch hands each of 3 partitions (25 rows each) to the
    client as Arrow record batches; with insert_chunk=10 every partition
    lands as blocks of 10, 10 and 5 rows, and every row exactly once —
    including a timestamp column and a nullable one."""
    df = spark.range(0, 75, numPartitions=3).selectExpr(
        "concat('m', id) AS msg", "id AS n",
        "timestamp_seconds(1700000000 + id) AS ts",
        "IF(id % 4 = 0, NULL, id * 10) AS opt",
    )
    port = native_server.port
    sink = ClickHouseSink(
        table="logs.t",
        columns=["msg", "n", "ts", "opt"],
        client_factory=lambda: NativeClickHouseClient("127.0.0.1", port),
        insert_chunk=10,
    )
    sink.foreach_batch()(df)
    sizes = sorted(len(b[0][2]) for b in native_server.inserts)
    assert sizes == [5] * 3 + [10] * 6
    flat = sorted(t for b in native_server.inserts
                  for t in zip(*[vals for _, _, vals in b]))
    assert flat == [(f"m{i}", i, 1700000000 + i, None if i % 4 == 0 else i * 10)
                    for i in sorted(range(75), key=lambda i: f"m{i}")]


def test_fixed_string_oversize_raises():
    """r12 advice item 1: a real server rejects oversize FixedString
    inserts; silently truncating would store corrupted data.  The byte
    (not character) length is what counts — the caster truncates to N
    CHARACTERS, so multi-byte UTF-8 is exactly the sneaky case."""
    from grower_spark.sinks.chnative import encode_column

    assert encode_column("FixedString(3)", ["ab"]) == b"ab\x00"
    assert encode_column("FixedString(3)", [b"abc"]) == b"abc"
    with pytest.raises(ProtocolError, match="too large"):
        encode_column("FixedString(3)", ["abcd"])
    with pytest.raises(ProtocolError, match="too large"):
        encode_column("FixedString(3)", ["ééé"])  # 3 chars, 6 UTF-8 bytes


def test_midinsert_exception_surfaces_and_stops_sending():
    """r12 advice item 3: a server that raises mid-insert and stops
    reading must surface its Exception packet between chunk sends — not
    leave the client pumping blocks into a dead stream until the socket
    timeout.  The zero-timeout poll means the client stops EARLY: the
    server drains well under half of the ~1.6 MB payload."""
    srv = FakeNativeServer(
        table_types={"msg": "String"},
        fail_insert_midstream=(241, "MEMORY_LIMIT_EXCEEDED",
                               "Memory limit (for query) exceeded"),
    )
    try:
        rows = [("x" * 8192,) for _ in range(200)]
        c = NativeClickHouseClient("127.0.0.1", srv.port,
                                   insert_chunk_rows=20)
        with pytest.raises(ClickHouseNativeError) as ei:
            c.insert("t", rows, ["msg"])
        assert ei.value.code == 241
        c.close()
        # the exception rides right behind the sample block, so the
        # pre-chunk poll fires within the first chunk or two
        assert srv.drained_bytes < 800_000, srv.drained_bytes
    finally:
        srv.close()


# -- native-frame compression (r12 verdict item 8) -------------------------


def test_frame_layout_and_roundtrip():
    """Golden frame layout: 16B CityHash128 (low64 LE || high64 LE) over
    header+body, method byte, compressed_size INCLUDING the 9 header
    bytes, data_size, body."""
    from grower_spark.sinks.cityhash102 import cityhash128

    data = b"hello native frames " * 40
    frame = compress_frame(data, METHOD_NONE)
    assert frame[16] == METHOD_NONE
    comp_size, data_size = struct.unpack("<II", frame[17:25])
    assert data_size == len(data)
    assert comp_size == 9 + len(data)  # NONE: body == data
    assert frame[25:] == data
    lo, hi = cityhash128(frame[16:])
    assert frame[:16] == struct.pack("<QQ", lo, hi)
    assert read_frame(Reader(data=frame)) == data

    lz = compress_frame(data, METHOD_LZ4)
    assert lz[16] == METHOD_LZ4
    assert len(lz) < len(frame)  # repetitive input actually compresses
    assert read_frame(Reader(data=lz)) == data

    zs = compress_frame(data, METHOD_ZSTD)
    assert zs[16] == METHOD_ZSTD
    assert len(zs) < len(frame)
    assert read_frame(Reader(data=zs)) == data


def test_frame_checksum_corruption_detected():
    """Any flipped bit — in the checksum, the header, or the body —
    must refuse the stream loudly (this is the property that makes a
    hash mistranscription fail-safe rather than data-corrupting)."""
    data = b"payload " * 100
    frame = bytearray(compress_frame(data, METHOD_LZ4))
    for pos in (0, 15, 16, 20, len(frame) - 1):
        bad = bytearray(frame)
        bad[pos] ^= 0x01
        with pytest.raises(ProtocolError):
            read_frame(Reader(data=bytes(bad)))


def test_multi_frame_stream_reassembly():
    """Block bodies larger than MAX_FRAME_DATA split across frames and
    reassemble transparently; a fresh reader per block must consume
    frames exactly (leftover() == 0)."""
    import os as _os

    from grower_spark.sinks import chnative as m

    data = _os.urandom(100_000)  # incompressible: exercises lz4 expansion
    old = m.MAX_FRAME_DATA
    m.MAX_FRAME_DATA = 16384
    try:
        stream = compress_stream(data, METHOD_LZ4)
    finally:
        m.MAX_FRAME_DATA = old
    cr = CompressedBlockReader(Reader(data=stream))
    assert cr.read(len(data)) == data
    assert cr.leftover() == 0


@pytest.mark.parametrize("compression", ["lz4", "zstd", "none"])
def test_compressed_insert_roundtrip(compression):
    """Full INSERT flow with compression negotiated on the Query packet:
    the server's sample block arrives LZ4-framed, every client Data
    block (typed payload + empty terminator) is verified+decompressed by
    the fake server, and the decoded values match the originals exactly
    — the r12 verdict item 8 done-criterion."""
    srv = FakeNativeServer(
        table_types={
            "msg": "String",
            "n": "Int64",
            "tag": "Nullable(String)",
        }
    )
    try:
        rows = [(f"line-{i}" * 50, i, None if i % 3 else f"t{i}")
                for i in range(500)]
        c = NativeClickHouseClient("127.0.0.1", srv.port,
                                   compression=compression,
                                   insert_chunk_rows=200)
        c.insert("logs", rows, ["msg", "n", "tag"])
        c.close()
        assert srv.saw_compression is True
        got_msg = [v for blk in srv.inserts for v in blk[0][2]]
        got_n = [v for blk in srv.inserts for v in blk[1][2]]
        got_tag = [v for blk in srv.inserts for v in blk[2][2]]
        assert got_msg == [r[0] for r in rows]
        assert got_n == [r[1] for r in rows]
        assert got_tag == [r[2] for r in rows]
    finally:
        srv.close()


def test_uncompressed_client_still_negotiates_off(native_server):
    """Default stays compression=disabled on the wire."""
    c = NativeClickHouseClient("127.0.0.1", native_server.port)
    c.insert("t", [("a", 1, 0.5, datetime.datetime(2024, 1, 1,
                                                   tzinfo=datetime.timezone.utc),
                    None, 7)],
             ["msg", "n", "score", "ts", "tag", "opt"])
    c.close()
    assert native_server.saw_compression is False


def test_compression_requires_known_codec():
    with pytest.raises(ValueError, match="compression must be"):
        NativeClickHouseClient(compression="snappy")


# -- SELECT surface ---------------------------------------------------------


@pytest.mark.parametrize("compression", [False, "lz4"])
def test_select_roundtrip(compression):
    """query(sql): header block + streamed data blocks concatenate into
    (names, types, rows); works plain and through compressed frames."""
    srv = FakeNativeServer()
    srv.select_result = [
        ("status", "UInt16", [200, 404, 500]),
        ("cnt", "UInt64", [10, 5, 1]),
        ("note", "Nullable(String)", ["ok", None, "err"]),
    ]
    try:
        c = NativeClickHouseClient("127.0.0.1", srv.port,
                                   compression=compression)
        names, types, rows = c.query(
            "SELECT status, cnt, note FROM logs")
        c.close()
        assert names == ["status", "cnt", "note"]
        assert types == ["UInt16", "UInt64", "Nullable(String)"]
        assert rows == [(200, 10, "ok"), (404, 5, None), (500, 1, "err")]
    finally:
        srv.close()


def test_select_empty_result():
    srv = FakeNativeServer()
    srv.select_result = [("x", "Int64", [])]
    try:
        c = NativeClickHouseClient("127.0.0.1", srv.port)
        names, types, rows = c.query("SELECT x FROM t WHERE 0")
        c.close()
        assert names == ["x"] and types == ["Int64"] and rows == []
    finally:
        srv.close()


def test_midinsert_exception_closes_connection_and_retry_reconnects():
    """A mid-insert server Exception leaves the stream desynced (the
    server stopped reading an unfinished insert body), so insert() must
    CLOSE the connection — the sink's retry loop then reconnects
    cleanly instead of writing a new Query into a corrupted stream.
    (command()/query() keep the connection: their exceptions arrive at
    clean packet boundaries — pinned above.)"""
    srv = FakeNativeServer(
        table_types={"msg": "String"},
        fail_insert_midstream=(241, "MEMORY_LIMIT_EXCEEDED", "boom"),
    )
    try:
        c = NativeClickHouseClient("127.0.0.1", srv.port,
                                   insert_chunk_rows=10)
        rows = [(f"m{i}",) for i in range(100)]
        with pytest.raises(ClickHouseNativeError):
            c.insert("t", rows, ["msg"])
        assert c._sock is None  # desynced stream was closed
        srv.fail_insert_midstream = None
        c.insert("t", rows, ["msg"])  # fresh connection, clean insert
        got = [v for blk in srv.inserts for v in blk[0][2]]
        assert got == [r[0] for r in rows]
        c.close()
    finally:
        srv.close()


# -- the ClickHouse filelog topology: one query, parse once ----------------

FILELOG_CONFIG = {
    "nginx": {
        "log_format": '$remote_addr - $remote_user [$time_local] "$request" $status',
        "log_time_format": "02/Jan/2006:15:04:05 -0700",
    },
    "scheme": {
        "logs_table": "logs.access",
        "columns": {"remote_addr": "remote_addr", "time_local": "time_local",
                    "request": "request", "status": "status"},
    },
}
FILELOG_TYPES = {"remote_addr": "String", "time_local": "DateTime",
                 "request": "String", "status": "UInt16"}
FILELOG_LINE = '1.2.3.4 - bob [21/Jul/2022:00:30:43 +0300] "GET / HTTP/1.1" {}'
FILELOG_EPOCH = int(datetime.datetime(
    2022, 7, 20, 21, 30, 43, tzinfo=datetime.timezone.utc).timestamp())


def _write_filelogs(logs, n_files: int) -> None:
    """Per file k: a good line (status 200+k), a bad line, and a good line
    whose time is ``-`` (status 300+k)."""
    logs.mkdir()
    for k in range(n_files):
        (logs / f"access-{k}.growerlog").write_text("\n".join([
            FILELOG_LINE.format(200 + k),
            f"not a log line {k}",
            FILELOG_LINE.replace("21/Jul/2022:00:30:43 +0300", "-").format(300 + k),
        ]) + "\n")


def _run_filelog(spark, tmp_path, port: int):
    from grower_spark.config import PipelineConfig
    from grower_spark.streaming.filelog import FileLogRunner

    runner = FileLogRunner(
        spark, PipelineConfig.from_dict(FILELOG_CONFIG),
        logs_dir=str(tmp_path / "logs"), output_path="",
        checkpoint_root=str(tmp_path / "ckpt"),
        deadletter_path=str(tmp_path / "dead"),
        foreach_batch=ClickHouseSink(
            table="logs.access", columns=list(FILELOG_TYPES),
            client_factory=lambda: NativeClickHouseClient("127.0.0.1", port),
        ).foreach_batch(),
        available_now=True,
    ).start()
    runner.await_termination(timeout=120)
    return runner


def _file_batches(tmp_path) -> dict:
    """Log file number -> (batch id, the batch's batchTimestampMs), from
    the query's checkpoint."""
    import json
    import os

    from grower_spark.streaming.filelog import batch_timestamp_ms

    ckpt = str(tmp_path / "ckpt" / "main")
    out = {}
    src = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(src):
        if name.isdigit():
            with open(os.path.join(src, name)) as fh:
                for line in fh.read().splitlines()[1:]:
                    entry = json.loads(line)
                    k = int(entry["path"].rsplit("-", 1)[1].split(".")[0])
                    batch = int(entry["batchId"])
                    out[k] = (batch, batch_timestamp_ms(ckpt, batch))
    return out


def _landed(srv) -> list:
    return sorted(t for b in srv.inserts for t in zip(*[v for _, _, v in b]))


def _dead_lines(spark, tmp_path) -> list:
    return sorted(
        (r["line"], r["ms"]) for r in spark.read.parquet(str(tmp_path / "dead"))
        .selectExpr("line", "unix_millis(seen_at) AS ms").collect())


def test_filelog_clickhouse_one_query_e2e(spark, tmp_path):
    """FileLogRunner with the ClickHouse sink runs ONE query: every good row
    lands once in the native server, the dead-letter directory holds exactly
    the bad lines (seen at their batch's time), and an empty time_local
    lands as the batch's ``batchTimestampMs`` (DateTime: whole seconds)."""
    _write_filelogs(tmp_path / "logs", 3)
    srv = FakeNativeServer(table_types=FILELOG_TYPES)
    try:
        runner = _run_filelog(spark, tmp_path, srv.port)
        landed = _landed(srv)
    finally:
        srv.close()
    assert len(runner.queries) == 1
    batches = _file_batches(tmp_path)
    assert sorted(b for b, _ in batches.values()) == [0, 1, 2]
    want = []
    for k, (_, ms) in batches.items():
        want.append(("1.2.3.4", FILELOG_EPOCH, "GET / HTTP/1.1", 200 + k))
        want.append(("1.2.3.4", ms // 1000, "GET / HTTP/1.1", 300 + k))
    assert landed == sorted(want)
    assert _dead_lines(spark, tmp_path) == sorted(
        (f"not a log line {k}", ms) for k, (_, ms) in batches.items())


def test_filelog_clickhouse_replayed_batch(spark, tmp_path):
    """A batch replayed after a crash (its commit record deleted) writes
    its dead-letter part again in place, so each dead line is there once,
    and its rows, delivered again (at-least-once), carry the same fallback
    time as the first delivery."""
    import os

    _write_filelogs(tmp_path / "logs", 3)
    srv = FakeNativeServer(table_types=FILELOG_TYPES)
    try:
        _run_filelog(spark, tmp_path, srv.port)
        first = _landed(srv)
        dead_first = _dead_lines(spark, tmp_path)
        commits = tmp_path / "ckpt" / "main" / "commits"
        os.remove(commits / "2")
        os.remove(commits / ".2.crc")  # the checksum file would block the rewrite
        _run_filelog(spark, tmp_path, srv.port)
        both = _landed(srv)
    finally:
        srv.close()
    replayed = next(k for k, (b, _) in _file_batches(tmp_path).items() if b == 2)
    again = [r for r in first if r[3] in (200 + replayed, 300 + replayed)]
    assert len(again) == 2
    assert both == sorted(first + again)
    assert _dead_lines(spark, tmp_path) == dead_first
    assert len(dead_first) == 3
