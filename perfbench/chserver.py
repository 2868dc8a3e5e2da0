"""ClickHouse native-protocol stand-in, run as its own process.

While the benchmark's window is open it does as little as a server can:
per Data block it decompresses the LZ4 frames, walks the block structure
only as far as it must to find the block's end and count its rows, keeps
the raw frames with the block's arrival time, and acknowledges the insert
with EndOfStream once the client's empty block closes it.  It neither
verifies checksums nor decodes values then, so the system under test is
not slowed by its sink.  After the window, ``finish`` verifies every
frame's CityHash128 and writes the decompressed blocks for the check.

Run: ``python3 perfbench/chserver.py``.  It prints ``{"port": N}`` and
then answers one JSON line per command read from stdin:

- ``{"cmd": "stats"}``: blocks received, rows by table, inserts
  acknowledged and the time of the latest ack, errors, and the process's
  CPU seconds so far.
- ``{"cmd": "wait", "table": T, "rows": N, "within": S}``: replies with
  ``stats`` once ``T`` holds ``N`` rows, or after ``S`` seconds.
- ``{"cmd": "finish", "path": P}``: verify and write every block to ``P``
  (see ``write_blocks``); replies with the count of bad checksums.
- ``{"cmd": "quit"}``: exit.
"""

from __future__ import annotations

import json
import os
import socket
import struct
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from grower_spark.sinks import chnative as ch  # noqa: E402

SERVER_REVISION = 54462
_FIXED_SIZE = {"UInt8": 1, "UInt16": 2, "UInt32": 4, "UInt64": 8,
               "Int8": 1, "Int16": 2, "Int32": 4, "Int64": 8,
               "Float32": 4, "Float64": 8, "Date": 2, "DateTime": 4}


class BlockWalker:
    """Finds the end of one native block in a stream of decompressed
    chunks, reading only lengths: ``pull()`` returns the next chunk."""

    def __init__(self, pull) -> None:
        self.buf = bytearray()
        self.pos = 0
        self._pull = pull

    def _need(self, end: int) -> None:
        while len(self.buf) < end:
            self.buf += self._pull()

    def _varint(self) -> int:
        shift = result = 0
        while True:
            self._need(self.pos + 1)
            b = self.buf[self.pos]
            self.pos += 1
            result |= (b & 0x7F) << shift
            if not b & 0x80:
                return result
            shift += 7

    def _string(self) -> bytes:
        n = self._varint()
        self._need(self.pos + n)
        out = bytes(self.buf[self.pos:self.pos + n])
        self.pos += n
        return out

    def _skip(self, n: int) -> None:
        self.pos += n
        self._need(self.pos)

    def _skip_strings(self, n: int) -> None:
        buf = self.buf
        pos = self.pos
        need = self._need
        for _ in range(n):
            if pos >= len(buf):
                need(pos + 1)
            b = buf[pos]
            pos += 1
            if b & 0x80:
                ln = b & 0x7F
                shift = 7
                while True:
                    if pos >= len(buf):
                        need(pos + 1)
                    b = buf[pos]
                    pos += 1
                    ln |= (b & 0x7F) << shift
                    if not b & 0x80:
                        break
                    shift += 7
                pos += ln
            else:
                pos += b
        self.pos = pos
        need(pos)

    def _skip_column(self, type_name: str, n: int) -> None:
        if type_name == "String":
            self._skip_strings(n)
        elif type_name in _FIXED_SIZE:
            self._skip(n * _FIXED_SIZE[type_name])
        else:
            raise ch.ProtocolError(f"stand-in cannot walk type {type_name!r}")

    def walk(self, revision: int) -> tuple[int, int]:
        """Return (columns, rows) of the block; the chunks pulled must end
        exactly where the block does."""
        if revision >= ch.REV_BLOCK_INFO:
            while True:
                field = self._varint()
                if field == 0:
                    break
                self._skip(1 if field == 1 else 4)
        n_cols = self._varint()
        n_rows = self._varint()
        for _ in range(n_cols):
            self._string()
            self._skip_column(self._string().decode(), n_rows)
        if self.pos != len(self.buf):
            raise ch.ProtocolError(
                f"{len(self.buf) - self.pos} bytes after block end")
        return n_cols, n_rows


def read_raw_frame(r: ch.Reader) -> tuple[bytes, bytes]:
    """One compressed frame off the wire, unverified: (raw frame, data)."""
    head = r.read(25)
    method, comp_size, data_size = struct.unpack("<BII", head[16:])
    if comp_size < 9 or data_size > ch.MAX_FRAME_RECV:
        raise ch.ProtocolError(f"bad frame header {comp_size}/{data_size}")
    body = r.read(comp_size - 9)
    if method != ch.METHOD_LZ4:
        raise ch.ProtocolError(f"stand-in reads LZ4 frames only, not {method:#x}")
    return head + body, ch._lz4_raw().decompress(body, data_size, asbytes=True)


def walk_compressed(r: ch.Reader, revision: int
                    ) -> tuple[int, int, list[bytes]]:
    """Walk one compressed block: (columns, rows, raw frames)."""
    frames: list[bytes] = []

    def pull() -> bytes:
        raw, data = read_raw_frame(r)
        frames.append(raw)
        return data

    n_cols, n_rows = BlockWalker(pull).walk(revision)
    return n_cols, n_rows, frames


class StandIn:
    """Threaded native-protocol server that records insert blocks.

    ``table_types`` maps column name to ClickHouse type for the sample
    block the server sends at the start of every insert."""

    def __init__(self, table_types: dict[str, str]) -> None:
        self.table_types = dict(table_types)
        self.lock = threading.Lock()
        self.landed = threading.Condition(self.lock)  # notified per ack
        # (table, insert_seq, arrival_s, rows, raw frames); insert acks by seq
        self.blocks: list[tuple[str, int, float, int, list[bytes]]] = []
        self.acks: dict[int, float] = {}
        self.last_ack = 0.0
        self.rows: dict[str, int] = {}
        self.errors: list[str] = []
        self._seq = 0
        self._sample_cache: dict[str, bytes] = {}
        self.sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self.sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.sock.bind(("127.0.0.1", 0))
        self.sock.listen(64)
        self.port = self.sock.getsockname()[1]
        threading.Thread(target=self._serve, daemon=True).start()

    def _serve(self) -> None:
        while True:
            try:
                conn, _ = self.sock.accept()
            except OSError:
                return
            threading.Thread(target=self._handle, args=(conn,),
                             daemon=True).start()

    def _sample(self, names: list[str], rev: int) -> bytes:
        key = ",".join(names)
        if key not in self._sample_cache:
            body = ch.encode_block(
                [(n, self.table_types[n], []) for n in names], rev)
            out = ch.write_varint(ch.SERVER_DATA)
            if rev >= ch.REV_TEMPORARY_TABLES:
                out += ch.write_string("")
            self._sample_cache[key] = out + ch.compress_stream(body)
        return self._sample_cache[key]

    def _handle(self, conn: socket.socket) -> None:
        conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        try:
            self._session(conn, ch.Reader(conn))
        except ch.ProtocolError as exc:
            if "closed" not in str(exc):
                with self.lock:
                    self.errors.append(repr(exc))
        except (OSError, ValueError, KeyError) as exc:
            with self.lock:
                self.errors.append(repr(exc))
        finally:
            conn.close()

    def _session(self, conn: socket.socket, r: ch.Reader) -> None:
        if r.varint() != ch.CLIENT_HELLO:
            raise ch.ProtocolError("expected ClientHello")
        r.string()
        r.varint()
        r.varint()
        rev = min(SERVER_REVISION, r.varint())
        r.string()
        r.string()
        r.string()
        hello = (ch.write_varint(ch.SERVER_HELLO) + ch.write_string("StandIn")
                 + ch.write_varint(23) + ch.write_varint(8)
                 + ch.write_varint(SERVER_REVISION) + ch.write_string("UTC")
                 + ch.write_string("stand-in") + ch.write_varint(0))
        conn.sendall(hello)
        while True:
            code = r.varint()
            if code != ch.CLIENT_QUERY:
                raise ch.ProtocolError(f"unexpected client packet {code}")
            r.string()
            if rev >= ch.REV_CLIENT_INFO:
                r.read(1)
                r.string(), r.string(), r.string()
                r.read(1)
                r.string(), r.string(), r.string()
                r.varint(), r.varint(), r.varint()
                if rev >= ch.REV_QUOTA_KEY:
                    r.string()
                if rev >= ch.REV_VERSION_PATCH:
                    r.varint()
            while r.string():
                if rev >= ch.REV_SETTINGS_AS_STRINGS:
                    r.varint()
                r.string()
            r.varint()
            if r.varint() != ch.COMPRESSION_ENABLED:
                raise ch.ProtocolError("stand-in expects LZ4-compressed inserts")
            query = r.string()
            self._read_block(r, rev)  # external tables terminator
            if not query.upper().startswith("INSERT INTO"):
                raise ch.ProtocolError(f"stand-in takes inserts only: {query!r}")
            table = query.split()[2]
            names = [c.strip().strip("`") for c in
                     query[query.index("(") + 1:query.index(")")].split(",")]
            conn.sendall(self._sample(names, rev))
            with self.lock:
                self._seq += 1
                seq = self._seq
            mine = []
            while True:
                n_rows, frames = self._read_block(r, rev)
                if not n_rows:
                    break
                mine.append((table, seq, time.monotonic(), n_rows, frames))
            # recorded before the ack goes out, so a client that has its
            # ack sees its blocks in ``stats``
            with self.lock:
                self.blocks.extend(mine)
                self.rows[table] = self.rows.get(table, 0) + sum(b[3] for b in mine)
                self.acks[seq] = self.last_ack = time.monotonic()
                self.landed.notify_all()
            conn.sendall(ch.write_varint(ch.SERVER_END_OF_STREAM))

    def _read_block(self, r: ch.Reader, rev: int) -> tuple[int, list[bytes]]:
        if r.varint() != ch.CLIENT_DATA:
            raise ch.ProtocolError("expected a Data packet")
        if rev >= ch.REV_TEMPORARY_TABLES:
            r.string()
        _, n_rows, frames = walk_compressed(r, rev)
        return n_rows, frames

    def stats(self) -> dict:
        with self.lock:
            return {"blocks": len(self.blocks), "rows": dict(self.rows),
                    "inserts": len(self.acks),
                    "last_ack": self.last_ack,
                    "errors": list(self.errors),
                    "cpu_s": time.process_time()}

    def wait(self, table: str, rows: int, within: float) -> dict:
        """``stats`` once ``table`` holds ``rows`` rows, or after
        ``within`` seconds."""
        with self.landed:
            self.landed.wait_for(lambda: self.rows.get(table, 0) >= rows,
                                 within)
        return self.stats()

    def finish(self, path: str) -> dict:
        """Verify every frame's checksum and write the blocks to ``path``."""
        with self.lock:
            blocks = list(self.blocks)
            acks = dict(self.acks)
        bad = 0
        records = []
        for table, seq, arrived, n_rows, frames in blocks:
            body = bytearray()
            for raw in frames:
                try:
                    body += ch.read_frame(ch.Reader(data=raw))
                except ch.ProtocolError:
                    bad += 1
            records.append((table, acks[seq], arrived, n_rows, bytes(body)))
        write_blocks(path, records)
        return {"blocks": len(records), "bad_checksums": bad}


def write_blocks(path: str, records) -> None:
    """Records as a JSON index line followed by the concatenated bodies."""
    index = [{"table": t, "ack": a, "arrived": ar, "rows": n, "len": len(b)}
             for t, a, ar, n, b in records]
    with open(path, "wb") as fh:
        fh.write(json.dumps(index).encode() + b"\n")
        for rec in records:
            fh.write(rec[4])


def read_blocks(path: str) -> list[tuple[dict, bytes]]:
    with open(path, "rb") as fh:
        index = json.loads(fh.readline())
        return [(meta, fh.read(meta["len"])) for meta in index]


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from gen import COLUMNS

    server = StandIn(dict(COLUMNS))
    print(json.dumps({"port": server.port}), flush=True)
    for line in sys.stdin:
        cmd = json.loads(line)
        if cmd["cmd"] == "stats":
            reply = server.stats()
        elif cmd["cmd"] == "wait":
            reply = server.wait(cmd["table"], cmd["rows"], cmd["within"])
        elif cmd["cmd"] == "finish":
            reply = server.finish(cmd["path"])
        elif cmd["cmd"] == "quit":
            break
        else:
            reply = {"error": f"unknown command {cmd['cmd']!r}"}
        print(json.dumps(reply), flush=True)
    server.sock.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
