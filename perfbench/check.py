"""After the window: decode what the stand-in received and hold it
against the rows the seeded input must produce.

A row fails when it is missing, lands more often than its line was fed
in, lands with a value other than expected, or carries an id no good line
has.  The
dead-letter count must also equal the number of bad lines generated;
each line of difference is one more failure.

A registry row's result is held against its DuckDB oracle
(``grower_spark.driver_queries.ORACLES``) on the same table, through an
order-insensitive hash of the rows.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

from perfbench.gen import COLUMNS, ID_COLUMN

_NUMPY = {"UInt8": "<u1", "UInt16": "<u2", "UInt32": "<u4", "UInt64": "<u8",
          "Int8": "<i1", "Int16": "<i2", "Int32": "<i4", "Int64": "<i8",
          "Float32": "<f4", "Float64": "<f8", "Date": "<u2",
          "DateTime": "<u4"}


def _varint(buf, pos: int) -> tuple[int, int]:
    shift = result = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def decode_block(body: bytes) -> tuple[list[str], list[list]]:
    """One decompressed native block (with BlockInfo) → names, columns.
    Independent of the program's own decoder."""
    pos = 0
    while True:
        field, pos = _varint(body, pos)
        if field == 0:
            break
        pos += 1 if field == 1 else 4
    n_cols, pos = _varint(body, pos)
    n_rows, pos = _varint(body, pos)
    names, cols = [], []
    mv = memoryview(body)
    for _ in range(n_cols):
        ln, pos = _varint(body, pos)
        names.append(bytes(mv[pos:pos + ln]).decode())
        pos += ln
        ln, pos = _varint(body, pos)
        type_name = bytes(mv[pos:pos + ln]).decode()
        pos += ln
        if type_name == "String":
            vals = []
            append = vals.append
            for _ in range(n_rows):
                ln = body[pos]
                if ln & 0x80:
                    ln, pos = _varint(body, pos)
                else:
                    pos += 1
                append(str(mv[pos:pos + ln], "utf-8"))
                pos += ln
        elif type_name in _NUMPY:
            dt = np.dtype(_NUMPY[type_name])
            vals = np.frombuffer(body, dt, n_rows, pos).tolist()
            pos += dt.itemsize * n_rows
        else:
            raise ValueError(f"check cannot decode {type_name!r}")
        cols.append(vals)
    if pos != len(body):
        raise ValueError(f"{len(body) - pos} bytes after block end")
    return names, cols


class TableCheck:
    """Rows of one target table against the expected rows by id.

    ``times[i]`` is how often the line with id ``i`` was fed in (default
    once): each good line must land exactly that often."""

    def __init__(self, expected: list[tuple | None], times=None) -> None:
        self.expected = expected
        self.times = (np.ones(len(expected), dtype=np.int64) if times is None
                      else np.asarray(times))
        self.seen = np.zeros(len(expected), dtype=np.int64)
        self.ack = np.full(len(expected), np.nan)  # first landing per id
        self.blocks: list[tuple[float, int]] = []  # (ack, rows) per block
        self.wrong = 0
        self.foreign = 0
        self.names = [c for c, _ in COLUMNS]

    def add(self, body: bytes, ack: float) -> None:
        names, cols = decode_block(body)
        if names != self.names:
            self.wrong += len(cols[0]) if cols else 0
            return
        self.blocks.append((ack, len(cols[0])))
        expected = self.expected
        n = len(expected)
        for row in zip(*cols):
            i = row[ID_COLUMN]
            if not 0 <= i < n or expected[i] is None:
                self.foreign += 1
                continue
            self.seen[i] += 1
            if self.seen[i] == 1:
                self.ack[i] = ack
            if row != expected[i]:
                self.wrong += 1

    def failures(self) -> dict:
        """Failed-row counts over every id the input held."""
        good = np.array([r is not None for r in self.expected])
        want = np.where(good, self.times, 0)
        return {
            "expected": int(want.sum()),
            "missing": int(np.maximum(want - self.seen, 0).sum()),
            "duplicated": int(np.maximum(self.seen - want, 0).sum()),
            "wrong": self.wrong,
            "foreign": self.foreign,
        }


def failed_count(f: dict) -> int:
    return f["missing"] + f["duplicated"] + f["wrong"] + f["foreign"]


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.10g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, rows
    sorted by their rendering."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    h = hashlib.sha256()
    for line in sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows):
        h.update(line.encode("utf-8", "replace") + b"\n")
    return h.hexdigest()[:16]


def oracle_hashes(tables_dir: str, names) -> dict[str, str]:
    """Each registry row's expected hash, from its DuckDB oracle over the
    ``documents`` table in ``tables_dir``."""
    import duckdb

    from grower_spark.driver_queries import ORACLES

    con = duckdb.connect()
    path = os.path.join(tables_dir, "documents.parquet").replace("'", "''")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for name in names:
        res = con.execute(ORACLES[name])
        out[name] = table_hash([d[0] for d in res.description], res.fetchall())
    con.close()
    return out
