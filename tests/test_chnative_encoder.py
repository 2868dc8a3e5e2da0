"""Byte-identity of the numpy column encoder in ``sinks/chnative.py``.

``fixtures/chnative_golden.json`` holds the SHA-256 and length of each
``encode_block`` output below as recorded from the earlier encoder, which
packed one value at a time with ``struct.pack``.  The corpus covers every
varint width of a String length prefix, multi-byte UTF-8, Nullable masks,
naive and UTC DateTime, Date, Float32, every fixed-width integer at its
limits, FixedString padding and Arrow arrays sliced to a non-zero offset.
Each case is encoded from Python lists and from Arrow arrays; both must
reproduce the recorded bytes."""

from __future__ import annotations

import datetime
import hashlib
import json
import os

import pyarrow as pa
import pytest

from grower_spark.sinks.chnative import (
    CLIENT_REVISION,
    ProtocolError,
    encode_block,
    encode_column,
)

GOLDEN = os.path.join(os.path.dirname(__file__), "fixtures",
                      "chnative_golden.json")

_UTC = datetime.timezone.utc


def _text(n: int) -> str:
    return "".join(chr(ord("a") + i % 26) for i in range(n))


def corpus() -> dict:
    """case name -> [(column name, ClickHouse type, Python values)]."""
    return {
        "string_varint_widths": [
            ("s", "String", [_text(n) for n in (0, 127, 128, 16383, 16384)]),
        ],
        "string_utf8": [
            ("s", "String", ["é", "日本語", "🙂x", "", "naïve café",
                             "ж" * 70]),
        ],
        "nullable_string": [
            ("s", "Nullable(String)", ["a", None, "", None, "ü", "tail"]),
        ],
        "nullable_uint16": [
            ("n", "Nullable(UInt16)", [0, None, 65535, None, 7]),
        ],
        "datetime_naive_and_utc": [
            ("naive", "DateTime", [
                datetime.datetime(2024, 1, 2, 3, 4, 5, 678901),
                datetime.datetime(1970, 1, 1),
                datetime.datetime(2106, 2, 7, 6, 28, 15),
            ]),
            ("utc", "DateTime", [
                datetime.datetime(2024, 1, 2, 3, 4, 5, 999999, tzinfo=_UTC),
                datetime.datetime(1970, 1, 1, 0, 0, 1, tzinfo=_UTC),
                datetime.datetime(2000, 2, 29, 12, tzinfo=_UTC),
            ]),
            ("nullable", "Nullable(DateTime)", [
                None, datetime.datetime(2021, 6, 1, 8), None,
            ]),
        ],
        "date": [
            ("d", "Date", [datetime.date(1970, 1, 1),
                           datetime.date(2024, 2, 29),
                           datetime.date(2149, 6, 6)]),
        ],
        "float32": [
            ("f", "Float32", [0.0, 1.5, -2.25, 3.14159, 1e-3, 65504.0,
                              -0.0, 1e30]),
        ],
        "fixed_width_limits": [
            ("u8", "UInt8", [0, 255, 1]),
            ("u16", "UInt16", [0, 65535, 2]),
            ("u32", "UInt32", [0, 2**32 - 1, 3]),
            ("u64", "UInt64", [0, 2**64 - 1, 4]),
            ("i8", "Int8", [-128, 127, -1]),
            ("i16", "Int16", [-2**15, 2**15 - 1, -2]),
            ("i32", "Int32", [-2**31, 2**31 - 1, -3]),
            ("i64", "Int64", [-2**63, 2**63 - 1, -4]),
            ("f64", "Float64", [0.1, -1e308, 2.0]),
        ],
        "fixed_string": [
            ("m", "FixedString(3)", ["GET", "ab", "", "é", None]),
        ],
        "access_log": [
            ("remote_addr", "String", ["10.0.0.1", "2001:db8::1"]),
            ("time_local", "DateTime", [
                datetime.datetime(2023, 5, 6, 7, 8, 9),
                datetime.datetime(2023, 5, 6, 7, 8, 10, 500000)]),
            ("status", "UInt16", [200, 404]),
            ("bytes_sent", "UInt32", [512, 0]),
            ("request_time", "Float32", [0.123, 2.5]),
            ("custom_field", "Int32", [-7, 7]),
        ],
        "empty_block": [],
    }


# cases also encoded from a slice of a longer Arrow array, so the encoder
# must honour the array's offset in the offsets, data and validity buffers
SLICED = ("string_varint_widths", "string_utf8", "nullable_string",
          "nullable_uint16", "fixed_string", "float32")


def _digest(block: bytes) -> dict:
    return {"sha256": hashlib.sha256(block).hexdigest(), "len": len(block)}


def _sliced(values: list) -> pa.Array:
    pad = [values[-1], values[0], None]
    arr = pa.array(pad + list(values) + pad)
    out = arr.slice(len(pad), len(values))
    assert out.offset == len(pad)
    return out


@pytest.fixture(scope="module")
def golden() -> dict:
    with open(GOLDEN) as fh:
        return json.load(fh)


@pytest.mark.parametrize("case", sorted(corpus()))
def test_block_bytes_match_recorded_encoder(case, golden):
    cols = corpus()[case]
    want = golden[case]
    assert _digest(encode_block(cols, CLIENT_REVISION)) == want
    # inference stops at int64; UInt64's top half needs the type
    arrow = [(n, t, pa.array(v, pa.uint64() if t == "UInt64" else None))
             for n, t, v in cols]
    assert _digest(encode_block(arrow, CLIENT_REVISION)) == want
    if case in SLICED:
        sliced = [(n, t, _sliced(v)) for n, t, v in cols]
        assert _digest(encode_block(sliced, CLIENT_REVISION)) == want


@pytest.mark.parametrize("type_name,values", [
    ("UInt16", [1, 65536]),
    ("UInt16", [-1]),
    ("Int32", [2**31]),
    ("Int32", [-2**31 - 1]),
    ("UInt8", [256]),
    ("DateTime", [datetime.datetime(1969, 12, 31, 23, 59, 59)]),
    ("DateTime", [datetime.datetime(1969, 12, 31, 23, 59, 59,
                                    tzinfo=_UTC)]),
    ("Date", [datetime.date(1969, 12, 31)]),
])
def test_out_of_range_values_raise(type_name, values):
    with pytest.raises(ProtocolError, match="out of range"):
        encode_column(type_name, values)
    with pytest.raises(ProtocolError, match="out of range"):
        encode_column(type_name, pa.array(values))


@pytest.mark.parametrize("value", ["abcd", "ééé", b"abcd"])
def test_oversize_fixed_string_raises(value):
    with pytest.raises(ProtocolError, match="too large"):
        encode_column("FixedString(3)", ["ok", value])


def test_unsupported_type_raises():
    with pytest.raises(ProtocolError, match="unsupported"):
        encode_column("Array(String)", ["a"])
