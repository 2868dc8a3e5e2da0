"""End-to-end golden test: the reference's `caseOne` line through the full
pipeline (reference: pkg/nginx/template_test.go:15-107, fixture
sample_test.yaml).  Every one of the 14 type kinds is asserted, including
FixedString truncation and hyphen-scrubbed empty strings."""

import datetime
import decimal
import os

import pytest

from grower_spark.config import PipelineConfig
from grower_spark.plans.pipeline import LogPipeline

from conftest import FIXTURES
from test_template import SAMPLE_LINE

# All 24 parsed fields projected as target columns (the reference golden test
# casts each field directly; its shipped scheme only lands the first 13).
ALL_COLUMNS = {
    name: name
    for name in [
        "remote_addr", "remote_user", "time_local", "request", "status",
        "bytes_sent", "request_time", "request_method", "http_referer",
        "http_user_agent", "https", "custom_field", "custom_time_field",
        "field_uint8", "field_uint16", "field_uint32", "field_uint64",
        "field_int8", "field_int16", "field_int32", "field_int64",
        "field_f32", "field_f64", "field_fixed_string", "field_date",
    ]
}

GOLDEN = {
    "remote_addr": "114.119.133.192",
    "remote_user": "",  # "-" scrubbed
    "time_local": datetime.datetime(2022, 7, 20, 21, 30, 43),  # +0300 -> UTC
    "request": "GET /sito/wp-includes/wlwmanifest.xml HTTP/1.1",
    "status": 444,
    "bytes_sent": 9,
    "request_time": pytest.approx(100000.14, rel=1e-6),
    "request_method": "GET",
    "http_referer": "",  # "-" scrubbed
    "http_user_agent": (
        "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/78.0.3904.108 Safari/537.36"
    ),
    "https": "ON",
    "custom_field": 10,
    "custom_time_field": datetime.datetime(2022, 7, 21, 0, 30, 43),
    "field_uint8": 8,
    "field_uint16": 16,
    "field_uint32": 32,
    "field_uint64": decimal.Decimal(64),
    "field_int8": 11,
    "field_int16": 22,
    "field_int32": 33,
    "field_int64": 44,
    "field_f32": pytest.approx(1000.0),
    "field_f64": pytest.approx(2000.0),
    "field_fixed_string": "1234567890",  # FixedString(10) truncation
    "field_date": datetime.date(2022, 7, 21),
}

EXPECTED_TYPES = {
    "status": "int",  # UInt16 widened
    "bytes_sent": "bigint",  # UInt32 widened
    "request_time": "float",
    "custom_field": "int",
    "time_local": "timestamp",
    "custom_time_field": "timestamp",
    "field_uint8": "smallint",
    "field_uint16": "int",
    "field_uint32": "bigint",
    "field_uint64": "decimal(20,0)",
    "field_int8": "tinyint",
    "field_int16": "smallint",
    "field_int32": "int",
    "field_int64": "bigint",
    "field_f32": "float",
    "field_f64": "double",
    "field_fixed_string": "string",
    "field_date": "date",
}


def extended_config() -> PipelineConfig:
    cfg = PipelineConfig.from_yaml(os.path.join(FIXTURES, "sample_test.yaml"))
    return PipelineConfig.from_dict(
        {
            "nginx": {
                "log_format": cfg.nginx.log_format,
                "log_time_format": cfg.nginx.log_time_format,
                "log_custom_casts_enable": True,
                "log_custom_casts": cfg.nginx.log_custom_casts,
            },
            "scheme": {"logs_table": "golden.access_log", "columns": ALL_COLUMNS},
        }
    )


def test_case_one_golden(spark):
    pipeline = LogPipeline(extended_config())
    df = spark.createDataFrame([(SAMPLE_LINE,)], ["value"])
    rows = pipeline.parse(df).collect()
    assert len(rows) == 1
    row = rows[0].asDict()
    for key, expected in GOLDEN.items():
        assert row[key] == expected, f"{key}: {row[key]!r} != {expected!r}"


def test_output_schema_types(spark):
    pipeline = LogPipeline(extended_config())
    df = pipeline.parse(spark.createDataFrame([(SAMPLE_LINE,)], ["value"]))
    dtypes = dict(df.dtypes)
    for col, expected in EXPECTED_TYPES.items():
        assert dtypes[col] == expected, f"{col}: {dtypes[col]} != {expected}"


def test_shipped_scheme_13_columns(spark):
    cfg = PipelineConfig.from_yaml(os.path.join(FIXTURES, "sample_test.yaml"))
    pipeline = LogPipeline(cfg)
    df = pipeline.parse(spark.createDataFrame([(SAMPLE_LINE,)], ["value"]))
    assert df.columns == list(cfg.scheme.columns.keys())
    assert len(df.columns) == 13
    assert df.count() == 1


def test_malformed_row_dropped_to_deadletter(spark):
    pipeline = LogPipeline(extended_config())
    bad_cast = SAMPLE_LINE.replace(" 444 ", " notanumber ", 1)
    bad_format = "completely unrelated line"
    df = spark.createDataFrame(
        [(SAMPLE_LINE,), (bad_cast,), (bad_format,)], ["value"]
    )
    good, bad = pipeline.parse_with_deadletter(df)
    assert good.count() == 1
    assert sorted(r.line for r in bad.collect()) == sorted([bad_cast, bad_format])


def test_uint8_overflow_dropped(spark):
    pipeline = LogPipeline(extended_config())
    overflow = SAMPLE_LINE.replace("> 8 16", "> 300 16", 1)  # uint8 max 255
    good, bad = pipeline.parse_with_deadletter(
        spark.createDataFrame([(overflow,)], ["value"])
    )
    assert good.count() == 0 and bad.count() == 1


def test_negative_unsigned_dropped(spark):
    pipeline = LogPipeline(extended_config())
    neg = SAMPLE_LINE.replace("> 8 16", "> -8 16", 1)
    good, bad = pipeline.parse_with_deadletter(
        spark.createDataFrame([(neg,)], ["value"])
    )
    assert good.count() == 0 and bad.count() == 1


def test_time_iso8601_full_pipeline(spark):
    import datetime

    cfg = PipelineConfig.from_dict(
        {
            "nginx": {"log_format": "$remote_addr [$time_iso8601] $status"},
            "scheme": {
                "logs_table": "t.iso",
                "columns": {
                    "remote_addr": "remote_addr",
                    "time_iso8601": "time_iso8601",
                    "status": "status",
                },
            },
        }
    )
    df = spark.createDataFrame(
        [("9.8.7.6 [2022-07-21T00:30:43+03:00] 200",),
         ("9.8.7.6 [2022-07-21T05:30:43Z] 201",),
         ("9.8.7.6 [not-a-time] 500",)],
        ["value"],
    )
    good, bad = LogPipeline(cfg).parse_with_deadletter(df)
    rows = {r["status"]: r["time_iso8601"] for r in good.collect()}
    assert rows[200] == datetime.datetime(2022, 7, 20, 21, 30, 43)  # +03 -> UTC
    assert rows[201] == datetime.datetime(2022, 7, 21, 5, 30, 43)   # Z suffix
    assert bad.count() == 1  # malformed iso time dropped


def test_single_capture_group_nonmatch_deadlettered(spark):
    # Regression (round-1 advice): with exactly one capture group, a
    # non-matching line passes through regexp_replace unchanged and splits
    # into 1 part == n_groups — without the rlike re-check the whole raw
    # line would be accepted as the field value instead of dead-lettered.
    cfg = PipelineConfig.from_dict(
        {
            "nginx": {"log_format": "status=$status"},
            "scheme": {
                "logs_table": "t.one",
                "columns": {"status": "status"},
            },
        }
    )
    df = spark.createDataFrame(
        [("status=200",), ("totally unrelated line",), ("status=",)],
        ["value"],
    )
    good, bad = LogPipeline(cfg).parse_with_deadletter(df)
    # "status=" DOES match the format; empty value -> 0 (reference's
    # empty/hyphen-to-zero cast semantics). Only the unrelated line drops.
    assert sorted(r["status"] for r in good.collect()) == [0, 200]
    assert [r.line for r in bad.collect()] == ["totally unrelated line"]
