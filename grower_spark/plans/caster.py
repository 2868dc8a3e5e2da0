"""ClickHouse type names -> Spark cast expressions with grower semantics.

Reference: /root/reference/pkg/nginx/caster.go.  The semantics to replicate
exactly (SURVEY.md §1.3):

1. ``"-"`` is rewritten to ``""`` unconditionally before any cast
   (caster.go:73-75,144-149).
2. Empty string casts to the type's **zero value**, never NULL
   (caster.go:183-291): 0 for numerics, "" for strings.
3. Empty Date/DateTime becomes "now" (caster.go:293-296).  ``now`` is an
   injectable expression here so tests and oracles stay deterministic, or
   the name of a column holding it (``LogPipeline`` passes one in per
   micro-batch).
4. A malformed non-empty value is an error -> the whole row is dropped
   (caster.go:187-189 et al; handler.go:32-35).  Here each cast produces a
   companion validity predicate; the pipeline routes rows failing any
   predicate to a dead-letter DataFrame.

Type widening (Spark has no unsigned): UInt8->short, UInt16->int,
UInt32->long, UInt64->decimal(20,0); FixedString(N) truncates to the first N
characters (the reference truncates N *bytes*, caster.go:156-179 — identical
for ASCII log data, documented divergence for multi-byte UTF-8).

Numeric strictness: Go's strconv rejects whitespace, thousands separators and
(for unsigned) any sign, while Spark's cast trims and accepts '+'.  Regex
guards reproduce the Go acceptance grammar; try_cast supplies the range check
(overflow -> NULL -> invalid).
"""

from __future__ import annotations

import decimal
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import Column
import pyspark.sql.functions as F
from pyspark.sql import types as T

from grower_spark.timefmt import GO_RFC3339, go_layout_to_jdk

# ClickHouse type names, incl. legacy aliases (caster.go:25-47).
UNSIGNED = {
    "UInt8": (T.ShortType(), 255),
    "UInt16": (T.IntegerType(), 65535),
    "UInt32": (T.LongType(), 4294967295),
    "UInt64": (T.DecimalType(20, 0), 18446744073709551615),
}
SIGNED = {
    "Int8": T.ByteType(),
    "Int16": T.ShortType(),
    "Int32": T.IntegerType(),
    "Integer": T.IntegerType(),  # legacy alias (caster.go:27,105)
    "Int64": T.LongType(),
}
FLOATS = {"Float32": T.FloatType(), "Float64": T.DoubleType()}

# Go acceptance grammars (strconv.ParseUint/ParseInt/ParseFloat, base 10).
_UNSIGNED_RE = "^[0-9]+$"
_SIGNED_RE = "^[+-]?[0-9]+$"
_FLOAT_RE = (
    r"^[+-]?(([0-9]+(\.[0-9]*)?|\.[0-9]+)([eEpP][+-]?[0-9]+)?"
    r"|[iI][nN][fF]([iI][nN][iI][tT][yY])?|[nN][aA][nN])$"
)

_GO_DEFAULT_DATETIME = "2006-01-02T15:04:05"  # caster.go:10
_GO_DEFAULT_DATE = "2006-01-02"  # caster.go:11

# nginx built-in attribute typing (pkg/nginx/constants.go:4-44, caster.go:118-140).
NGINX_STRING_FIELDS = {
    "remote_addr", "remote_user", "request", "http_referer",
    "http_user_agent", "request_method", "https",
}
NGINX_INT32_FIELDS = {
    "connections_waiting", "connections_active", "connection", "request_length",
}
NGINX_UINT32_FIELDS = {"bytes_sent", "body_bytes_sent"}
NGINX_UINT16_FIELDS = {"status"}
NGINX_FLOAT32_FIELDS = {
    "request_time", "upstream_connect_time", "upstream_header_time",
    "upstream_response_time", "msec",
}
TIME_LOCAL = "time_local"
TIME_ISO8601 = "time_iso8601"


@dataclass
class CastPlan:
    """A compiled per-column cast: value expression + validity predicate.

    ``value`` / ``valid`` take the *hyphen-scrubbed* raw string column.
    """

    type_name: str
    spark_type: T.DataType
    value: Callable[[Column], Column]
    valid: Callable[[Column], Column]


def scrub_hyphen(raw: Column) -> Column:
    """'-' -> '' unconditionally before any cast (caster.go:73-75,144-149)."""
    return F.when(raw == "-", F.lit("")).otherwise(raw)


def _numeric_plan(type_name: str, dt: T.DataType, guard_re: str,
                  upper: Optional[int] = None) -> CastPlan:
    dt_sql = dt.simpleString()

    def casted(col: Column) -> Column:
        return col.try_cast(dt_sql)

    def value(col: Column) -> Column:
        return F.when(col == "", F.lit(0).cast(dt)).otherwise(casted(col))

    def valid(col: Column) -> Column:
        ok = col.rlike(guard_re) & casted(col).isNotNull()
        if upper is not None:
            # UInt64's bound exceeds Java long; ship it as a decimal literal.
            bound = F.lit(upper) if upper < 2**63 else F.lit(decimal.Decimal(upper))
            ok = ok & (casted(col) <= bound)
        return (col == "") | ok

    return CastPlan(type_name, dt, value, valid)


def _string_plan(type_name: str = "String") -> CastPlan:
    return CastPlan(type_name, T.StringType(), lambda c: c, lambda c: F.lit(True))


def _fixed_string_plan(type_name: str, size: int) -> CastPlan:
    return CastPlan(
        type_name,
        T.StringType(),
        lambda c: F.substring(c, 1, size),
        lambda c: F.lit(True),
    )


def _datetime_plan(type_name: str, jdk_pattern: str,
                   now: "Column | str | None", as_date: bool) -> CastPlan:
    dt: T.DataType = T.DateType() if as_date else T.TimestampType()

    def parsed(col: Column) -> Column:
        ts = F.try_to_timestamp(col, F.lit(jdk_pattern))
        return ts.cast(T.DateType()) if as_date else ts

    def value(col: Column) -> Column:
        # resolve the default and a column name lazily: building a Column
        # needs an active SparkContext, and plan *construction* (e.g. `cli
        # ddl`) must work without one.  A named column may hold a timestamp
        # or its string form; the cast to timestamp comes first, so a Date
        # is taken in the session time zone either way.
        if now is None:
            now_col = F.current_timestamp()
        elif isinstance(now, str):
            now_col = F.col(now).cast(T.TimestampType())
        else:
            now_col = now
        return F.when(col == "", now_col.cast(dt)).otherwise(parsed(col))

    def valid(col: Column) -> Column:
        return (col == "") | parsed(col).isNotNull()

    return CastPlan(type_name, dt, value, valid)


def parse_fixed_string_size(type_name: str) -> Optional[int]:
    """``FixedString(10)`` -> 10; None if not a FixedString type name.

    Mirrors caster.go:156-179 (malformed size -> config-time error here,
    instead of silently producing "" per row like the reference).
    """
    if not (type_name.startswith("FixedString") and len(type_name) > len("FixedString")):
        return None
    rest = type_name[len("FixedString"):]
    if len(rest) <= 2 or rest[0] != "(" or rest[-1] != ")":
        raise ValueError(f"malformed FixedString type: {type_name!r}")
    try:
        return int(rest[1:-1])
    except ValueError:
        raise ValueError(f"can't parse fixed string size: {type_name!r}") from None


def build_cast(type_name: str, *, local_time_format: str = "",
               now: "Column | str | None" = None) -> CastPlan:
    """Build the cast plan for an explicit ClickHouse type name.

    ``now`` is the fallback expression for empty Date/DateTime values
    (default ``current_timestamp()``, resolved lazily; inject a literal for
    determinism), or the name of the column that holds it.
    """
    if type_name in UNSIGNED:
        dt, upper = UNSIGNED[type_name]
        return _numeric_plan(type_name, dt, _UNSIGNED_RE, upper)
    if type_name in SIGNED:
        return _numeric_plan(type_name, SIGNED[type_name], _SIGNED_RE)
    if type_name in FLOATS:
        return _numeric_plan(type_name, FLOATS[type_name], _FLOAT_RE)
    if type_name == "String":
        return _string_plan()
    if type_name == "Date":
        return _datetime_plan("Date", go_layout_to_jdk(_GO_DEFAULT_DATE), now, True)
    if type_name in ("DateTime", "Datetime"):
        return _datetime_plan(type_name, go_layout_to_jdk(_GO_DEFAULT_DATETIME), now, False)
    size = parse_fixed_string_size(type_name)
    if size is not None:
        return _fixed_string_plan(type_name, size)
    # Unknown custom type name: the reference falls through to native typing
    # (caster.go:108-113 has no default case -> nnv).  Signal to caller.
    raise KeyError(type_name)


def build_field_cast(field: str, *, local_time_format: str,
                     custom_casts: Optional[dict[str, str]] = None,
                     custom_casts_enable: bool = False,
                     now: "Column | str | None" = None) -> CastPlan:
    """Resolve the cast for an nginx variable: custom cast if enabled and
    declared (caster.go:76-113), else built-in nginx typing (caster.go:118-140),
    else String passthrough.
    """
    if custom_casts_enable and custom_casts and field in custom_casts:
        try:
            return build_cast(custom_casts[field],
                              local_time_format=local_time_format, now=now)
        except KeyError:
            pass  # unknown custom type name -> native typing, like the reference
    if field == TIME_LOCAL:
        return _datetime_plan("DateTime", go_layout_to_jdk(local_time_format), now, False)
    if field == TIME_ISO8601:
        return _datetime_plan("DateTime", go_layout_to_jdk(GO_RFC3339), now, False)
    if field in NGINX_UINT16_FIELDS:
        dt, upper = UNSIGNED["UInt16"]
        return _numeric_plan("UInt16", dt, _UNSIGNED_RE, upper)
    if field in NGINX_UINT32_FIELDS:
        dt, upper = UNSIGNED["UInt32"]
        return _numeric_plan("UInt32", dt, _UNSIGNED_RE, upper)
    if field in NGINX_INT32_FIELDS:
        return _numeric_plan("Int32", SIGNED["Int32"], _SIGNED_RE)
    if field in NGINX_FLOAT32_FIELDS:
        return _numeric_plan("Float32", FLOATS["Float32"], _FLOAT_RE)
    return _string_plan()
