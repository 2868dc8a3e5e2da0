"""The compiled parse/project/cast pipeline (batch AND streaming).

Reference data plane (/root/reference/pkg/handler/handler.go:20-39): raw line
-> regex parse (template.go:22-37) -> per-target-column projection via the
scheme alias map (config/config.go:26-29) -> type cast (caster.go) -> typed
row; any parse/projection/cast failure drops the whole row with a warning
(internal/services/filelog/impl.go:179-181).

Spark-first design: the whole chain is ONE declarative ``select`` over the
line column, so Catalyst fuses parse+project+cast into a single
WholeStageCodegen stage; there is nothing to hand-schedule.

Extraction strategy (scale note): a naive port does one ``regexp_extract``
per column = N regex executions per line.  Here it is the single-pass form
— ``regexp_replace(line, pattern + '.*$', '$1\\x01$2...')`` then ``split``
— one regex execution + one split per line regardless of column count.
Match detection falls out for free: a non-matching line is returned
unchanged by regexp_replace and therefore splits into != n_groups parts
(input lines containing the \\x01 separator are routed to dead-letter;
never present in well-formed logs).

The three stage ``select`` lists are built once per pipeline and line
column and reused for every DataFrame parsed, so a streaming consumer
that parses each micro-batch pays no per-batch expression building.  The
fallback time for empty Date/DateTime values enters the scrub stage as
the ``__now`` column (see ``parse_detailed``).
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from grower_spark.config import PipelineConfig
from grower_spark.plans.caster import CastPlan, build_field_cast, scrub_hyphen
from grower_spark.plans.template import GROUP_SEP, LogFormat

_PARTS = "__parts"
_MATCHED = "__matched"
_ND = "__nd"
_NOW = "__now"
_EPOCH = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)

# Pushdown barrier: ``PushPredicateThroughNonJoin`` pushes a filter through a
# Project whenever all *project fields* are deterministic (the condition's
# own determinism is not checked for Project).  Without a barrier,
# ``where(_valid)`` is pushed below the parts projection and every validity
# conjunct re-inlines the full ``split(regexp_replace(line, ...))`` —
# observed to blow the generated code past Janino's 64 KB method limit
# (codegen falls back to interpreted) and to re-run the regex once per
# conjunct.  The fix: the scrub-stage projection carries one
# nondeterministic field (``__nd``) that ``_valid`` references, so the
# filter stops right above it and reads the ``__f_*``/``__parts``
# attributes — one regex execution per line.  (``CollapseProject`` already
# refuses to inline the parts expression into many uses.)
# ``spark_partition_id()`` is the barrier: nondeterministic to Catalyst,
# free at runtime, and — unlike monotonically_increasing_id() — allowed in
# streaming queries, so batch and streaming share one plan shape.


@dataclass
class LogPipeline:
    """Config-compiled pipeline: ``parse`` works on any DataFrame with a
    string line column — batch (``spark.read.text``) or streaming
    (``spark.readStream.text``) identically.
    """

    config: PipelineConfig
    now: Optional[Column] = None  # deterministic override for empty-time fallback
    log_format: LogFormat = field(init=False)
    casts: dict[str, CastPlan] = field(init=False)
    # line column -> the three stage select lists, built on first use
    _stages: dict = field(init=False, default_factory=dict, repr=False)

    def __post_init__(self) -> None:
        self.log_format = LogFormat.compile(self.config.nginx.log_format)
        ng = self.config.nginx
        self.casts = {}
        for col_name, var in self.config.scheme.columns.items():
            self.casts[col_name] = build_field_cast(
                var,
                local_time_format=ng.log_time_format,
                custom_casts=ng.log_custom_casts,
                custom_casts_enable=ng.log_custom_casts_enable,
                now=_NOW,
            )

    # -- raw field extraction -------------------------------------------------

    def _scrub_stages(self, line: Column) -> tuple[list[Column], list[Column]]:
        """Stage 1+2: extract raw groups, scrub hyphens, materialize one
        string attribute per *used* variable plus ``_matched``.

        Keeping scrub results as attributes (each consumed several times by
        the value/validity expressions downstream) means CollapseProject
        will not re-inline them, so the regex executes once per line and the
        generated code per stage stays far below Janino's 64 KB method cap
        (observed blowup otherwise).
        """
        if self.config.nginx.log_type == "json":
            return self._scrub_stages_json(line)
        lf = self.log_format
        used_vars = [
            v for v in dict.fromkeys(self.config.scheme.columns.values())
            if v in lf.var_names
        ]
        replaced = F.regexp_replace(line, lf.full_line_pattern(), lf.replacement())
        stage1 = [line.alias("_raw"), F.split(replaced, GROUP_SEP, -1).alias(_PARTS)]
        parts = F.col(_PARTS)
        matched = (F.size(parts) == lf.n_groups) & (
            ~F.col("_raw").contains(GROUP_SEP)
        )
        if lf.n_groups == 1:
            # A non-matching line passes through regexp_replace
            # unchanged and splits into exactly one part — for a
            # single-group format that is indistinguishable from a
            # match by part count alone, so the whole raw line would
            # be silently accepted as the field value.  Re-check with
            # rlike here only: for n_groups > 1 the count test is
            # sufficient and avoids a second regex execution per line.
            matched = matched & F.col("_raw").rlike(lf.full_line_pattern())
        stage2 = [
            F.col("_raw"),
            F.spark_partition_id().alias(_ND),
            matched.alias(_MATCHED),
            # F.get (not getItem): non-matching lines split into fewer
            # parts and ANSI mode makes out-of-bounds getItem an error;
            # get returns NULL, and `matched` already forces the row
            # invalid, so NULL never reaches the output.
            *[
                scrub_hyphen(F.get(parts, lf.group_index(var) - 1)).alias(f"__f_{var}")
                for var in used_vars
            ],
        ]
        return stage1, stage2

    def _scrub_stages_json(self, line: Column) -> tuple[list[Column], list[Column]]:
        """JSON log lines (``log_type: json``): the reference declared but
        never implemented this (template.go:39-41 returns nil; SURVEY.md §2.2
        P3) — here it's ``from_json`` into a flat string map (the shape
        nginx's ``escape=json`` log_format produces).

        Drop semantics mirror the csv path: unparseable line -> row invalid;
        a scheme variable missing from the object -> row invalid
        (handler.go:28-31 drops rows with missing fields).
        """
        used_vars = list(dict.fromkeys(self.config.scheme.columns.values()))
        parsed = F.from_json(line, "map<string,string>")
        stage1 = [line.alias("_raw"), parsed.alias(_PARTS)]
        obj = F.col(_PARTS)
        matched = obj.isNotNull()
        present = [F.when(matched, obj.getItem(v).isNotNull()) for v in used_vars]
        all_present = present[0] if present else F.lit(True)
        for p in present[1:]:
            all_present = all_present & p
        stage2 = [
            F.col("_raw"),
            F.spark_partition_id().alias(_ND),
            (matched & F.coalesce(all_present, F.lit(False))).alias(_MATCHED),
            *[
                scrub_hyphen(F.coalesce(obj.getItem(v), F.lit(""))).alias(f"__f_{v}")
                for v in used_vars
            ],
        ]
        return stage1, stage2

    def _cast_stage(self) -> list[Column]:
        """Stage 3: typed columns, ``_valid`` and ``_raw``."""
        matched = F.col(_MATCHED)
        if self.config.nginx.log_type == "json":
            available = set(self.config.scheme.columns.values())
        else:
            available = set(self.log_format.var_names)
        cols: list[Column] = []
        # referencing __nd anchors any filter on _valid above the scrub stage
        valid = (F.col(_ND) >= -1) & matched
        for col_name, var in self.config.scheme.columns.items():
            plan = self.casts[col_name]
            if var not in available:
                # Projection failure: scheme references a variable the format
                # doesn't produce -> every row invalid (entry.go:17-23).
                valid = F.lit(False)
                cols.append(F.lit(None).cast(plan.spark_type).alias(col_name))
                continue
            raw = F.col(f"__f_{var}")
            cols.append(F.when(matched, plan.value(raw)).alias(col_name))
            valid = valid & plan.valid(raw)
        # coalesce: NULL validity (e.g. NULL field from a JSON miss) must
        # land in the dead-letter side, and `~NULL` is NULL, not true
        return [F.col("_raw"), F.coalesce(valid, F.lit(False)).alias("_valid"), *cols]

    def _now_column(self, batch_time_ms: Optional[int]) -> Column:
        if batch_time_ms is None:
            now = self.now if self.now is not None else F.current_timestamp()
            return now.alias(_NOW)
        # The batch's time as a *string* literal behind the partition-id
        # barrier, cast to timestamp only in the cast stage: Janino inlines a
        # timestamp literal into the generated source, so every batch would
        # compile new classes, while a string literal is passed by
        # reference.  Without the barrier the optimizer folds the cast into
        # the literal again.
        stamp = _EPOCH + _dt.timedelta(milliseconds=batch_time_ms)
        return F.when(F.spark_partition_id() >= 0,
                      F.lit(stamp.isoformat(timespec="milliseconds"))).alias(_NOW)

    # -- public API -----------------------------------------------------------

    def parse_detailed(self, df: DataFrame, line_col: str = "value",
                       batch_time_ms: Optional[int] = None) -> DataFrame:
        """Typed columns + ``_valid`` flag + original line (``_raw``).

        Rows whose line doesn't match the format, references a missing
        variable, or fails any cast have ``_valid = false`` (the reference
        warns and drops such rows; handler.go:28-35).

        Empty Date/DateTime values fall back to ``now``, or
        ``current_timestamp()`` when it is unset.  ``batch_time_ms`` (epoch
        milliseconds) replaces both: a streaming consumer passes its
        micro-batch's time, and the generated code is then the same for
        every batch.
        """
        stages = self._stages.get(line_col)
        if stages is None:
            stages = self._stages[line_col] = (
                *self._scrub_stages(F.col(line_col)), self._cast_stage())
        stage1, stage2, stage3 = stages
        return (df.select(*stage1)
                .select(*stage2, self._now_column(batch_time_ms))
                .select(*stage3))

    def parse(self, df: DataFrame, line_col: str = "value") -> DataFrame:
        """Valid, typed rows only (the reference's surviving pipeline output)."""
        detailed = self.parse_detailed(df, line_col)
        return detailed.where(F.col("_valid")).drop("_raw", "_valid")

    def parse_with_deadletter(self, df: DataFrame, line_col: str = "value") -> tuple[DataFrame, DataFrame]:
        """(typed valid rows, dead-letter raw lines).

        The reference only warns+drops; the dead-letter side is a superset
        that degrades to drop (SURVEY.md §1.3 item 4).
        """
        detailed = self.parse_detailed(df, line_col)
        good = detailed.where(F.col("_valid")).drop("_raw", "_valid")
        bad = detailed.where(~F.col("_valid")).select(F.col("_raw").alias("line"))
        return good, bad

    def output_schema(self) -> list[tuple[str, str]]:
        return [
            (name, self.casts[name].spark_type.simpleString())
            for name in self.config.scheme.columns
        ]
