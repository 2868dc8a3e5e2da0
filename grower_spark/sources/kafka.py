"""Kafka source (reference S6: internal/services/kafkalog/server.go).

The reference runs ``AsyncFactor`` consumer-group readers, one log line per
message value.  Spark's Kafka source replaces the whole consumer-group
machinery: group management, offset tracking (checkpointed), and
parallelism (one task per topic-partition) are built in.

The connector jar (spark-sql-kafka) is not bundled with pip pyspark, so
this module only *wires options*; ``kafka_line_stream`` raises a clear
error when the connector is missing rather than an opaque ClassNotFound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F


def kafka_reader_options(
    brokers: list[str] | str,
    topic: str,
    group_id: str = "grower",
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """Option map mirroring the reference's reader config
    (kafkalog/server.go:118-122, opt.go:39-45)."""
    if isinstance(brokers, (list, tuple)):
        brokers = ",".join(brokers)
    opts = {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "kafka.group.id": group_id,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "false",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def kafka_line_stream(spark: SparkSession, **options) -> DataFrame:
    """Streaming DataFrame[value: string] of log lines from Kafka."""
    opts = kafka_reader_options(**options)
    try:
        reader = spark.readStream.format("kafka")
        for k, v in opts.items():
            reader = reader.option(k, v)
        raw = reader.load()
    except Exception as exc:  # pragma: no cover - connector not in container
        raise RuntimeError(
            "Kafka connector unavailable: launch with "
            "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>"
        ) from exc
    return raw.select(F.col("value").cast("string").alias("value"))
