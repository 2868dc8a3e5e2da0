from grower_spark.sinks.clickhouse import ClickHouseSink, IdempotentForeachBatch, clickhouse_ddl
from grower_spark.sinks.files import ParquetSink, write_batch_files
from grower_spark.sinks.kafka import kafka_writer_options, frame_for_kafka

__all__ = [
    "ClickHouseSink",
    "IdempotentForeachBatch",
    "clickhouse_ddl",
    "ParquetSink",
    "write_batch_files",
    "kafka_writer_options",
    "frame_for_kafka",
]
