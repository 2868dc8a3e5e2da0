"""Dead-letter sink for rows the pipeline drops.

The reference only logs a warning and discards the row
(internal/services/filelog/impl.go:179-181); persisting the raw line with
context is the superset that degrades to drop (SURVEY.md §1.3 item 4).

Every writer here keeps one layout: ``line, source, seen_at``, partitioned
by ``seen_date``, so ``spark.read.parquet(path)`` reads the directory
whichever wrote it.  ``DeadLetterPart`` is the one a ``foreachBatch`` sink
uses to write a batch's dead lines from the same tasks that insert its
valid rows.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass
from typing import Sequence

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame
import pyspark.sql.functions as F


def with_deadletter_meta(bad: DataFrame, source: str = "filelog") -> DataFrame:
    return bad.select(
        F.col("line"),
        F.lit(source).alias("source"),
        F.current_timestamp().alias("seen_at"),
        F.to_date(F.current_timestamp()).alias("seen_date"),
    )


def deadletter_writer(bad: DataFrame, path: str, checkpoint_dir: str,
                      source: str = "filelog"):
    """Streaming writer builder for the dead-letter parquet directory."""
    return (
        with_deadletter_meta(bad, source)
        .writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("seen_date")
        .outputMode("append")
    )


def write_deadletter_batch(bad: DataFrame, path: str, source: str = "filelog") -> None:
    (
        with_deadletter_meta(bad, source)
        .write.partitionBy("seen_date")
        .mode("append")
        .parquet(path)
    )


@dataclass(frozen=True)
class DeadLetterPart:
    """One micro-batch's dead-letter output, written from the tasks that
    process the batch.

    ``write`` stores one task's dead lines as the parquet file
    ``<path>/seen_date=<seen_date>/part-<batch_id>-<partition>.parquet``:
    first under a hidden name, which Spark's reader skips, then renamed
    into place.  A replayed batch therefore replaces its files instead of
    adding copies, as long as it splits into the same partitions.
    ``seen_at_ms`` is the batch's time (``current_timestamp()`` in that
    batch), so a replay writes the same values.  ``path`` is a directory on
    the local file system.
    """

    path: str
    batch_id: int
    seen_at_ms: int
    seen_date: str  # seen_at's date in the session time zone, yyyy-mm-dd
    source: str = "filelog"

    def write(self, lines: Sequence[pa.Array]) -> None:
        """Write the task's dead lines (string arrays); nothing if none."""
        n = sum(len(a) for a in lines)
        if n == 0:
            return
        table = pa.table({
            "line": pa.concat_arrays([a.cast(pa.string()) for a in lines]),
            "source": pa.repeat(self.source, n),
            "seen_at": pa.repeat(
                pa.scalar(self.seen_at_ms * 1000, pa.timestamp("us", tz="UTC")), n),
        })
        directory = os.path.join(self.path, f"seen_date={self.seen_date}")
        os.makedirs(directory, exist_ok=True)
        name = f"part-{self.batch_id}-{TaskContext.get().partitionId()}.parquet"
        tmp = os.path.join(directory, f".{name}.{uuid.uuid4().hex}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(directory, name))
