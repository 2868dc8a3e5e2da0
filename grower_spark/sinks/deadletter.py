"""Dead-letter sink for rows the pipeline drops.

The reference only logs a warning and discards the row
(internal/services/filelog/impl.go:179-181); persisting the raw line with
context is the superset that degrades to drop (SURVEY.md §1.3 item 4).

Every writer here keeps one layout: ``line, source, seen_at``, partitioned
by ``seen_date``, so ``spark.read.parquet(path)`` reads the directory
whichever wrote it.  ``write_deadletter_batch`` writes a batch job's dead
lines.  A ``foreachBatch`` sink splits each partition of a parse result
with ``split_valid`` and writes the partition's dead lines as one
``DeadLetterPart``, from the same task that writes its valid rows.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass
from typing import Callable, Iterator, Sequence

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F


def write_deadletter_batch(bad: DataFrame, path: str, source: str = "filelog") -> None:
    (
        bad.select(
            F.col("line"),
            F.lit(source).alias("source"),
            F.current_timestamp().alias("seen_at"),
            F.to_date(F.current_timestamp()).alias("seen_date"),
        )
        .write.partitionBy("seen_date")
        .mode("append")
        .parquet(path)
    )


def split_columns(columns: Sequence[str]) -> list[Column]:
    """What ``split_valid`` reads, selected from a ``parse_detailed``
    result: ``_valid``, ``_dead`` (the raw line where invalid, else NULL)
    and ``columns``."""
    valid = F.col("_valid")
    return [valid, F.when(~valid, F.col("_raw")).alias("_dead"), *columns]


def split_valid(batches: Iterator[pa.RecordBatch], columns: Sequence[str],
                write_valid: Callable[[Iterator[pa.RecordBatch]], None],
                deadletter: "DeadLetterPart") -> None:
    """Split one partition of ``split_columns(columns)``: ``write_valid``
    receives the valid rows, reduced to ``columns``, and the partition's
    dead lines are then written as one dead-letter part."""
    dead: list[pa.Array] = []

    def valid_rows():
        for batch in batches:
            dead.append(batch.column("_dead").drop_null())
            yield batch.filter(batch.column("_valid")).select(list(columns))

    write_valid(valid_rows())
    deadletter.write(dead)


def write_part(table: pa.Table, directory: str, batch_id: int) -> None:
    """Write ``table`` as ``<directory>/part-<batch_id>-<partition>.parquet``
    from the running task: first under a hidden name, which Spark's reader
    skips, then renamed into place.  A replayed batch therefore replaces
    its files instead of adding copies, as long as it splits into the same
    partitions.  ``directory`` is on the local file system."""
    os.makedirs(directory, exist_ok=True)
    name = f"part-{batch_id}-{TaskContext.get().partitionId()}.parquet"
    tmp = os.path.join(directory, f".{name}.{uuid.uuid4().hex}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(directory, name))


@dataclass(frozen=True)
class DeadLetterPart:
    """One micro-batch's dead-letter output, written from the tasks that
    process the batch.

    ``write`` stores one task's dead lines with ``write_part`` under
    ``<path>/seen_date=<seen_date>/``.  ``seen_at_ms`` is the batch's time
    (``current_timestamp()`` in that batch), so a replay writes the same
    values.
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
        write_part(table, os.path.join(self.path, f"seen_date={self.seen_date}"),
                   self.batch_id)
