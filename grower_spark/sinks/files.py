"""File sinks (self-contained mode): Parquet tables laid out like the
reference's ClickHouse destination.

The reference table (migrations/sample_test.sql:17-19) is monthly
partitioned on a derived ``insert_date`` with ORDER BY (status,
insert_date).  Parquet equivalents: a derived month partition column
(partition pruning ≈ ClickHouse partition elimination) and rows sorted
within each file (row-group clustering ≈ ORDER BY locality, which gives
min/max-pruning inside files).  ``write_batch_files`` writes a batch job's
rows; ``ParquetSink`` is the streaming ingest's ``foreachBatch`` sink.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable, Iterator, Optional, Sequence

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from grower_spark.sinks.deadletter import (
    DeadLetterPart,
    split_columns,
    split_valid,
    write_part,
)


def pick_time_col(df: DataFrame) -> Optional[str]:
    """The reference's ``insert_date`` derives from time_local
    (sample_test.sql:13); a custom scheme partitions on its first
    time-typed column, and a scheme with none writes unpartitioned
    (``to_date`` of a non-time column would be an ANSI runtime error)."""
    if "time_local" in df.columns:
        return "time_local"
    for name, dtype in df.dtypes:
        if dtype in ("timestamp", "date"):
            return name
    return None


def with_insert_date(df: DataFrame, time_col: Optional[str] = "time_local") -> DataFrame:
    """insert_date / insert_month derived columns (sample_test.sql:13);
    pass ``time_col=None`` for schemes without a time column (no-op)."""
    if time_col is None:
        return df
    return (
        df.withColumn("insert_date", F.to_date(F.col(time_col)))
        .withColumn("insert_month", F.date_format(F.col(time_col), "yyyyMM"))
    )


def write_batch_files(
    df: DataFrame,
    path: str,
    time_col: Optional[str] = "time_local",
    order_by: Sequence[str] = ("status",),
    fmt: str = "parquet",
) -> None:
    out = with_insert_date(df, time_col)
    order_cols = [c for c in order_by if c in out.columns] + (
        ["insert_date"] if time_col is not None else []
    )
    writer = out.sortWithinPartitions(*order_cols).write if order_cols else out.write
    if time_col is not None:
        writer = writer.partitionBy("insert_month")
    writer.format(fmt).mode("append").save(path)


# the directory name Spark's partitioned writers give a NULL partition value
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


@dataclass(frozen=True)
class ParquetSink:
    """``foreachBatch`` writer of typed rows to the parquet directory
    ``path``, in ``write_batch_files``' layout: ``insert_date`` and
    ``insert_month`` derived from the first time column (``pick_time_col``),
    partitioned by ``insert_month``, and sorted by ``(status,
    insert_date)`` within each file.

    ``foreach_batch`` runs one ``mapInArrow`` pass.  Each task sorts its
    valid rows with pyarrow and writes them as
    ``insert_month=<m>/part-<batch_id>-<partition>.parquet`` (just
    ``part-<batch_id>-<partition>.parquet`` without a time column); with a
    ``deadletter`` part it takes a ``parse_detailed`` result and writes the
    task's invalid lines to that part too.  Files go through
    ``sinks.deadletter.write_part``, so a replayed batch replaces the files
    it wrote before and each row is read once.  Between a crash and its
    replay a reader can see part of the crashed batch, as with ClickHouse
    inserts; no commit log hides it.  Files are named by batch id, so
    ``path`` belongs to one query checkpoint: a new checkpoint starts again
    at batch 0 and would replace earlier parts.  ``path`` is a directory
    on the local file system.
    """

    path: str

    def write_partition(self, batches: Iterator[pa.RecordBatch],
                        batch_id: int) -> None:
        """Write one task's rows, sorted, one file per month."""
        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        table = pa.Table.from_batches(batches)
        order = [c for c in ("status", "insert_date") if c in table.column_names]
        if order:
            # Spark sorts NULLs first in ascending order
            table = table.sort_by([(c, "ascending") for c in order],
                                  null_placement="at_start")
        if "insert_month" not in table.column_names:
            write_part(table, self.path, batch_id)
            return
        months = table.column("insert_month")
        for month in pc.unique(months).to_pylist():
            rows = table.filter(pc.is_null(months) if month is None
                                else pc.equal(months, month))
            write_part(rows.drop_columns(["insert_month"]),
                       os.path.join(self.path, f"insert_month={month or _NULL_PARTITION}"),
                       batch_id)

    def foreach_batch(self) -> Callable[..., None]:
        """The function to hand to ``writeStream.foreachBatch``, with the
        call shape of ``ClickHouseSink.foreach_batch()``:
        ``write(batch_df, batch_id, deadletter=None)``."""
        sink = self

        def write(batch_df: DataFrame, batch_id: int = 0,
                  deadletter: Optional[DeadLetterPart] = None) -> None:
            columns = [c for c in batch_df.columns if c not in ("_valid", "_raw")]
            time_col = pick_time_col(batch_df)
            out = with_insert_date(batch_df, time_col)
            if time_col is not None:
                columns += ["insert_date", "insert_month"]

            def run(batches):
                if deadletter is None:
                    sink.write_partition(batches, batch_id)
                else:
                    split_valid(batches, columns,
                                lambda valid: sink.write_partition(valid, batch_id),
                                deadletter)
                return iter(())

            selected = columns if deadletter is None else split_columns(columns)
            out.select(*selected).mapInArrow(run, "written long").collect()

        return write


def _shard_checksum() -> Column:
    """Order-insensitive shard content checksum: sum of 60-bit row hashes
    accumulated in decimal(38,0) (exact to ~10^38 — ANSI long sum would
    overflow past ~2^2 rows of 2^61 terms), folded mod 2^61-1 at the
    end."""
    m = F.lit((1 << 61) - 1).cast("decimal(38,0)")
    total = F.sum(F.col("_h").cast("decimal(38,0)"))
    return (total % m).cast("long").alias("checksum")


def write_training_shards(df: DataFrame, out_dir: str, n_shards: int,
                          key_col: str = "doc_id", salt: str = "",
                          manifest: bool = True) -> dict:
    """Sharded training-data write: the operational tail of
    ``operators.sampling.shard_shuffle`` — deterministic hash shards,
    each shard written as ONE sorted parquet partition, plus a manifest
    for downstream verification.

    Plan: compute the 60-bit (key, salt) hash once, shard by
    ``hash % n_shards``, ``repartition(n_shards, shard)`` so each shard
    is exactly one task/file set, ``sortWithinPartitions(hash, key)``
    (total order even on hash collisions) — ONE shuffle total; the sort
    is per-partition, no global exchange.  Rewriting with the same
    (keys, salt, n_shards) reproduces byte-identical shard membership
    and order on any input partitioning.

    The manifest records per-shard row counts and an order-insensitive
    content checksum (sum of row hashes mod 2^61-1), recomputed with one
    aggregation on the SAME hash column; ``verify_shards`` replays the
    aggregation over the written files.  The manifest is written to
    ``out_dir/manifest.json`` via local file IO — at cluster scale,
    point ``out_dir`` at a fuse mount or swap in an object-store client.

    Returns the manifest dict.
    """
    import json
    import os

    from grower_spark.functions.hashing import md5_60

    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    h = md5_60(F.concat(F.col(key_col).cast("string"), F.lit(":" + salt)))
    sharded = df.withColumn("_h", h).withColumn(
        "shard", F.pmod(F.col("_h"), F.lit(n_shards)).cast("long")
    )
    (
        sharded.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions(F.col("_h"), F.col(key_col))
        .drop("_h")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(os.path.join(out_dir, "shards"))
    )
    result: dict = {"n_shards": n_shards, "key_col": key_col, "salt": salt}
    if manifest:
        stats = (
            sharded.groupBy("shard")
            .agg(F.count(F.lit(1)).alias("rows"), _shard_checksum())
            .collect()
        )
        result["shards"] = {
            str(r["shard"]): {"rows": r["rows"], "checksum": r["checksum"]}
            for r in stats
        }
        result["total_rows"] = sum(r["rows"] for r in stats)
        with open(os.path.join(out_dir, "manifest.json"), "w") as f:
            json.dump(result, f, indent=2, sort_keys=True)
    return result


def verify_shards(spark, out_dir: str) -> dict:
    """Recompute the shard manifest from the written files and diff it
    against ``manifest.json`` — the integrity check a training job runs
    before consuming shards.  Returns ``{"ok": bool, "mismatches":
    [shard, ...]}``; a missing or extra shard is a mismatch."""
    import json
    import os

    from grower_spark.functions.hashing import md5_60

    with open(os.path.join(out_dir, "manifest.json")) as f:
        want = json.load(f)
    if not want.get("shards"):
        # empty corpus: nothing was written, nothing to replay — the
        # parquet reader cannot even infer a schema from zero files
        return {"ok": True, "mismatches": []}
    df = spark.read.parquet(os.path.join(out_dir, "shards"))
    h = md5_60(
        F.concat(F.col(want["key_col"]).cast("string"), F.lit(":" + want["salt"]))
    )
    got = {
        str(r["shard"]): {"rows": r["rows"], "checksum": r["checksum"]}
        for r in df.withColumn("_h", h)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("rows"), _shard_checksum())
        .collect()
    }
    mism = sorted(
        set(want["shards"]) ^ set(got)
        | {s for s in set(want["shards"]) & set(got) if want["shards"][s] != got[s]}
    )
    return {"ok": not mism, "mismatches": mism}
