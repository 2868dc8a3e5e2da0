"""SparkSession construction tuned for this engine.

Local testing runs ``local[N]``; at production scale the same settings hold
(AQE, skew-join handling) with partition counts sized by the cluster.  The
reference's knobs map: ``--parallelism`` (cmd/filelog/main.go:49-54) ->
``shuffle.partitions`` / default parallelism; everything else is per-sink.

Two settings cut the fixed CPU that every streaming micro-batch pays:

- ``spark.python.daemon.module`` starts Python workers from
  ``grower_spark.worker_daemon``.  PySpark's worker calls
  ``importlib.invalidate_caches()`` before every task, and before CPython
  3.12 that re-reads the directory of every zip archive on the worker's
  path (about 0.2 s of CPU per task); the daemon keeps an archive's index
  while the archive is unchanged.  It is a launch-time setting.
- ``spark.sql.streaming.checkpointFileManagerClass`` writes checkpoint
  logs (offsets, commits, source logs) through Spark's
  ``FileSystemBasedCheckpointFileManager``.  The default FileContext-based
  manager, on Hadoop's local file system without the native library,
  starts ``readlink`` and ``chmod`` processes for every log write (rename
  link checks, ``setPermission``).  The on-disk layout is the same
  (``offsets/<n>``, ``commits/<n>``, ``.crc`` files), so existing
  checkpoints resume as they are.  It is a runtime SQL conf, which
  ``tune_session`` sets too.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_spark(app_name: str = "grower-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    # Executor python workers import module-level classes/functions by
    # reference (custom DataSources, mapInPandas kernels), so the package
    # root must be on their PYTHONPATH.  Only effective before the JVM
    # starts; previously this worked only when the driver's cwd was the
    # repo root (workers see cwd via sys.path[0]).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet stores TIMESTAMP(NANOS) which Spark rejects
        # by default; read as long and convert (io_tables.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "grower_spark.worker_daemon")
        .config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    return builder.getOrCreate()


def stream_state_partitions(spark: SparkSession, input_bytes: int) -> int:
    """Scale-adaptive shuffle/state partition count for a stateful
    streaming query over a bounded input (optimization guide §2.2: size
    partitions by data volume, not core count).

    Stateful micro-batches pay a fixed per-partition-per-batch state
    commit (HDFSBackedStateStore snapshot + maintenance, measured
    ~10-20 ms each at sf0.1): with the session default of 32 shuffle
    partitions, ~0.5 s/batch went to committing kilobytes of state.
    Partitions are therefore derived from the stream's input size —
    ``ceil(input_bytes / SPARK_GRAFT_STREAM_PARTITION_MB (default
    1 MiB))`` clamped to ``[2, session shuffle.partitions]``.  The
    1 MiB/partition default is the measured balance point between the
    per-partition commit overhead and task parallelism for the Python
    stateful fold (sf0.1 funnel sweep: 2 parts 19.3 s, 4: 12.5, 8: 8.3,
    16: 8.7, 32: 16.3 — the formula lands at 10); any stream carrying
    more than ~``cap`` MiB per replay — every production stream — runs
    at the session's shuffle parallelism, which is sized by the cluster
    (SPARK_GRAFT_CPUS / cluster conf), so nothing here is tuned to a
    local core count.  The count only affects physical placement of
    state keys, never grouped/windowed results.
    """
    env = os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "")
    if env:
        return max(1, int(env))
    per_mb = float(os.environ.get("SPARK_GRAFT_STREAM_PARTITION_MB", "1"))
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    want = -(-int(input_bytes) // max(int(per_mb * 1024 * 1024), 1))
    return max(2, min(cap, want))


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf on an externally created session
    (the correctness driver owns its own SparkSession).  The worker daemon
    (``spark.python.daemon.module``) is a launch-time setting, which a
    live session cannot take; the checkpoint file manager is set here."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
    return spark
