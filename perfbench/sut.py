"""The system under test, in its own process: the ingest topology wired
the way ``grower_spark.cli`` wires it (``FileLogRunner`` with its
dead-letter query), writing to the stand-in through ``ClickHouseSink``
over ``NativeClickHouseClient(compression="lz4")``.

``run.py`` starts this process and talks to it in JSON lines: events go
to stdout behind ``@@ ``, commands come on stdin.  It says ``started``
once its stream runs, and stops on ``stop``.

``ingest_backfill``: the file stream on the rotation directory
``--rotation``, which ``run.py`` fills one log file at a time.

``ingest_tail``: the spool receiver, as the ``syslog`` command starts it,
then a warm-up drain of ``--warm-input`` through the ``filebuf`` →
``rfc3164_extract`` → ``FileLogRunner(lines_df=…)`` topology, then the
same topology on the receiver's spool with a 1 s trigger.

``registry``: the registry rows ``REGISTRY_ROWS`` on the documents table
in ``--input``, as ``__spark_entry__.queries()`` runs them: two warm-up
passes, then one pass per ``pass`` command.  No stream and no sink run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import tracing  # noqa: E402
from perfbench.gen import COLUMN_NAMES  # noqa: E402

CONFIG = os.path.join(ROOT, "perfbench", "pipeline.yaml")
TABLE = "bench.access_log"
# a build-dominated row (iterative clustering and a checkpoint run while
# the DataFrame is built) and an exec-dominated control
REGISTRY_ROWS = ("dedup_keep_best", "dedup_minhash_lsh")


def emit(event: str, **fields) -> None:
    print("@@ " + json.dumps({"event": event, **fields}), flush=True)


def make_sink(table: str, port: int, trace_dir: str):
    return tracing.TracedSink(
        table=table,
        columns=COLUMN_NAMES,
        client_factory=tracing.TracedClientFactory("127.0.0.1", port),
        trace_dir=trace_dir,
    )


def count_rows(spark, path: str) -> int:
    if not os.path.isdir(path):
        return 0
    return spark.read.parquet(path).count()


def plans_layer(spark, cfg, lines) -> dict:
    """Materialise each side of ``parse_with_deadletter`` to ``noop``."""
    from grower_spark.plans.pipeline import LogPipeline

    good, bad = LogPipeline(cfg).parse_with_deadletter(lines)
    out = {"plans.lines_in": float(lines.count())}
    for side, df in (("parse", good), ("deadletter", bad)):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        out[f"plans.{side}_s"] = time.perf_counter() - t0
    out["plans.rows_good"] = float(good.count())
    out["plans.rows_dead"] = float(bad.count())
    return out


def run_topology(args, spark, cfg, lines, tag: str, available_now: bool,
                 trigger_s: int):
    """``FileLogRunner`` as the CLI wires it, with the dead-letter query on
    and the sink into the stand-in."""
    from grower_spark.streaming.filelog import FileLogRunner

    table = TABLE if tag == "main" else f"{TABLE}_{tag}"
    return FileLogRunner(
        spark, cfg,
        logs_dir=lines if isinstance(lines, str) else "",
        output_path=os.path.join(args.work, "unused", tag),
        checkpoint_root=os.path.join(args.work, "ckpt", tag),
        scrape_interval_seconds=trigger_s,
        deadletter_path=os.path.join(args.work, "dead", tag),
        foreach_batch=make_sink(table, args.port, args.trace_dir).foreach_batch(),
        available_now=available_now,
        lines_df=None if isinstance(lines, str) else lines,
    ).start()


def end_offset(q) -> str:
    prog = q.lastProgress
    return str(prog["sources"][0]["endOffset"]) if prog else ""


def serve(args, spark, cfg, runner, listener, plans_input, drained,
          receiver=None) -> None:
    """Run until ``stop``; then wait (10 s at most) until ``drained(query)``
    holds for both queries, so the trailing dead-letter query has taken
    all input before it is counted, stop both and report."""
    emit("started", t=time.monotonic())
    for line in sys.stdin:
        if json.loads(line)["cmd"] == "stop":
            break
    if receiver is not None:
        receiver.stop()
    limit = time.monotonic() + 10
    while time.monotonic() < limit and not all(map(drained, runner.queries)):
        time.sleep(0.1)
    runner.stop()
    layers = plans_layer(spark, cfg, plans_input()) if args.trace else {}
    rx = ({"lines": receiver.n_received, "spool_files": receiver.n_flushed_files}
          if receiver is not None else {})
    emit("result", dead=count_rows(spark, os.path.join(args.work, "dead", "main")),
         receiver=rx, events=listener.events if listener else [], layers=layers)


def backfill(args, spark, cfg) -> None:
    """The filelog topology on a rotation directory the harness fills one
    file at a time; a 0 s trigger takes each file as soon as it appears."""
    listener = tracing.progress_log(spark) if args.trace else None
    runner = run_topology(args, spark, cfg, args.rotation, "main", False, 0)
    main_q = runner.queries[0]
    # run.py stops only after every rotated file landed, so the main
    # query's offset is the end
    serve(args, spark, cfg, runner, listener,
          lambda: spark.read.text(args.input),
          lambda q: end_offset(q) == end_offset(main_q))


def tail(args, spark, cfg) -> None:
    from grower_spark.sources.filebuf import FileBufDataSource
    from grower_spark.sources.receiver import SpoolReceiver
    from grower_spark.sources.syslog import rfc3164_extract

    receiver = SpoolReceiver(os.path.join(args.work, "spool"), tcp_port=0,
                             framing="lines", flush_max_lines=1000).start()
    emit("listening", port=receiver.tcp_port)
    spark.dataSource.register(FileBufDataSource)
    if args.trace:
        spark.dataSource.register(tracing.TracedFileBuf)

    def lines(directory: str):
        if args.trace:
            reader = spark.readStream.format("filebuf_traced").option(
                "trace_dir", args.trace_dir)
        else:
            reader = spark.readStream.format("filebuf")
        return rfc3164_extract(reader.load(directory)).select("value")

    run_topology(args, spark, cfg, lines(args.warm_input), "warm", True,
                 1).await_termination()
    listener = tracing.progress_log(spark) if args.trace else None
    runner = run_topology(args, spark, cfg, lines(receiver.spool_dir), "main",
                          False, 1)
    def drained(q) -> bool:
        end = end_offset(q)
        return all(f in end for f in os.listdir(receiver.spool_dir)
                   if f.endswith(".fbuf"))

    # the plans layer reads the sent lines as one text file: the same
    # input, without a batch filebuf read's partition per spool file
    serve(args, spark, cfg, runner, listener,
          lambda: rfc3164_extract(spark.read.text(args.input)).select("value"),
          drained, receiver)


def registry_pass(spark, sf_dir: str, traced: bool) -> dict:
    """Every registry row once: per row its result hash, row count and
    phase numbers, or the error it raised."""
    from grower_spark.driver_queries import QUERIES

    from perfbench.check import table_hash

    out = {"t0": time.monotonic()}
    for name in REGISTRY_ROWS:
        try:
            df, rows, phases = tracing.registry_call(spark, QUERIES[name],
                                                     sf_dir, traced)
            out[name] = {"hash": table_hash(df.columns, rows), "n": len(rows),
                         **phases}
        except Exception as exc:  # counted as a failed call
            out[name] = {"error": repr(exc)}
    out["t1"] = time.monotonic()
    return out


def registry(args, spark, cfg) -> None:
    from grower_spark.session import tune_session

    tune_session(spark)
    # two passes: after one, the next passes still ran up to 40% slower
    # while the JIT compiled the rows' hot paths
    warm = [registry_pass(spark, args.input, False) for _ in range(2)]
    emit("started", t=time.monotonic(), warm=warm)
    for line in sys.stdin:
        cmd = json.loads(line)
        if cmd["cmd"] == "stop":
            break
        emit("pass", **registry_pass(spark, args.input, cmd.get("trace", False)))
    emit("result")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--trace-dir", default="")
    ap.add_argument("--input", required=True)
    ap.add_argument("--rotation", default="")
    ap.add_argument("--warm-input", default="")
    args = ap.parse_args()

    from grower_spark.config import PipelineConfig
    from grower_spark.session import get_spark

    t0 = time.monotonic()
    spark = get_spark("perfbench", cpus=4)
    spark.sparkContext.setLogLevel("ERROR")
    emit("session", session_s=time.monotonic() - t0)
    cfg = PipelineConfig.from_yaml(CONFIG)
    {"ingest_backfill": backfill, "ingest_tail": tail,
     "registry": registry}[args.workload](
        args, spark, cfg)
    return 0


if __name__ == "__main__":
    sys.exit(main())
