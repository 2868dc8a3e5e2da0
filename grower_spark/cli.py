"""CLI mirroring the reference's flag surface (cmd/filelog/main.go:23-150).

Subcommands map to the reference's binaries:

- ``filelog``  — cmd/filelog: watch a rotation directory, land typed rows
- ``batch``    — one-shot parse of a file/directory (the scan inside S1)
- ``rotate``   — driver-side rotation + retention helper (S2/S4)
- ``ddl``      — print the ClickHouse CREATE TABLE for a config (K1)
- ``kafkalog`` — cmd/kafkalog: consume a topic, parse, land typed rows
  (``--wire-spool`` uses the dependency-free wire consumer + spool bridge;
  without it, Spark's Kafka connector is required on the classpath)
- ``syslog``   — cmd/syslog: RFC3164 listeners (tcp/udp/unixgram) ->
  envelope strip -> parse -> typed rows, one process
- ``layout``   — superset: rewrite a parquet table z-ordered on given
  columns (operators/zorder.py — multi-dimensional row-group skipping)

Flag names keep the reference's spelling (buffer-size, scrape-interval,
parallelism, ...) so operators can carry their runbooks over.
"""

from __future__ import annotations

import argparse
import sys


def _parse_broker(entry: str) -> tuple[str, int]:
    """Validate one ``host:port`` broker entry with a usable error message
    (a bare ``rpartition(':')`` on a port-less entry yields host='' and an
    opaque int() crash)."""
    host, sep, port = entry.strip().rpartition(":")
    if not sep or not host or not port.isdigit():
        raise SystemExit(
            f"kafkalog: invalid --brokers entry {entry!r} (expected host:port)"
        )
    return host, int(port)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="grower-spark")
    sub = p.add_subparsers(dest="command", required=True)

    def common(sp):
        sp.add_argument("--config", required=True, help="pipeline YAML (reference schema)")
        sp.add_argument("--parallelism", type=int, default=0,
                        help="cores (reference: NumCPU default)")

    fl = sub.add_parser("filelog", help="stream a log rotation directory")
    common(fl)
    fl.add_argument("--logs-dir", required=True)
    fl.add_argument("--output", required=True, help="parquet output path")
    fl.add_argument("--checkpoint", required=True)
    fl.add_argument("--scrape-interval", type=int, default=60)
    fl.add_argument("--buffer-size", type=int, default=5000,
                    help="rows per micro-batch admission (reference default 5000)")
    fl.add_argument("--dead-letter", default=None)
    fl.add_argument("--live-addr-port", type=int, default=0,
                    help="liveness HTTP port (0 = off)")
    fl.add_argument("--available-now", action="store_true",
                    help="drain existing files and exit (backfill mode)")

    kl = sub.add_parser("kafkalog", help="consume a Kafka topic, parse, land typed rows")
    common(kl)
    kl.add_argument("--brokers", required=True, help="host:port[,host:port...]")
    kl.add_argument("--topic", required=True)
    kl.add_argument("--partition", type=int, default=0)
    kl.add_argument("--output", required=True)
    kl.add_argument("--dead-letter", default=None)
    kl.add_argument("--wire-spool", default=None, metavar="DIR",
                    help="use the dependency-free wire consumer: drain the "
                         "partition into this spool dir, then parse (one-shot; "
                         "prints the resume offset).  Without this flag the "
                         "spark-sql-kafka connector must be on the classpath.")
    kl.add_argument("--start-offset", default=None,
                    help="resume point for --wire-spool: an offset, "
                         "'earliest' or 'latest' (resolved via ListOffsets, "
                         "kafka-go FirstOffset/LastOffset semantics).  An "
                         "explicit value wins over --offsets-file; unset "
                         "means checkpoint-then-0")
    kl.add_argument("--offsets-file", default=None, metavar="PATH",
                    help="wire-spool mode: durable per-partition resume "
                         "offsets (JSON, written atomically after the "
                         "drain) — the local stand-in for consumer-group "
                         "offset commit.  Loaded offsets are overridden by "
                         "explicit --start-offsets entries.")
    kl.add_argument("--partitions", default=None,
                    help="wire-spool mode: comma-separated partition list "
                         "drained in parallel (reference AsyncFactor, "
                         "server.go:109-122); overrides --partition")
    kl.add_argument("--start-offsets", default=None,
                    help="wire-spool + --partitions: per-partition resume "
                         "points as p=off[,p=off...] (from the last run's "
                         "printed offsets)")
    kl.add_argument("--async-factor", type=int, default=None,
                    help="wire-spool + --partitions: max concurrent readers "
                         "(default: one per partition)")
    kl.add_argument("--follow", action="store_true",
                    help="wire-spool mode: run continuously (the reference "
                         "kafkalog server is an always-on process) — poll "
                         "the broker on --poll-interval into the spool and "
                         "stream-parse it, until SIGINT/SIGTERM")
    kl.add_argument("--poll-interval", type=float, default=1.0,
                    help="--follow: seconds between broker polls")
    kl.add_argument("--scrape-interval", type=int, default=5,
                    help="streaming trigger seconds (--follow and the "
                         "connector path)")
    kl.add_argument("--live-addr-port", type=int, default=0,
                    help="--follow: liveness HTTP port + /metrics (superset: "
                         "the reference kafkalog server has no liveness "
                         "endpoint; 0 = off)")
    kl.add_argument("--checkpoint", default=None,
                    help="connector mode: streaming checkpoint dir")

    sl = sub.add_parser(
        "syslog",
        help="RFC3164 syslog daemon: listen, strip envelope, parse, land rows",
    )
    common(sl)
    sl.add_argument("--spool-dir", required=True,
                    help="receiver spool the streaming source reads")
    sl.add_argument("--tcp-port", type=int, default=None,
                    help="RFC6587-style TCP listener (newline framing)")
    sl.add_argument("--udp-port", type=int, default=None)
    sl.add_argument("--datagram-path", default=None,
                    help="unix datagram socket (the reference's unixgram mode)")
    sl.add_argument("--output", required=True)
    sl.add_argument("--checkpoint", required=True)
    sl.add_argument("--dead-letter", default=None)
    sl.add_argument("--scrape-interval", type=int, default=60)
    sl.add_argument("--buffer-size", type=int, default=1000)
    sl.add_argument("--no-envelope", action="store_true",
                    help="messages are raw log lines (skip RFC3164 strip)")
    sl.add_argument("--available-now", action="store_true",
                    help="drain the existing spool and exit (no listeners)")
    sl.add_argument("--live-addr-port", type=int, default=0,
                    help="liveness HTTP port (reference GET /live, "
                         "cmd/syslog/main.go:199; 0 = off) + /metrics")

    b = sub.add_parser("batch", help="one-shot parse of a log file/directory")
    common(b)
    b.add_argument("--input", required=True)
    b.add_argument("--output", required=True)
    b.add_argument("--dead-letter", default=None)

    r = sub.add_parser("rotate", help="rotate the live log + retention sweep")
    r.add_argument("--log-file", required=True)
    r.add_argument("--backup-files", type=int, default=5)
    r.add_argument("--backup-file-max-age", type=int, default=None,
                   help="seconds; older backups deleted")
    r.add_argument("--nginx-reopen", action="store_true")
    r.add_argument("--compress", action="store_true",
                   help="gzip the rotated backup (reference TODO)")

    d = sub.add_parser("ddl", help="print ClickHouse DDL for a config")
    d.add_argument("--config", required=True)
    d.add_argument("--apply-url", default=None, metavar="URL",
                   help="also execute the DDL against a ClickHouse "
                        "endpoint: http://host:8123 (HTTP interface) or "
                        "native://host:9000 (native TCP protocol, "
                        "sinks/chnative.py)")
    d.add_argument("--database", default="default")
    d.add_argument("--user", default=None)
    d.add_argument("--password", default=None)

    pub = sub.add_parser(
        "publish",
        help="publish a log file/directory to a Kafka topic, one message "
             "per line (the reference kafkalog CLIENT, cmd/kafkalog/client)",
    )
    pub.add_argument("--input", default=None,
                     help="log file or directory (one-shot mode)")
    pub.add_argument("--logs-dir", default=None,
                     help="rotation directory to STREAM (the reference "
                          "client's rotate->scan->produce loop); pair with "
                          "--checkpoint; --available-now drains and exits")
    pub.add_argument("--brokers", required=True, help="host:port[,host:port...]")
    pub.add_argument("--topic", required=True)
    pub.add_argument("--partitions", default="0",
                    help="comma-separated topic-partitions, assigned "
                         "round-robin across Spark tasks")
    pub.add_argument("--batch-size", type=int, default=500,
                    help="messages per Produce request (reference "
                         "buffer-size)")
    pub.add_argument("--parallelism", type=int, default=0,
                    help="Spark input partitions (0 = source-sized)")
    pub.add_argument("--checkpoint", default=None,
                     help="--logs-dir mode: streaming checkpoint (the "
                          "at-least-once resume point)")
    pub.add_argument("--scrape-interval", type=int, default=5,
                     help="--logs-dir mode: trigger seconds (reference "
                          "scrape ticker)")
    pub.add_argument("--available-now", action="store_true",
                     help="--logs-dir mode: drain existing files and exit")
    pub.add_argument("--async", dest="kafka_async", action="store_true",
                     help="acks=0 fire-and-forget (reference kafka-async; "
                          "at-most-once)")
    pub.add_argument("--balancer", default="round_robin",
                     choices=["round_robin", "crc32", "least_bytes"],
                     help="partition balancer (reference opt.go:47-61; "
                          "its default is least_bytes)")
    pub.add_argument("--create-topic", action="store_true",
                     help="create the topic if absent via CreateTopics v0 "
                          "(idempotent; the reference flag kafka-create-topic "
                          "is an unimplemented todo there, client.go:86-88)")
    pub.add_argument("--replication-factor", type=int, default=1,
                     help="--create-topic: replication factor")

    rx = sub.add_parser(
        "receiver",
        help="socket-to-spool daemon (the filegrpc/syslog transport edge)",
    )
    rx.add_argument("--spool-dir", required=True,
                    help="directory the filebuf source reads")
    rx.add_argument("--tcp-port", type=int, default=None,
                    help="TCP listener port (0 = ephemeral)")
    rx.add_argument("--tcp-host", default="127.0.0.1")
    rx.add_argument("--unix-path", default=None, help="unix stream socket path")
    rx.add_argument("--udp-port", type=int, default=None,
                    help="UDP datagram listener (syslog udp mode)")
    rx.add_argument("--datagram-path", default=None,
                    help="unix datagram socket (syslog unixgram mode)")
    rx.add_argument("--framing", choices=["frames", "grpc", "lines"],
                    default="frames",
                    help="stream framing: length-prefixed, gRPC message "
                         "frames (proto3 Request), or newline-delimited")
    rx.add_argument("--buffer-size", type=int, default=1000,
                    help="lines per spool file (reference buffer-size)")
    rx.add_argument("--flush-interval", type=float, default=0.25)

    fg = sub.add_parser(
        "filegrpc",
        help="gRPC FileBufferService.CreateDataStreamer endpoint over "
             "real h2c HTTP/2 (sources/grpch2.py, no grpc package), "
             "spooling to .fbuf files the filebuf source reads — the "
             "reference's filegrpc server (cmd/filegrpc)",
    )
    fg.add_argument("--spool-dir", required=True,
                    help="directory the filebuf source reads")
    fg.add_argument("--host", default="127.0.0.1")
    fg.add_argument("--port", type=int, default=0,
                    help="listener port (0 = ephemeral, printed on start)")
    fg.add_argument("--buffer-size", type=int, default=1000,
                    help="lines per spool file (reference buffer-size)")
    fg.add_argument("--flush-interval", type=float, default=0.25)

    ly = sub.add_parser(
        "layout",
        help="rewrite a parquet table z-ordered on the given columns "
             "(multi-dimensional row-group skipping)",
    )
    ly.add_argument("--input", required=True, help="input parquet path")
    ly.add_argument("--output", required=True, help="output parquet path")
    ly.add_argument("--cols", required=True,
                    help="comma-separated numeric/timestamp layout columns")
    ly.add_argument("--bits", type=int, default=8,
                    help="rank bits per dimension (2^bits equi-depth cells)")
    ly.add_argument("--num-files", type=int, default=32)

    cp = sub.add_parser(
        "compact",
        help="rewrite a parquet directory to ~target-MB files (footer-"
             "measured, row-count-verified); the small-file sweep",
    )
    cp.add_argument("--input", required=True)
    cp.add_argument("--output", required=True)
    cp.add_argument("--target-mb", type=int, default=256)

    ai = sub.add_parser(
        "ann-index",
        help="persisted ANN index lifecycle: build / append / delete / "
             "compact / rebuild / status over an embeddings parquet "
             "(compact folds tombstones under the stored fit — no "
             "embeddings input needed; status's `action` field says "
             "which repair the triggers have earned)",
    )
    ai.add_argument("action",
                    choices=["build", "append", "delete", "compact",
                             "rebuild", "status"])
    ai.add_argument("--index", required=True, help="index directory")
    ai.add_argument("--input", default=None,
                    help="embeddings parquet (build/append/rebuild: the "
                         "corpus or batch; delete: a parquet whose first "
                         "column is the ids unless --ids is given)")
    ai.add_argument("--ids", default=None,
                    help="delete: comma-separated vec_ids instead of "
                         "--input")
    ai.add_argument("--id-col", default="vec_id")
    ai.add_argument("--vec-col", default="embedding")
    ai.add_argument("--n-cells", type=int, default=16)
    ai.add_argument("--levels", type=int, default=254)
    ai.add_argument("--files-per-cell", type=int, default=1,
                    help="per-cell output file bound; size ≈ per-cell "
                         "bytes / 128 MiB at cluster scale")
    ai.add_argument("--train-cells", action="store_true",
                    help="build/rebuild: train the coarse quantizer "
                         "(spherical k-means on a bounded sample) instead "
                         "of the deterministic grid")
    ai.add_argument("--clamp-rate-threshold", type=float, default=0.01,
                    help="status: clamp-rate rebuild trigger")
    ai.add_argument("--deleted-frac-threshold", type=float, default=0.2,
                    help="status: deleted-fraction rebuild trigger")

    rp = sub.add_parser(
        "report",
        help="corpus governance report: language confusion, per-source "
             "quality outliers, and (optionally) score drift vs an older "
             "snapshot and per-benchmark-item leakage — one JSON",
    )
    rp.add_argument("--input", required=True, help="documents parquet path")
    rp.add_argument("--old", default=None,
                    help="older snapshot parquet for score-drift bins")
    rp.add_argument("--benchmark", default=None,
                    help="benchmark parquet for the leakage report")
    rp.add_argument("--decontam-n", type=int, default=8)
    rp.add_argument("--out", default=None,
                    help="write the JSON here as well as stdout")

    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    if args.command == "compact":
        import json

        from grower_spark.operators.compact import compact_parquet
        from grower_spark.session import get_spark

        spark = get_spark("grower-spark-compact")
        audit = compact_parquet(
            spark, args.input, args.output, target_mb=args.target_mb
        )
        print(json.dumps(audit))
        return 0

    if args.command == "ann-index":
        import json

        from grower_spark.operators import ann_index as ai_ops
        from grower_spark.session import get_spark

        # status is pure metadata reading — no Spark session needed
        if args.action == "status":
            from grower_spark.operators.index_meta import get_index_meta

            params = get_index_meta().read_params(args.index)
            sig = ai_ops.should_rebuild(
                params,
                clamp_rate_threshold=args.clamp_rate_threshold,
                deleted_frac_threshold=args.deleted_frac_threshold,
            )
            print(json.dumps({
                "n_rows": params["n_rows"], "dim": params["dim"],
                "n_cells": params["n_cells"], "levels": params["levels"],
                "rebuilds": params.get("rebuilds", 0),
                "appends": len(params.get("appends", []))
                + params.get("appends_total", {}).get("batches", 0),
                "deletes": params.get("deletes", {"batches": 0, "rows": 0}),
                **sig,
            }))
            return 0

        spark = get_spark("grower-spark-ann-index")
        if args.action == "compact":
            # the float-free repair: needs ONLY the index (no --input) —
            # the tombstone fold + layout re-compaction under the
            # stored fit that status's action=="compact" points at
            params = ai_ops.compact_ann_index(
                spark, args.index, files_per_cell=args.files_per_cell,
            )
            print(json.dumps({
                "n_rows": params["n_rows"],
                "compactions": params.get("compactions", 0),
            }))
            return 0
        if args.action == "delete":
            if args.ids is not None:
                ids = [int(x) for x in args.ids.split(",") if x.strip()]
            elif args.input is not None:
                ids = spark.read.parquet(args.input)
            else:
                raise SystemExit("ann-index delete needs --ids or --input")
            print(json.dumps(
                ai_ops.delete_from_ann_index(spark, args.index, ids)))
            return 0

        if args.input is None:
            raise SystemExit(f"ann-index {args.action} needs --input")
        emb = spark.read.parquet(args.input)
        if args.action == "append":
            print(json.dumps(ai_ops.append_ann_index(
                emb, args.index, id_col=args.id_col, vec_col=args.vec_col,
                files_per_cell=args.files_per_cell,
            )))
            return 0
        if args.action == "build":
            centroids = None
            if args.train_cells:
                from grower_spark.operators.similarity import (
                    ivf_kmeans_centroids,
                )

                row = emb.where(
                    emb[args.vec_col].isNotNull()
                ).select(args.vec_col).first()
                if row is None:
                    raise SystemExit(
                        "ann-index build --train-cells: no non-null "
                        f"vectors in {args.input} to train on"
                    )
                centroids = ivf_kmeans_centroids(
                    emb, n_cells=args.n_cells, dim=len(row[0]),
                    vec_col=args.vec_col,
                )
            params = ai_ops.build_ann_index(
                emb, args.index, n_cells=args.n_cells, levels=args.levels,
                id_col=args.id_col, vec_col=args.vec_col,
                centroids=centroids, files_per_cell=args.files_per_cell,
            )
        else:  # rebuild: keeps the STORED n_cells/levels/centroids;
            # --train-cells re-trains with the stored cell count on the
            # surviving (post-tombstone) corpus inside the operator
            params = ai_ops.rebuild_ann_index(
                emb, args.index, id_col=args.id_col, vec_col=args.vec_col,
                files_per_cell=args.files_per_cell,
                train_cells=args.train_cells,
            )
        print(json.dumps({k: params[k] for k in
                          ("n_rows", "dim", "n_cells", "levels")
                          } | {"rebuilds": params.get("rebuilds", 0)}))
        return 0

    if args.command == "report":
        import json

        import pyspark.sql.functions as F

        from pyspark.sql import SparkSession

        from grower_spark.operators.robust import robust_stats
        from grower_spark.operators.text import language_id
        from grower_spark.session import get_spark

        # only stop a session THIS handler created: under pytest (or any
        # host process) get_spark getOrCreate returns the caller's live
        # session, and stopping it kills every later test in the process
        owns_session = SparkSession.getActiveSession() is None
        spark = get_spark("corpus-report")
        docs = spark.read.parquet(args.input)
        # every panel below is model-sized by construction (langs^2,
        # sources, bins, benchmark items) — the collects are bounded
        report: dict = {"input": args.input}
        confusion = (
            language_id(docs)
            .groupBy("lang", "lang_guess")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        report["lang_confusion"] = [
            {"lang": r["lang"], "guess": r["lang_guess"], "n": r["n"]}
            for r in confusion
        ]
        base = docs.where(F.col("text").isNotNull())
        n_alpha = F.length(F.regexp_replace(F.col("text"), r"[^A-Za-z]", ""))
        score = F.round(
            F.lit(1000.0) * n_alpha / F.greatest(F.length("text"), F.lit(1))
        ).cast("long")
        scored = base.select(
            "source", score.alias("q")
        ).localCheckpoint(eager=True)
        report["source_quality"] = [
            r.asDict() for r in robust_stats(scored, "q", "source").collect()
        ]
        # r10 panels: per-source exact-duplicate share (which feed is
        # rotten) and the Gopher-rule pass rate per source (which feed
        # ships low-quality pages) — both source-cardinality rollups
        from grower_spark.functions.hashing import md5_60
        from grower_spark.operators.text import gopher_rules

        from pyspark.sql import Window

        keyed = base.select("doc_id", "source", md5_60(F.col("text")).alias("h"))
        # window count over the content hash, not a broadcast-back of
        # the duplicate-group table: that table scales with the corpus
        # on duplicate-dense feeds (same fix as prefix_dedup)
        report["source_dedup"] = [
            r.asDict()
            for r in keyed.withColumn(
                "_is_dup",
                F.when(
                    F.count(F.lit(1)).over(Window.partitionBy("h")) >= 2, 1
                ).otherwise(0),
            )
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("_is_dup").alias("n_exact_dup_docs"),
            )
            .collect()
        ]
        report["source_gopher"] = [
            r.asDict()
            for r in gopher_rules(base)
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("gopher_pass").alias("n_pass"),
            )
            .collect()
        ]
        if args.old:
            from grower_spark.operators.diff import distribution_drift_bins

            old = spark.read.parquet(args.old).where(
                F.col("text").isNotNull()
            ).select(score.alias("score"))
            new = base.select(score.alias("score"))
            report["score_drift"] = [
                r.asDict()
                for r in distribution_drift_bins(old, new).collect()
            ]
        if args.benchmark:
            from grower_spark.operators.decontam import benchmark_leakage

            bench = spark.read.parquet(args.benchmark)
            report["benchmark_leakage"] = [
                r.asDict()
                for r in benchmark_leakage(
                    docs, bench, n=args.decontam_n
                ).collect()
            ]
        line = json.dumps(report)
        print(line)
        if args.out:
            with open(args.out, "w") as f:
                f.write(line + "\n")
        if owns_session:
            spark.stop()
        return 0

    if args.command == "rotate":
        import os

        from grower_spark.sources.rotate import Rotator, clear_backup_files, nginx_reopen

        rot = Rotator(
            args.log_file,
            reopen=nginx_reopen if args.nginx_reopen else lambda: None,
            compress=args.compress,
        )
        backup = rot.rotate()
        print(f"rotated: {backup}" if backup else "nothing to rotate")
        deleted = clear_backup_files(
            args.log_file,
            os.path.dirname(os.path.abspath(args.log_file)),
            max_backups=args.backup_files,
            max_age_seconds=args.backup_file_max_age,
        )
        for path in deleted:
            print(f"deleted: {path}")
        return 0

    if args.command == "publish":
        from grower_spark.session import get_spark
        from grower_spark.sinks.kafka import publish_lines_wire

        if bool(args.input) == bool(args.logs_dir):
            print("publish: exactly one of --input (one-shot) or "
                  "--logs-dir (streaming) is required", file=sys.stderr)
            return 2
        host, port = _parse_broker(args.brokers.split(",")[0])
        parts = [int(p) for p in args.partitions.split(",")]
        if args.create_topic:
            from grower_spark.sinks.kafkawire import create_topic

            created = create_topic(
                host, port, args.topic,
                num_partitions=max(parts) + 1,
                replication_factor=args.replication_factor,
            )
            print(f"topic {args.topic}: "
                  f"{'created' if created else 'already exists'}")
        spark = get_spark("grower-spark-publish")
        if args.logs_dir:
            # the reference client's full loop: rotation dir stream ->
            # wire producer, one micro-batch per scrape tick; the
            # checkpoint makes redelivery at-least-once across restarts
            if not args.checkpoint:
                print("publish: --logs-dir requires --checkpoint",
                      file=sys.stderr)
                return 2
            from grower_spark.sources.file import stream_lines
            from grower_spark.streaming.filelog import FileLogRunner

            lines = stream_lines(spark, args.logs_dir)

            def ship(batch_df, _batch_id):
                publish_lines_wire(
                    batch_df, host, port, args.topic,
                    partitions=parts, batch_size=args.batch_size,
                    acks=0 if args.kafka_async else -1,
                    balancer=args.balancer,
                )

            writer = (
                lines.writeStream.foreachBatch(ship)
                .option("checkpointLocation", args.checkpoint)
            )
            if args.available_now:
                writer = writer.trigger(availableNow=True)
            else:
                writer = writer.trigger(
                    processingTime=f"{args.scrape_interval} seconds"
                )
            runner = FileLogRunner.for_queries([writer.start()])
            if not args.available_now:
                runner.install_signal_handlers()
            runner.await_termination()
            print(f"published stream from {args.logs_dir} to {args.topic}")
            return 0
        lines = spark.read.text(args.input)
        if args.parallelism:
            lines = lines.repartition(args.parallelism)
        n = publish_lines_wire(
            lines, host, port, args.topic,
            partitions=parts, batch_size=args.batch_size,
            acks=0 if args.kafka_async else -1,
            balancer=args.balancer,
        )
        print(f"published {n} lines to {args.topic}")
        return 0

    if args.command == "filegrpc":
        import signal
        import threading

        from grower_spark.sources.grpch2 import GrpcSpoolServer

        srv = GrpcSpoolServer(
            args.spool_dir,
            host=args.host,
            port=args.port,
            flush_max_lines=args.buffer_size,
            flush_interval=args.flush_interval,
        ).start()
        print(f"grpc-h2c: {args.host}:{srv.port}", flush=True)
        done = threading.Event()
        for sig in (signal.SIGINT, signal.SIGTERM):
            signal.signal(sig, lambda *_: done.set())
        done.wait()
        srv.stop()
        print(f"received={srv.n_received} streams={srv.n_streams} "
              f"spool_files={srv.n_flushed_files}")
        return 0

    if args.command == "receiver":
        import signal
        import threading

        from grower_spark.sources.receiver import SpoolReceiver

        rx = SpoolReceiver(
            args.spool_dir,
            tcp_host=args.tcp_host,
            tcp_port=args.tcp_port,
            unix_path=args.unix_path,
            udp_port=args.udp_port,
            datagram_path=args.datagram_path,
            framing=args.framing,
            flush_max_lines=args.buffer_size,
            flush_interval=args.flush_interval,
        ).start()
        if rx.tcp_port is not None:
            print(f"tcp: {args.tcp_host}:{rx.tcp_port}", flush=True)
        if rx.udp_port is not None:
            print(f"udp: {args.tcp_host}:{rx.udp_port}", flush=True)
        done = threading.Event()
        for sig in (signal.SIGINT, signal.SIGTERM):
            signal.signal(sig, lambda *_: done.set())
        done.wait()
        rx.stop()
        print(f"received={rx.n_received} spool_files={rx.n_flushed_files}")
        return 0

    if args.command == "layout":
        from grower_spark.operators.zorder import write_zordered
        from grower_spark.session import get_spark

        spark = get_spark("grower-spark-layout")
        df = spark.read.parquet(args.input)
        cols = [c for c in args.cols.split(",") if c]
        write_zordered(
            df, args.output, cols, bits=args.bits, num_files=args.num_files
        )
        n = spark.read.parquet(args.output).count()
        print(f"z-ordered {n} rows on ({', '.join(cols)}) -> {args.output}")
        return 0

    from grower_spark.config import ConfigError, PipelineConfig

    try:
        cfg = PipelineConfig.from_yaml(args.config)
    except (ConfigError, FileNotFoundError) as exc:
        print(f"config error: {exc}", file=sys.stderr)
        return 2

    if args.command == "ddl":
        from grower_spark.plans.pipeline import LogPipeline
        from grower_spark.sinks.clickhouse import clickhouse_ddl

        pipeline = LogPipeline(cfg)
        columns = [
            (name, pipeline.casts[name].type_name)
            for name in cfg.scheme.columns
        ]
        ddl = clickhouse_ddl(cfg.scheme.logs_table, columns)
        print(ddl)
        if args.apply_url:
            if args.apply_url.startswith("native://"):
                from grower_spark.sinks.chnative import NativeClickHouseClient

                hostport = args.apply_url[len("native://"):]
                # native://host:9000?compress=lz4 enables checksummed
                # LZ4 frames (sinks/chnative.py compression layer)
                hostport, _, qs = hostport.partition("?")
                compression: "str | bool" = False
                for kv in qs.split("&"):
                    k, _, v = kv.partition("=")
                    if k == "compress" and v:
                        compression = v
                host, _, port = hostport.partition(":")
                client = NativeClickHouseClient(
                    host, int(port or 9000), database=args.database,
                    user=args.user or "default",
                    password=args.password or "",
                    compression=compression,
                )
            else:
                from grower_spark.sinks.clickhouse import HttpClickHouseClient

                client = HttpClickHouseClient(
                    args.apply_url, database=args.database,
                    user=args.user, password=args.password,
                )
            client.command(ddl)
            print(f"-- applied to {args.apply_url}", file=sys.stderr)
        return 0

    from grower_spark.session import get_spark

    spark = get_spark("grower-spark-cli", cpus=args.parallelism or None)

    if args.command == "batch":
        from grower_spark.plans.pipeline import LogPipeline
        from grower_spark.sinks.deadletter import write_deadletter_batch
        from grower_spark.sinks.files import pick_time_col, write_batch_files
        from grower_spark.sources.file import batch_lines

        pipeline = LogPipeline(cfg)
        good, bad = pipeline.parse_with_deadletter(batch_lines(spark, args.input))
        write_batch_files(good, args.output, time_col=pick_time_col(good))
        if args.dead_letter:
            write_deadletter_batch(bad, args.dead_letter)
        print(f"wrote {args.output}")
        return 0

    if args.command == "kafkalog":
        if not args.wire_spool:
            # fail fast: these flags only exist on the wire-spool path —
            # silently falling through to the connector topology would run
            # something entirely different from what was asked
            wire_only = {
                "--follow": args.follow,
                "--offsets-file": args.offsets_file,
                "--partitions": args.partitions,
                "--start-offsets": args.start_offsets,
                "--async-factor": args.async_factor,
                "--start-offset": args.start_offset,
            }
            used = [flag for flag, v in wire_only.items() if v]
            if used:
                print(f"kafkalog: {', '.join(used)} require(s) --wire-spool "
                      "(the connector path manages partitions and offsets "
                      "itself)", file=sys.stderr)
                return 2
        if args.wire_spool:
            # dependency-free path: wire consumer -> spool -> filebuf scan
            from grower_spark.sinks.kafkawire import (
                KafkaWireConsumer,
                kafka_to_spool,
            )
            from grower_spark.sources.filebuf import FileBufDataSource

            host, port = _parse_broker(args.brokers.split(",")[0])
            # --start-offset: None = not given (checkpoint, then 0);
            # an explicit value always wins over the checkpoint
            explicit_start = args.start_offset is not None
            raw_start = args.start_offset if explicit_start else "0"
            default_start = (
                raw_start if raw_start in ("earliest", "latest")
                else int(raw_start)
            )
            starts = {}
            for kv in (args.start_offsets or "").split(","):
                if kv:
                    p, _, off = kv.partition("=")
                    starts[int(p)] = int(off)
            ckpt = None
            if args.offsets_file:
                from grower_spark.sinks.kafkawire import OffsetCheckpoint

                ckpt = OffsetCheckpoint(args.offsets_file)
            if args.follow:
                # always-on mode: poller daemon feeds the spool, streaming
                # parse drains it (reference kafkalog server topology)
                from grower_spark.sinks.kafkawire import KafkaSpoolPoller
                from grower_spark.streaming.filelog import (
                    FileLogRunner,
                    StreamMetrics,
                    start_liveness_server,
                )

                if args.live_addr_port:
                    metrics = StreamMetrics()
                    spark.streams.addListener(metrics.listener())
                    start_liveness_server(args.live_addr_port, metrics)
                parts = [int(p) for p in args.partitions.split(",")] \
                    if args.partitions else [args.partition]
                poller = KafkaSpoolPoller(
                    host, port, args.topic, parts, args.wire_spool,
                    checkpoint=ckpt, poll_interval=args.poll_interval,
                    async_factor=args.async_factor,
                    default_start=default_start,
                    start_offsets=starts,
                ).start()
                spark.dataSource.register(FileBufDataSource)
                lines = spark.readStream.format("filebuf").load(args.wire_spool)
                runner = FileLogRunner(
                    spark,
                    cfg,
                    logs_dir="",  # unused: lines_df overrides the source
                    output_path=args.output,
                    checkpoint_root=args.checkpoint
                    or args.output + "/_checkpoint",
                    scrape_interval_seconds=args.scrape_interval,
                    deadletter_path=args.dead_letter,
                    lines_df=lines,
                ).start()
                runner.install_signal_handlers()
                try:
                    runner.await_termination()
                finally:
                    poller.stop()
                return 0
            if args.partitions:
                from grower_spark.sinks.kafkawire import kafka_to_spool_multi

                parts = [int(p) for p in args.partitions.split(",")]
                # precedence: explicit --start-offsets > checkpoint > default
                merged = {**(ckpt.load() if ckpt else {}), **starts}
                offsets = kafka_to_spool_multi(
                    host, port, args.topic, parts, args.wire_spool,
                    start_offsets=merged, async_factor=args.async_factor,
                    default_start=default_start,
                )
                offsets_note = "next offsets " + ",".join(
                    f"{p}={offsets[p]}" for p in sorted(offsets)
                )
            else:
                # precedence mirrors the multi-partition path: explicit
                # --start-offset, then a --start-offsets entry for this
                # partition (previously parsed-but-ignored here: pasting
                # the printed "next offsets 0=N" without --partitions
                # silently restarted from 0), then the checkpoint
                if explicit_start:
                    start = default_start
                elif args.partition in starts:
                    start = starts[args.partition]
                elif ckpt is not None:
                    start = ckpt.load().get(args.partition, default_start)
                else:
                    start = default_start
                consumer = KafkaWireConsumer(
                    host, port, args.topic, args.partition
                )
                try:
                    next_offset = kafka_to_spool(
                        consumer, args.wire_spool, start_offset=start
                    )
                finally:
                    consumer.close()
                offsets = {args.partition: next_offset}
                offsets_note = f"next offset {next_offset}"
            if ckpt:
                saved = ckpt.load()
                saved.update(offsets)
                ckpt.save(saved)
            from grower_spark.plans.pipeline import LogPipeline
            from grower_spark.sinks.deadletter import write_deadletter_batch
            from grower_spark.sinks.files import pick_time_col, write_batch_files

            spark.dataSource.register(FileBufDataSource)
            lines = spark.read.format("filebuf").load(args.wire_spool)
            good, bad = LogPipeline(cfg).parse_with_deadletter(lines)
            write_batch_files(good, args.output, time_col=pick_time_col(good))
            if args.dead_letter:
                write_deadletter_batch(bad, args.dead_letter)
            print(f"wrote {args.output}; {offsets_note}")
            return 0
        # connector path: requires spark-sql-kafka on the classpath
        from grower_spark.sources.kafka import kafka_line_stream
        from grower_spark.streaming.filelog import FileLogRunner

        for entry in args.brokers.split(","):
            _parse_broker(entry)  # fail fast with a usable message
        runner = FileLogRunner(
            spark,
            cfg,
            logs_dir="",  # unused: lines_df overrides the text source
            output_path=args.output,
            checkpoint_root=args.checkpoint or args.output + "/_checkpoint",
            scrape_interval_seconds=args.scrape_interval,
            deadletter_path=args.dead_letter,
            lines_df=kafka_line_stream(spark, brokers=args.brokers,
                                       topic=args.topic),
        ).start()
        runner.install_signal_handlers()
        runner.await_termination()
        return 0

    if args.command == "syslog":
        from grower_spark.sources.filebuf import FileBufDataSource
        from grower_spark.sources.receiver import SpoolReceiver
        from grower_spark.sources.syslog import rfc3164_extract
        from grower_spark.streaming.filelog import (
            FileLogRunner,
            StreamMetrics,
            start_liveness_server,
        )

        if args.live_addr_port:
            metrics = StreamMetrics()
            spark.streams.addListener(metrics.listener())
            start_liveness_server(args.live_addr_port, metrics)
        rx = None
        if not args.available_now:
            if args.tcp_port is None and args.udp_port is None \
                    and not args.datagram_path:
                print("syslog: no listener configured (use --tcp-port / "
                      "--udp-port / --datagram-path, or --available-now to "
                      "drain an existing spool)", file=sys.stderr)
                return 2
            rx = SpoolReceiver(
                args.spool_dir,
                tcp_port=args.tcp_port,
                udp_port=args.udp_port,
                datagram_path=args.datagram_path,
                framing="lines",
                flush_max_lines=args.buffer_size,
            ).start()
            if args.tcp_port is not None:
                print(f"tcp port {rx.tcp_port}", flush=True)
            if args.udp_port is not None:
                print(f"udp port {rx.udp_port}", flush=True)
        spark.dataSource.register(FileBufDataSource)
        lines = spark.readStream.format("filebuf").load(args.spool_dir)
        if not args.no_envelope:
            lines = rfc3164_extract(lines).select("value")
        runner = FileLogRunner(
            spark,
            cfg,
            logs_dir="",  # unused: lines_df overrides the text source
            output_path=args.output,
            checkpoint_root=args.checkpoint,
            scrape_interval_seconds=args.scrape_interval,
            deadletter_path=args.dead_letter,
            available_now=args.available_now,
            lines_df=lines,
        ).start()
        runner.install_signal_handlers()
        try:
            runner.await_termination()
        finally:
            if rx is not None:
                rx.stop()
        return 0

    if args.command == "filelog":
        from grower_spark.streaming.filelog import (
            FileLogRunner,
            StreamMetrics,
            start_liveness_server,
        )

        if args.live_addr_port:
            metrics = StreamMetrics()
            spark.streams.addListener(metrics.listener())
            start_liveness_server(args.live_addr_port, metrics)
        runner = FileLogRunner(
            spark,
            cfg,
            logs_dir=args.logs_dir,
            output_path=args.output,
            checkpoint_root=args.checkpoint,
            scrape_interval_seconds=args.scrape_interval,
            deadletter_path=args.dead_letter,
            available_now=args.available_now,
        ).start()
        runner.install_signal_handlers()
        runner.await_termination()
        return 0

    return 1


if __name__ == "__main__":
    sys.exit(main())
