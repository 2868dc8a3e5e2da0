"""Benchmark of the ingest path (nginx lines in, typed rows landed in a
ClickHouse stand-in over the native protocol) and of two registry rows.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest_backfill --seed 1 --seconds 10 --trace 0

It prints, as the last line of stdout, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer ones with ``--trace 1``.  Everything it
writes goes under ``.perfbench/`` in the checkout; the generated input
files are cached there by seed (the expected rows are drawn again each
run, which takes about 1.6 s per 100k lines on a 4-core Xeon host).

Up to three processes take part, each started here and stopped before
exit:

- the system under test (``sut.py``): the Spark driver, its JVM and
  Python workers, wired the way ``grower_spark.cli`` wires them;
- for the ingest workloads, the ClickHouse stand-in (``chserver.py``),
  which only counts and keeps blocks while the window is open;
- for the tail, the open-loop line generator (``gen.py``).

Workloads:

- ``ingest_backfill``: closed loop.  The filelog topology
  (``FileLogRunner`` with its dead-letter query, one file per
  micro-batch, a 0 s trigger) watches a rotation directory.  The harness
  rotates in one 12,500-line log file, waits until its rows have landed,
  then rotates in the next, cycling through a seeded pool of 8 files
  until the window ends.  A catch-up after downtime.  A file is one
  partition; on a 4-core Xeon VM its main micro-batch took 1.45 s, of
  which ``addBatch`` (parse, cast, row conversion, encode, compress,
  send) took 1.20 s and the per-batch rest 0.23 s (16%); with the host
  slowed by its neighbours, 2.24 s, 1.81 s and 0.44 s (19%).  The file size
  keeps that rest near a sixth of the batch while a window holds at
  least ``MIN_FILES`` of them.  One long-running query, not a fresh
  ``available_now`` drain per pass: fresh queries re-plan and re-compile
  every pass, which spread throughput 0.13-0.2 (IQR/median) run to run.
- ``ingest_tail``: open loop.  One connection sends RFC3164-wrapped
  lines to ``SpoolReceiver(framing="lines")`` at 1,250 lines/s; the
  ``filebuf`` stream with a 1 s trigger lands them.  The delivery
  latency of the syslog transport: per-batch costs dominate.  On a
  shared 4-core Xeon VM, 2,500 lines/s kept 2.5-2.8 cores busy, and
  when neighbours slowed the host its batches outgrew the 1 s trigger
  (2.0 s in one run), so latency p99 ranged 1.9-3.3 s across runs; at
  1,250 lines/s it ranged 1.7-1.9 s in runs interleaved with those.
  Its ``lines_per_s`` is the offered rate unless the topology
  saturates: it flags saturation only, and ``cpu_s`` and the latencies
  are this workload's figures of merit.
- ``registry``: closed loop over the registry rows ``sut.REGISTRY_ROWS``
  on a seeded 500-document table (``gen.make_documents``), one pass of
  every row after another.  ``dedup_keep_best`` runs jobs while its
  DataFrame is built; ``dedup_minhash_lsh`` is the exec-bound control.
  No stream and no sink run, so an ingest change should not move it.

End-to-end metrics (untraced run):

- ``setup_s``: process start to the start of the timed window: session,
  pipeline compile, stream start and a warm-up pass (backfill: the first
  rotated file lands; tail: a 20k-line spool drained through the same
  topology; registry: two passes of the rows).  Input generation is
  outside it.  One set-up costs 13-38 s on a 4-core Xeon VM, so each
  run sets up once.
- ``lines_per_s``: input rows handled per second.  Backfill: the window's
  files over the time from each rotation to its last row landing; tail:
  the delivered rate between the first and last acknowledgement inside
  the window; registry: documents read by a pass (500 per row) over the
  median pass time.
- ``land_latency_p50_s`` / ``land_latency_p99_s``: ingest: per landed
  row, the stand-in's acknowledgement time minus the time the row became
  due: when its file was rotated in (backfill), or the line's send time
  on the schedule (tail), pooled over the rows due inside the window.
  Registry: the median and the 99th percentile of the pass times, over
  the window's passes, at least 4 (so the latter is about the slowest).
- ``cpu_s``: CPU seconds of the system-under-test process tree for one
  unit of work: a rotated file (backfill), the window (tail) or a pass
  (registry).
- ``peak_rss_mb``: the sum of the tree's per-process peak resident sets.

Ingest rows missing, duplicated or wrong, and any dead-letter count
mismatch, are ``failed`` out of ``attempted`` (the lines fed in).  A
registry call fails when its result's hash differs from its DuckDB
oracle's on the same table; ``attempted`` counts calls.  Any failure
makes ``correct`` false.
"""

from __future__ import annotations

import argparse
import json
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if not os.path.isdir(os.path.join(ROOT, "grower_spark")):
    sys.exit(f"perfbench: {ROOT} holds no grower_spark package to measure")
sys.path.insert(0, ROOT)

from perfbench import chserver, gen, proctree, tracing  # noqa: E402
from perfbench.check import TableCheck, failed_count, oracle_hashes  # noqa: E402
from perfbench.sut import REGISTRY_ROWS  # noqa: E402
from grower_spark.sources.filebuf import write_frames  # noqa: E402

POOL_FILES = 8  # backfill rotates these in, in turn, as often as needed
FILE_LINES = 12_500
# the backfill window runs past ``--seconds`` until it holds this many
# files: with the 6-8 a 10 s window holds, its p99 spread 0.22 over ten
# seeds
MIN_FILES = 10
WARM_LINES = 20_000  # the tail's warm-up drain
WARM_SEED = 2**31 - 1
TABLE = "bench.access_log"  # where the system under test writes
TAIL_RATE = 1250.0
TAIL_LEAD_S = 6.0  # sending starts this long before the window opens
TAIL_DRAIN_S = 15.0  # rows not landed this long after the last send fail
DOCS = 500  # the registry's documents table, as many as the sf0.01 testdata
# the registry window runs past ``--seconds`` until it holds this many
# passes: with three, its p99 (about the slowest pass) spread 0.27 over
# ten seeds
MIN_PASSES = 4
REGISTRY_LAYER = {"build_s": "s", "build_jobs": "count", "exec_s": "s",
                  "exec_jobs": "count", "catalyst_s": "s",
                  "shuffle_write_mb": "MB"}  # per registry row


class Proc:
    """A child process whose stdout lines are read on a thread."""

    def __init__(self, argv: list[str], env: dict, log_path: str) -> None:
        self.log = open(log_path, "w")
        self.p = subprocess.Popen(argv, stdin=subprocess.PIPE,
                                  stdout=subprocess.PIPE, stderr=self.log,
                                  text=True, env=env, cwd=ROOT)
        self.lines: queue.Queue = queue.Queue()
        self.family: set[tuple[int, str]] = set()  # see ``remember``
        threading.Thread(target=self._pump, daemon=True).start()

    def remember(self) -> None:
        """Note the live descendants, to wait for them at ``stop``."""
        self.family |= proctree.identify(proctree.tree(self.p.pid)[1:])

    def _pump(self) -> None:
        for line in self.p.stdout:
            self.lines.put(line)
        self.lines.put(None)

    def send(self, obj: dict) -> None:
        self.p.stdin.write(json.dumps(obj) + "\n")
        self.p.stdin.flush()

    def next_json(self, timeout: float, prefix: str = "") -> dict:
        """The next stdout line that starts with ``prefix``, as JSON."""
        limit = time.monotonic() + timeout
        while True:
            try:
                line = self.lines.get(timeout=max(0.0, limit - time.monotonic()))
            except queue.Empty:
                raise RuntimeError(f"{self.p.args[1]}: no reply in {timeout}s")
            if line is None:
                raise RuntimeError(f"{self.p.args[1]} exited "
                                   f"({self.p.wait()}); see {self.log.name}")
            if line.startswith(prefix):
                return json.loads(line[len(prefix):])

    def event(self, name: str, timeout: float) -> dict:
        ev = self.next_json(timeout, "@@ ")
        if ev["event"] != name:
            raise RuntimeError(f"expected event {name!r}, got {ev['event']!r}")
        return ev

    def stop(self) -> None:
        """Stop the process and every descendant it started (the JVM and
        its Python workers outlive a driver that exits first)."""
        if self.p.poll() is None:
            self.remember()
            self.p.terminate()
            try:
                self.p.wait(15)
            except subprocess.TimeoutExpired:
                self.p.kill()
                self.p.wait()
        limit = time.monotonic() + 15
        while (alive := [i for i in self.family if proctree.alive(i)]) and \
                time.monotonic() < limit:
            time.sleep(0.1)
        for pid, _ in alive:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        self.log.close()


class Harness:
    """Directories, child environment and every process started."""

    def __init__(self) -> None:
        base = os.path.join(ROOT, ".perfbench")
        self.cache = os.path.join(base, "cache")
        self.run = os.path.join(base, "run")
        shutil.rmtree(self.run, ignore_errors=True)
        tmp = os.path.join(self.run, "tmp")
        os.makedirs(tmp)
        os.makedirs(self.cache, exist_ok=True)
        self.env = dict(os.environ)
        # the JVM heap starts at 2 GB: grown on demand from G1's small
        # default, its size at the peak followed GC timing, and the
        # registry's peak RSS ranged 1.9-3.3 GB across seeds
        self.env.update({
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(self.run, "spark-local"),
            "PYSPARK_SUBMIT_ARGS":
                '--conf "spark.driver.extraJavaOptions=-Djava.io.tmpdir='
                f'{tmp} -XX:-UsePerfData -Xms2g" pyspark-shell',
        })
        self.procs: list[Proc] = []
        self.stand_in: Proc | None = None
        self.port = 0

    def start(self, name: str, argv: list[str]) -> Proc:
        proc = Proc([sys.executable] + argv, self.env,
                    os.path.join(self.run, f"{name}.log"))
        self.procs.append(proc)
        return proc

    def start_stand_in(self) -> None:
        self.stand_in = self.start("chserver", [os.path.join(HERE, "chserver.py")])
        self.port = self.stand_in.next_json(30)["port"]

    def ch(self, cmd: str, timeout: float = 30, **kw) -> dict:
        self.stand_in.send({"cmd": cmd, **kw})
        return self.stand_in.next_json(timeout)

    def sut(self, workload: str, trace: int, *extra: str) -> Proc:
        return self.start("sut", [
            os.path.join(HERE, "sut.py"), "--workload", workload,
            "--work", os.path.join(self.run, "sut"), "--port", str(self.port),
            "--trace", str(trace), "--trace-dir", os.path.join(self.run, "trace"),
            *extra])

    def landed(self, expected, times=None) -> TableCheck:
        """Verify and decode everything the stand-in received into
        ``TABLE`` (warm-up tables aside)."""
        path = os.path.join(self.run, "blocks.bin")
        fin = self.ch("finish", timeout=120, path=path)
        stats = self.ch("stats")
        if fin["bad_checksums"] or stats["errors"]:
            raise RuntimeError(f"stand-in: {fin} {stats['errors']}")
        check = TableCheck(expected, times)
        for meta, body in chserver.read_blocks(path):
            if meta["table"] == TABLE:
                check.add(body, meta["ack"])
            elif not meta["table"].endswith("_warm"):
                raise RuntimeError(f"insert into unknown table {meta['table']}")
        return check

    def close(self) -> None:
        if self.stand_in is not None and self.stand_in.p.poll() is None:
            try:
                self.stand_in.send({"cmd": "quit"})
                self.stand_in.p.wait(10)
            except (OSError, subprocess.TimeoutExpired):
                pass
        for proc in self.procs:
            proc.stop()


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else 0.0


def backfill(h: Harness, args) -> dict:
    lines, expected = gen.make_lines(args.seed, POOL_FILES * FILE_LINES)
    pool = gen.write_pool(
        os.path.join(h.cache, f"pool-{args.seed}-{POOL_FILES}x{FILE_LINES}"),
        lines, POOL_FILES)
    file_of = np.arange(len(expected)) // FILE_LINES
    good = np.bincount(file_of, [r is not None for r in expected])
    rotation = os.path.join(h.run, "rotation")
    os.makedirs(rotation)
    h.start_stand_in()
    trace_on = os.path.join(h.run, "trace", "ON")
    os.makedirs(os.path.dirname(trace_on))

    t_spawn = time.monotonic()
    sut = h.sut("ingest_backfill", args.trace,
                "--input", os.path.dirname(pool[0]), "--rotation", rotation)
    session_s = sut.event("session", 120)["session_s"]
    sut.event("started", 120)
    feeds = []  # (pool file, due, landed) per rotated file
    target = 0

    def feed(traced: bool) -> None:
        """Rotate the next log file in and wait until its rows landed."""
        nonlocal target
        f = len(feeds) % POOL_FILES
        if traced:
            open(trace_on, "w").close()
        os.link(pool[f], os.path.join(rotation, "access-%05d.log" % len(feeds)))
        due = time.monotonic()
        target += int(good[f])
        st = h.ch("wait", timeout=70, table=TABLE, rows=target, within=60)
        if st["rows"].get(TABLE, 0) < target:
            raise RuntimeError(f"rotated file {len(feeds)} did not land in 60 s")
        if traced:
            os.remove(trace_on)
        feeds.append((f, due, st["last_ack"]))

    feed(False)  # the warm-up file
    w0 = feeds[0][2]
    setup_s = w0 - t_spawn
    cpu0, ch0 = proctree.cpu_s(sut.p.pid), h.ch("stats")["cpu_s"]
    while time.monotonic() < w0 + args.seconds or len(feeds) <= MIN_FILES:
        # a traced run alternates untraced and traced files
        feed(bool(args.trace) and len(feeds) % 2 == 0)
    w1 = feeds[-1][2]
    cpu1, ch1 = proctree.cpu_s(sut.p.pid), h.ch("stats")["cpu_s"]
    peak_mb = proctree.peak_rss_mb(sut.p.pid)
    sut.remember()
    sut.send({"cmd": "stop"})
    res = sut.event("result", 120)

    fed = np.bincount([f for f, _, _ in feeds], minlength=POOL_FILES)
    c = h.landed(expected, fed[file_of])  # while the session shuts down
    sut.p.wait(60)
    n_bad = sum(fed[f] * (FILE_LINES - good[f]) for f in range(POOL_FILES))
    f = c.failures()
    report(f, res["dead"], n_bad)
    failed = failed_count(f) + abs(res["dead"] - n_bad)
    # each block belongs to the one file in flight when it was acknowledged
    dues = np.array([d for _, d, _ in feeds])
    traced = np.array([bool(args.trace) and k > 0 and k % 2 == 0
                       for k in range(len(feeds))])
    lat, rows = [], []
    for ack, n in c.blocks:
        k = np.searchsorted(dues, ack) - 1
        if k >= 1 and not traced[k]:
            lat.append(ack - dues[k])
            rows.append(n)
    lat = np.repeat(lat, rows)
    plain = [k for k in range(1, len(feeds)) if not traced[k]]
    span = sum(feeds[k][2] - feeds[k][1] for k in plain)
    metrics = end_to_end(
        setup_s, sum(good[feeds[k][0]] for k in plain) / span,
        pct(lat, 50), pct(lat, 99),
        # the closed loop keeps the tree busy all window: its CPU per
        # rotated file is what a change can move
        (cpu1 - cpu0) / (len(feeds) - 1), peak_mb)
    if args.trace:
        batches = {k for k in range(len(feeds)) if traced[k]}

        def took(ks):
            return statistics.median(feeds[k][2] - feeds[k][1] for k in ks)

        metrics = layer_metrics(
            os.path.join(h.run, "trace"), res, scale=len(batches),
            session_s=session_s,
            main=[e for e in res["events"]
                  if e["name"] == "filelog-main" and e["batch"] in batches],
            dead=[e for e in res["events"]
                  if e["name"] == "filelog-deadletter" and e["batch"] in batches],
            ch_cpu=ch1 - ch0, window=w1 - w0,
            overhead=took(batches) / took(plain) - 1, late=0.0)
    return result(failed, int(fed[file_of].sum()), metrics)


def tail(h: Harness, args) -> dict:
    n = int(TAIL_RATE * (TAIL_LEAD_S + args.seconds))
    lines, expected = gen.make_lines(args.seed, n)
    n_bad = sum(r is None for r in expected)
    wire = os.path.join(h.cache, f"tail-{args.seed}-{n}.txt")
    gen.write_tail(wire, lines)
    warm = os.path.join(h.cache, f"tail-warm-{WARM_LINES}")
    if not os.path.isdir(warm):
        warm_lines = gen.make_lines(WARM_SEED, WARM_LINES)[0]
        os.makedirs(warm + ".tmp", exist_ok=True)
        for k in range(2):
            part = warm_lines[k::2]
            write_frames(os.path.join(warm + ".tmp", f"warm-{k}.fbuf"),
                         [gen.rfc3164(line, i) for i, line in enumerate(part)])
        os.replace(warm + ".tmp", warm)
    h.start_stand_in()
    trace_dir = os.path.join(h.run, "trace")
    os.makedirs(trace_dir)

    t_spawn = time.monotonic()
    sut = h.sut("ingest_tail", args.trace, "--warm-input", warm,
                "--input", wire)
    session_s = sut.event("session", 120)["session_s"]
    rx_port = sut.event("listening", 60)["port"]
    setup_s = sut.event("started", 180)["t"] - t_spawn
    t0 = time.monotonic() + 0.05
    late_path = os.path.join(h.run, "generator.json")
    generator = h.start("generator", [
        os.path.join(HERE, "gen.py"), "--port", str(rx_port),
        "--wire", wire, "--rate", str(TAIL_RATE), "--t0", repr(t0),
        "--out", late_path])
    w0 = t0 + TAIL_LEAD_S
    w1 = w0 + args.seconds
    # a traced run traces the middle half of the window: the untraced
    # quarters either side cancel a steady drift, such as the JIT settling
    q1, q3 = w0 + args.seconds / 4, w1 - args.seconds / 4
    time.sleep(max(0.0, w0 - time.monotonic()))
    cpu0, ch0 = proctree.cpu_s(sut.p.pid), h.ch("stats")["cpu_s"]
    if args.trace:
        time.sleep(max(0.0, q1 - time.monotonic()))
        cpu_q1 = proctree.cpu_s(sut.p.pid)
        open(os.path.join(trace_dir, "ON"), "w").close()
        time.sleep(max(0.0, q3 - time.monotonic()))
        os.remove(os.path.join(trace_dir, "ON"))
        cpu_q3 = proctree.cpu_s(sut.p.pid)
    time.sleep(max(0.0, w1 - time.monotonic()))
    cpu1, ch1 = proctree.cpu_s(sut.p.pid), h.ch("stats")["cpu_s"]
    peak_mb = proctree.peak_rss_mb(sut.p.pid)
    sut.remember()
    generator.p.wait(30)
    with open(late_path) as fh:
        sent = json.load(fh)
    n_good = n - n_bad
    limit = time.monotonic() + TAIL_DRAIN_S
    while (h.ch("stats")["rows"].get(TABLE, 0) < n_good
           and time.monotonic() < limit):
        time.sleep(0.1)
    sut.send({"cmd": "stop"})
    res = sut.event("result", 120)

    c = h.landed(expected)  # while the session shuts down
    sut.p.wait(60)
    f = c.failures()
    report(f, res["dead"], n_bad)
    failed = failed_count(f) + abs(res["dead"] - n_bad) + (n - sent["sent"])
    ack = c.ack[:n]
    due = t0 + np.arange(n) / TAIL_RATE
    inside = (due >= w0) & (due < w1) & ~np.isnan(ack)
    lat = ack[inside] - due[inside]
    # delivered rate between the first and last acknowledgement inside
    # the window, counting the rows of every ack after the first
    acks = np.unique(ack[(ack >= w0) & (ack < w1)])
    delivered = np.count_nonzero(np.isin(ack, acks[1:]))
    rate = delivered / (acks[-1] - acks[0]) if len(acks) > 1 else 0.0
    metrics = end_to_end(setup_s, rate, pct(lat, 50), pct(lat, 99),
                         cpu1 - cpu0, peak_mb)
    if args.trace:
        # the open loop fixes wall time, so tracing overhead shows as CPU:
        # the traced half of the window against the untraced half
        events = [e for e in res["events"] if q1 <= e["t"] < q3]
        metrics = layer_metrics(
            os.path.join(h.run, "trace"), res, scale=1, session_s=session_s,
            main=[e for e in events if e["name"] == "filelog-main"],
            dead=[e for e in events if e["name"] == "filelog-deadletter"],
            ch_cpu=ch1 - ch0, window=w1 - w0,
            overhead=(cpu_q3 - cpu_q1) / (cpu1 - cpu_q3 + cpu_q1 - cpu0) - 1,
            late=sent["late_p99_s"])
    return result(failed, n, metrics)


def registry(h: Harness, args) -> dict:
    data = gen.write_documents(os.path.join(h.cache, f"docs-{args.seed}-{DOCS}"),
                               args.seed, DOCS)
    t_spawn = time.monotonic()
    sut = h.sut("registry", args.trace, "--input", data)
    session_s = sut.event("session", 120)["session_s"]
    started = sut.event("started", 180)
    setup_s = started["t"] - t_spawn
    passes = []
    w0 = time.monotonic()
    cpu0 = proctree.cpu_s(sut.p.pid)
    while time.monotonic() < w0 + args.seconds or len(passes) < MIN_PASSES:
        # a traced run alternates untraced and traced passes
        sut.send({"cmd": "pass", "trace": bool(args.trace) and len(passes) % 2 == 1})
        passes.append(sut.event("pass", 180))
    cpu1 = proctree.cpu_s(sut.p.pid)
    peak_mb = proctree.peak_rss_mb(sut.p.pid)
    sut.remember()
    sut.send({"cmd": "stop"})
    sut.event("result", 60)

    want = oracle_hashes(data, REGISTRY_ROWS)  # while the session shuts down
    sut.p.wait(60)
    calls = [(q, p[q]) for p in started["warm"] + passes for q in REGISTRY_ROWS]
    wrong = [(q, c) for q, c in calls if c.get("hash") != want[q]]
    if wrong:
        print(f"perfbench: registry calls failed: {wrong}; oracle {want}",
              file=sys.stderr)
    traced = passes[1::2] if args.trace else []
    plain = passes[::2] if args.trace else passes
    took = [p["t1"] - p["t0"] for p in plain]
    metrics = end_to_end(
        setup_s, DOCS * len(REGISTRY_ROWS) / statistics.median(took),
        pct(took, 50), pct(took, 99), (cpu1 - cpu0) / len(passes), peak_mb)
    if args.trace:
        layers = {f"registry.{q}.{k}": statistics.median(
                      p[q].get(k, 0.0) for p in traced)
                  for q in REGISTRY_ROWS for k in REGISTRY_LAYER}
        metrics = layer_metrics(
            os.path.join(h.run, "trace"), {}, scale=1, session_s=session_s,
            main=[], dead=[], ch_cpu=0.0, window=1.0,
            overhead=statistics.median(p["t1"] - p["t0"] for p in traced)
            / statistics.median(took) - 1, late=0.0, registry=layers)
    return result(len(wrong), len(calls), metrics)


def end_to_end(setup_s: float, lines_per_s: float, latency_p50: float,
               latency_p99: float, cpu_s: float, peak_rss_mb: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "lines_per_s": (lines_per_s, "1/s"),
        "land_latency_p50_s": (latency_p50, "s"),
        "land_latency_p99_s": (latency_p99, "s"),
        "cpu_s": (cpu_s, "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }


def layer_metrics(trace_dir: str, res: dict, scale: int, session_s: float,
                  main: list, dead: list, ch_cpu: float, window: float,
                  overhead: float, late: float, registry: dict | None = None
                  ) -> dict:
    """Per-layer numbers from the traced part of the run.  Times and
    counts are per traced file (backfill) or per traced half-window
    (tail); ``scale`` is the number of traced files.  ``registry`` holds
    the registry rows' numbers (medians over traced passes).  A layer
    the workload does not use reads 0."""
    selfs, counts, values = tracing.read_spans(trace_dir) \
        if os.path.isdir(trace_dir) else ({}, {}, {})
    plans = res.get("layers", {})
    registry = registry or {}

    def per(x: float) -> float:
        return x / scale

    def phase(events, key):
        return [e["ms"].get(key, 0) / 1000.0 for e in events]

    data = [e for e in main if e["rows"] > 0]
    rx = res.get("receiver", {})
    out = {
        "session.start_s": (session_s, "s"),
        "plans.lines_in": (plans.get("plans.lines_in", 0.0), "count"),
        "plans.rows_good": (plans.get("plans.rows_good", 0.0), "count"),
        "plans.rows_dead": (plans.get("plans.rows_dead", 0.0), "count"),
        "plans.parse_s": (plans.get("plans.parse_s", 0.0), "s"),
        "plans.deadletter_s": (plans.get("plans.deadletter_s", 0.0), "s"),
        "sinks.clickhouse.row_convert_s":
            (per(selfs.get("sinks.clickhouse.insert_partition", 0.0)), "s"),
        "sinks.chnative.encode_s": (per(selfs.get("sinks.chnative.encode", 0.0)), "s"),
        "sinks.chnative.compress_s":
            (per(selfs.get("sinks.chnative.compress", 0.0)), "s"),
        "sinks.chnative.send_wait_s":
            (per(selfs.get("sinks.chnative.insert", 0.0)), "s"),
        "sinks.chnative.blocks": (per(counts.get("sinks.chnative.blocks", 0)), "count"),
        "sinks.chnative.bytes_raw":
            (per(counts.get("sinks.chnative.bytes_raw", 0)), "bytes"),
        "sinks.chnative.bytes_wire":
            (per(counts.get("sinks.chnative.bytes_wire", 0)), "bytes"),
        "sinks.chnative.connects":
            (per(counts.get("sinks.chnative.connects", 0)), "count"),
        "sinks.clickhouse.partitions":
            (per(counts.get("sinks.clickhouse.partitions", 0)), "count"),
        "sinks.clickhouse.retries":
            (per(counts.get("sinks.clickhouse.retries", 0)), "count"),
        "sinks.clickhouse.insert_s_p50":
            (pct(values.get("sinks.clickhouse.insert_s", []), 50), "s"),
        "sinks.clickhouse.insert_s_p99":
            (pct(values.get("sinks.clickhouse.insert_s", []), 99), "s"),
        "streaming.batches": (per(len(main)), "count"),
        "streaming.rows_per_batch_p50": (pct([e["rows"] for e in data], 50), "count"),
        "streaming.trigger_s_p50": (pct(phase(data, "triggerExecution"), 50), "s"),
        "streaming.trigger_s_p99": (pct(phase(data, "triggerExecution"), 99), "s"),
        "streaming.add_batch_s_p50": (pct(phase(data, "addBatch"), 50), "s"),
        "streaming.add_batch_s_p99": (pct(phase(data, "addBatch"), 99), "s"),
        "streaming.overhead_s_p50": (pct(
            [a - b for a, b in zip(phase(data, "triggerExecution"),
                                   phase(data, "addBatch"))], 50), "s"),
        "streaming.deadletter.add_batch_s_p50": (pct(phase(
            [e for e in dead if e["rows"] > 0], "addBatch"), 50), "s"),
        "sources.receiver.lines": (rx.get("lines", 0), "count"),
        "sources.receiver.spool_files": (rx.get("spool_files", 0), "count"),
        "sources.filebuf.read_s": (per(selfs.get("sources.filebuf.read", 0.0)), "s"),
        "sources.filebuf.offset_files":
            (max(values.get("sources.filebuf.offset_files", [0])), "count"),
        "sources.spool_wait_p50_s":
            (pct(values.get("sources.spool_wait_s", []), 50), "s"),
        "chserver.cpu_s": (ch_cpu, "s"),
        "chserver.cpu_frac": (ch_cpu / window, "1"),
        "generator.late_p99_s": (late, "s"),
        "trace.overhead_frac": (overhead, "1"),
    }
    for q in REGISTRY_ROWS:
        for k, unit in REGISTRY_LAYER.items():
            name = f"registry.{q}.{k}"
            out[name] = (registry.get(name, 0.0), unit)
    return out


def report(failures: dict, dead: int, want_dead: int) -> None:
    """Say on stderr what failed, if anything did."""
    if failed_count(failures) or dead != want_dead:
        print(f"perfbench: rows {failures}; dead-letter rows {dead}, "
              f"expected {want_dead}", file=sys.stderr)


def result(failed: int, attempted: int, metrics: dict) -> dict:
    failed = int(failed)
    return {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }


WORKLOADS = {"ingest_backfill": backfill, "ingest_tail": tail,
             "registry": registry}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    h = Harness()
    try:
        out = WORKLOADS[args.workload](h, args)
    finally:
        h.close()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
