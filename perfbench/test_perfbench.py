"""Self-tests of the benchmark's own parts (no Spark session needed).

Run: ``python3 -m pytest perfbench -q`` from the root of a checkout.
"""

from __future__ import annotations

import json
import os
import re

from grower_spark.sinks import chnative as ch
from perfbench import chserver
from perfbench.check import (TableCheck, decode_block, failed_count,
                             oracle_hashes, table_hash)
from perfbench.gen import COLUMNS, make_lines, write_documents
from perfbench.run import layer_metrics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REV = chserver.SERVER_REVISION


def _columns(rows):
    """Expected typed rows as ``encode_block`` input."""
    import datetime as dt

    cols = []
    for k, (name, type_name) in enumerate(COLUMNS):
        vals = [r[k] for r in rows]
        if type_name == "DateTime":
            vals = [dt.datetime.fromtimestamp(v, dt.timezone.utc) for v in vals]
        cols.append((name, type_name, vals))
    return cols


def _good_rows(n):
    return [r for r in make_lines(5, n)[1] if r is not None]


def test_stand_in_counts_an_encoded_block():
    rows = _good_rows(300)
    body = ch.encode_block(_columns(rows), REV)
    wire = ch.compress_stream(body) + b"trailing packet"
    reader = ch.Reader(data=wire)
    n_cols, n_rows, frames = chserver.walk_compressed(reader, REV)
    assert (n_cols, n_rows) == (len(COLUMNS), len(rows))
    assert reader.read(15) == b"trailing packet"
    assert b"".join(frames) == ch.compress_stream(body)
    names, cols = decode_block(body)
    assert list(zip(*cols)) == rows

    server = chserver.StandIn(dict(COLUMNS))
    try:
        with ch.NativeClickHouseClient("127.0.0.1", server.port,
                                       compression="lz4") as client:
            client.insert("bench.t", rows, [c for c, _ in COLUMNS])
        stats = server.wait("bench.t", len(rows), within=5)
        assert (stats["blocks"], stats["rows"], stats["inserts"]) == (
            1, {"bench.t": len(rows)}, 1)
        assert stats["errors"] == []
    finally:
        server.sock.close()


def test_check_flags_dropped_duplicated_and_altered_rows():
    expected = make_lines(5, 200)[1]
    good = [r for r in expected if r is not None]
    altered = list(good[5])
    altered[4] = altered[4] + 1  # status
    landed = good[1:] + [good[3]]  # good[0] dropped, good[3] twice
    landed[4] = tuple(altered)  # good[5] altered
    check = TableCheck(expected)
    check.add(ch.encode_block(_columns(landed), REV), ack=1.0)
    f = check.failures()
    assert (f["missing"], f["duplicated"], f["wrong"], f["foreign"]) == (1, 1, 1, 0)
    assert failed_count(f) == 3

    clean = TableCheck(expected)
    clean.add(ch.encode_block(_columns(good), REV), ack=1.0)
    assert failed_count(clean.failures()) == 0


def test_registry_hash_is_order_insensitive_and_flags_a_changed_row(tmp_path):
    rows = [(1, "a", 0.5), (2, "b", None), (3, "c", 1.25)]
    want = table_hash(["id", "s", "x"], rows)
    assert table_hash(["s", "id", "x"], [(r[1], r[0], r[2]) for r in rows[::-1]]) == want
    assert table_hash(["id", "s", "x"], rows[:2] + [(3, "c", 1.5)]) != want
    assert table_hash(["id", "s", "x"], rows[:2]) != want

    data = write_documents(str(tmp_path), 3, 60)
    hashes = oracle_hashes(data, ["dedup_minhash_lsh"])
    assert hashes == oracle_hashes(data, ["dedup_minhash_lsh"])
    assert len(hashes["dedup_minhash_lsh"]) == 16


def test_metric_names(tmp_path):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    name_re = re.compile(r"[A-Za-z0-9_.-]+")
    assert all(name_re.fullmatch(n) for n in declared)

    layers = {k: 1.0 for k in ("plans.lines_in", "plans.rows_good",
                               "plans.rows_dead", "plans.parse_s",
                               "plans.deadletter_s")}
    printed = layer_metrics(str(tmp_path), {"layers": layers}, 1, 1.0, [], [],
                            1.0, 1.0, 0.0, 0.0)
    assert {k: u for k, (_, u) in printed.items()} == {
        m["name"]: m["unit"] for m in bench["per_layer"]}
