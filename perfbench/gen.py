"""Seeded input for the benchmark: nginx access lines and the typed row
each one must land as.

Every line is rendered from values drawn from
``numpy.random.default_rng(seed)``, so a seed always gives the same lines.
About 1% of the lines are bad on purpose, split over the ways a line can
fail: it does not match the format, its status is not a number, its
status overflows UInt16, its ``custom_field`` overflows Int32, its
``time_local`` is not a date, or its byte count is negative.  The
pipeline must route exactly those to the dead-letter output.

The value mixes (15% IPv6 clients, the status, method, agent and
referer lists and their weights, byte counts up to 2 MB, request times
up to 3 s) are assumptions, not measured from a traffic study: they
vary field lengths and values as production access logs do, and they
set the string lengths that parse, encode and compress work through.

A good line carries its own id in ``custom_field`` (Int32), so the check
can map every landed row back to the line it came from, and for the tail
back to the time the line was due.

Run as a script, this is the tail generator: it sends the lines
over one TCP connection on a fixed schedule and keeps to it when the
receiver slows down.
"""

from __future__ import annotations

import argparse
import calendar
import json
import math
import os
import socket
import sys
import time

import numpy as np

# The reference's 13-column table (tests/fixtures/sample_test.yaml): the
# format stops at the last column the scheme uses.
COLUMNS = [
    ("remote_addr", "String"),
    ("remote_user", "String"),
    ("time_local", "DateTime"),
    ("request", "String"),
    ("status", "UInt16"),
    ("bytes_sent", "UInt32"),
    ("request_time", "Float32"),
    ("request_method", "String"),
    ("http_referer", "String"),
    ("http_user_agent", "String"),
    ("https", "String"),
    ("custom_field", "Int32"),
    ("custom_time_field", "DateTime"),
]
COLUMN_NAMES = [c for c, _ in COLUMNS]
ID_COLUMN = COLUMN_NAMES.index("custom_field")

BAD_SHARE = 0.01
BAD_KINDS = ("nomatch", "status_text", "status_overflow",
             "int32_overflow", "bad_time", "negative_bytes")

_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
_METHODS = ["GET"] * 8 + ["POST"] * 3 + ["HEAD", "PUT", "DELETE", "OPTIONS"]
_STATUSES = ([200] * 40 + [204, 206] + [301, 302, 304] * 3
             + [400, 401, 403, 404, 404, 404, 405, 408, 429, 444, 499]
             + [500, 502, 503, 504])
_SEGMENTS = ["api", "v1", "v2", "static", "img", "css", "js", "user",
             "users", "orders", "cart", "search", "admin", "wp-includes",
             "assets", "feed", "blog", "news", "login", "health", "metrics",
             "products", "items", "download", "upload", "media", "docs"]
_EXTS = ["", "", "", ".html", ".php", ".js", ".css", ".png", ".jpg",
         ".json", ".xml", ".txt", ".ico"]
_AGENTS = [
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/{v}.0.{b}.{p} Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 "
    "(KHTML, like Gecko) Version/{v}.1 Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64; rv:{v}.0) Gecko/20100101 Firefox/{v}.0",
    "Mozilla/5.0 (iPhone; CPU iPhone OS {v}_{p} like Mac OS X) "
    "AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148",
    "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
    "Mozilla/5.0 (compatible; bingbot/2.0; +http://www.bing.com/bingbot.htm)",
    "curl/{v}.{p}.{b}",
    "python-requests/2.{v}.{p}",
    "Go-http-client/1.1",
    "Prometheus/2.{v}.{p}",
    "-",
]
_REFERERS = ["-", "-", "-", "https://www.google.com/", "https://example.com/",
             "https://t.co/{p}", "https://news.ycombinator.com/item?id={b}"]
_USERS = ["-"] * 12 + ["alice", "bob", "admin", "svc-deploy", "m.ivanova"]
_EPOCH0 = calendar.timegm((2022, 7, 1, 0, 0, 0))
_OFFSETS = [0, 0, 180, 120, -300, 330, 60]
_OFFSET_TEXT = ["%s%02d%02d" % ("+" if m >= 0 else "-", abs(m) // 60,
                                abs(m) % 60) for m in _OFFSETS]
_PROTOS = ["1.1", "1.1", "2.0", "1.0"]
_LINE = ('{0} - {1} [{2}] "{3}" {4} {5} {6} "{7}" "{8}" "{9}" {10} {11} '
         '<{12}>')


def _iso(epochs: np.ndarray) -> list[str]:
    return np.datetime_as_string(epochs.astype("datetime64[s]")).tolist()


def _scrub(s: str) -> str:
    return "" if s == "-" else s


def make_lines(seed: int, n: int) -> tuple[list[str], list[tuple | None]]:
    """``n`` lines with ids ``0 .. n-1``; the second list holds each
    line's expected typed row (column order of ``COLUMNS``, DateTime as
    epoch seconds, Float32 as its float32 value), or None for a bad line.

    Values are drawn a column at a time; only the text is put together
    line by line."""
    g = np.random.default_rng(seed)

    def ints(lo, hi):
        return g.integers(lo, hi, n).tolist()

    def picks(seq):
        return [seq[k] for k in g.integers(0, len(seq), n).tolist()]

    def flags(p):
        return (g.random(n) < p).tolist()

    epoch = g.integers(_EPOCH0, _EPOCH0 + 60 * 86400, n)
    off_idx = g.integers(0, len(_OFFSETS), n)
    local_iso = _iso(epoch + np.array(_OFFSETS)[off_idx] * 60)
    off_idx = off_idx.tolist()
    ctime = epoch + g.integers(-3600, 3600, n)
    ctime_iso = _iso(ctime)
    epoch, ctime = epoch.tolist(), ctime.tolist()
    v6 = flags(0.15)
    octets = g.integers(0, 65536, (n, 4)).tolist()
    users = picks(_USERS)
    methods = picks(_METHODS)
    protos = picks(_PROTOS)
    depth = ints(1, 5)
    segs = g.integers(0, len(_SEGMENTS), (n, 5)).tolist()
    has_num = flags(0.4)
    nums = ints(1, 10**6)
    exts = picks(_EXTS)
    has_q = flags(0.25)
    pages = ints(1, 50)
    statuses = picks(_STATUSES)
    nbytes = np.where(g.random(n) < 0.9, g.integers(0, 2_000_000, n), 0).tolist()
    ms = g.integers(0, 3000, n)
    # ms / 1000 is the double nearest the decimal text, and no 3-decimal
    # value sits close enough to a float32 rounding midpoint for the
    # double step to change the float32 result
    rtime = (ms / 1000.0).astype(np.float32).astype(np.float64).tolist()
    ms = ms.tolist()
    referers = picks(_REFERERS)
    agents = picks(_AGENTS)
    fills = g.integers(0, 10_000, (n, 5)).tolist()
    https = picks(("on", "-"))
    bad = flags(BAD_SHARE)
    bad_kind = picks(BAD_KINDS)
    bad_num = ints(0, 10**6)

    lines: list[str] = []
    rows: list[tuple | None] = []
    for i in range(n):
        o = octets[i]
        if v6[i]:
            ip = "2001:db8:%x:%x::%x" % (o[0], o[1], o[2] or 1)
        else:
            ip = "%d.%d.%d.%d" % (1 + o[0] % 223, o[1] % 256, o[2] % 256,
                                  1 + o[3] % 254)
        sg = segs[i]
        path = "/" + "/".join([_SEGMENTS[k] for k in sg[:depth[i]]])
        if has_num[i]:
            path += "/%d" % nums[i]
        path += exts[i]
        if has_q[i]:
            path += "?page=%d&q=%s" % (pages[i], _SEGMENTS[sg[4]])
        request = "%s %s HTTP/%s" % (methods[i], path, protos[i])
        f = fills[i]
        referer = referers[i].format(p=f[0] % 200, b=1000 + f[1] % 9000)
        agent = agents[i].format(v=10 + f[2] % 120, b=1000 + f[3] % 9000,
                                 p=f[4] % 200)
        li = local_iso[i]
        tl = "%s/%s/%s:%s %s" % (li[8:10], _MONTHS[int(li[5:7]) - 1], li[:4],
                                 li[11:19], _OFFSET_TEXT[off_idx[i]])
        fields = [ip, users[i], tl, request, str(statuses[i]),
                  str(nbytes[i]), "%d.%03d" % (ms[i] // 1000, ms[i] % 1000),
                  methods[i], referer, agent, https[i], str(i),
                  ctime_iso[i]]
        kind = bad_kind[i] if bad[i] else None
        if kind == "status_text":
            fields[4] = ("OK", "2xx", "abc")[bad_num[i] % 3]
        elif kind == "status_overflow":
            fields[4] = str(65536 + bad_num[i])
        elif kind == "int32_overflow":
            fields[11] = str(2**31 + bad_num[i])
        elif kind == "bad_time":
            fields[2] = tl[:3] + "Foo" + tl[6:]
        elif kind == "negative_bytes":
            fields[5] = "-%d" % (1 + bad_num[i])
        line = _LINE.format(*fields)
        if kind == "nomatch":
            line = line[:5 + bad_num[i] % 35]
        lines.append(line)
        if kind is not None:
            rows.append(None)
            continue
        rows.append((
            ip, _scrub(users[i]), epoch[i], request, statuses[i], nbytes[i],
            rtime[i], methods[i], _scrub(referer), _scrub(agent),
            _scrub(https[i]), i, ctime[i],
        ))
    return lines, rows


_WORDS = ("a the of and to in is it data table query join scan sort hash "
          "merge group filter window stream batch row column key value "
          "order part index cache spark fast slow big small").split()
_LANGS = ["en"] * 4 + ["de", "fr", "es", "zh"]


def make_documents(seed: int, n: int) -> dict[str, list]:
    """``n`` documents as the registry's ``documents`` table columns.

    Most are random word sequences; a quarter are near copies of an
    earlier original (each word replaced with probability 0.1, the end
    cut at random), so the dedup rows find pairs and clusters of one
    original and its copies, whatever the seed; one in twenty is junk (a
    few words, or digit-and-symbol tokens) that fails quality checks."""
    g = np.random.default_rng(seed)
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        kind = g.random()
        if kind < 0.25 and len(originals) >= 10:
            toks = texts[originals[int(g.integers(0, len(originals)))]].split()
            swap = g.random(len(toks)) < 0.1
            for k in np.flatnonzero(swap).tolist():
                toks[k] = _WORDS[int(g.integers(0, len(_WORDS)))]
            toks = toks[:max(3, len(toks) - int(g.integers(0, 6)))]
        elif kind < 0.30:
            if g.random() < 0.5:
                toks = [_WORDS[k] for k in g.integers(0, len(_WORDS), 3)]
            else:
                toks = ["%d#%d" % tuple(g.integers(0, 100, 2))
                        for _ in range(int(g.integers(5, 30)))]
        else:
            toks = [_WORDS[k] for k in
                    g.integers(0, len(_WORDS), int(g.integers(8, 90)))]
            originals.append(i)
        texts.append(" ".join(toks))
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": [_LANGS[k] for k in g.integers(0, len(_LANGS), n)],
        "source": ["src%d" % k for k in g.integers(0, 20, n)],
        "n_chars": [len(t) for t in texts],
    }


def write_documents(directory: str, seed: int, n: int) -> str:
    """``documents.parquet`` for ``seed`` in ``directory``, the layout the
    registry's ``load_table`` reads.  Kept when already written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(directory, "documents.parquet")
    if not os.path.exists(path):
        os.makedirs(directory, exist_ok=True)
        pq.write_table(pa.table(make_documents(seed, n)), path + ".tmp")
        os.replace(path + ".tmp", path)
    return directory


def rfc3164(line: str, i: int) -> str:
    """Wrap a line in the syslog envelope nginx's ``syslog:`` logger sends."""
    t = time.gmtime(_EPOCH0 + i // 50)
    return "<190>%s %2d %02d:%02d:%02d web%02d nginx[%d]: %s" % (
        _MONTHS[t.tm_mon - 1], t.tm_mday, t.tm_hour, t.tm_min, t.tm_sec,
        i % 7, 1000 + i % 89, line)


def write_pool(directory: str, lines: list[str], n_files: int) -> list[str]:
    """``lines`` split over ``n_files`` log files, returned in id order.
    Kept when already complete."""
    paths = [os.path.join(directory, "pool-%02d.log" % f) for f in range(n_files)]
    marker = os.path.join(directory, ".complete")
    if os.path.exists(marker):
        return paths
    os.makedirs(directory, exist_ok=True)
    per_file = len(lines) // n_files
    for f, path in enumerate(paths):
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines[f * per_file:(f + 1) * per_file]) + "\n")
    open(marker, "w").close()
    return paths


def write_tail(path: str, lines: list[str]) -> None:
    """The tail's wire bytes: every line in its syslog envelope, one per
    line.  Kept when already written."""
    if os.path.exists(path):
        return
    with open(path + ".tmp", "w", encoding="utf-8") as fh:
        fh.write("".join(rfc3164(line, i) + "\n" for i, line in enumerate(lines)))
    os.replace(path + ".tmp", path)


def run_tail(host: str, port: int, wire_path: str, rate: float, t0: float,
             out_path: str) -> None:
    """Open-loop sender: line ``i`` of ``wire_path`` is due at
    ``t0 + i / rate`` on the monotonic clock, which every process on the
    host shares.  Each wake-up sends every line already due in one write,
    so a stall delays sends but never drops or reschedules them.  Writes
    the count sent and the 99th percentile of how late sends ran."""
    with open(wire_path, "rb") as fh:
        wire = fh.read()
    ends = np.flatnonzero(np.frombuffer(wire, np.uint8) == 10) + 1
    starts = np.concatenate(([0], ends[:-1])).tolist()
    ends = ends.tolist()
    n = len(ends)
    view = memoryview(wire)
    sock = socket.create_connection((host, port))
    sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
    lates: list[float] = []
    sent = 0
    try:
        while sent < n:
            due = min(n, math.floor((time.monotonic() - t0) * rate) + 1)
            if due > sent:
                sock.sendall(view[starts[sent]:ends[due - 1]])
                # the first line of a write is the latest of its lines
                lates.append(time.monotonic() - (t0 + sent / rate))
                sent = due
            time.sleep(max(0.0, min(0.002, t0 + sent / rate - time.monotonic())))
    finally:
        sock.close()
    with open(out_path, "w") as fh:
        json.dump({"sent": sent,
                   "late_p99_s": float(np.percentile(lates, 99)) if lates else 0.0},
                  fh)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="Open-loop TCP line sender.")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--wire", required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    run_tail(args.host, args.port, args.wire, args.rate, args.t0, args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
