"""CityHash128 v1.0.2 — pure-Python, for ClickHouse native-frame checksums.

ClickHouse pins CityHash at version 1.0.2 (the upstream v1.1 release
changed CityHash128's output) and uses it to checksum every compressed
frame on the native protocol; the reference reaches the same code
through clickhouse-go v2 -> go-faster/city (`/root/reference/go.mod`:
`github.com/go-faster/city v1.0.1`), whose CH128 entry point is the same
v1.0.2 variant.  No cityhash implementation exists in this env (dated
probe, RESPONSES.md round 13), so this is a from-scratch transcription
of the PUBLIC v1.0.2 algorithm (Google's city.cc, MIT license; also
documented by the ports in clickhouse-driver and go-faster/city).

v1.0.2-specific details (vs the better-known v1.1), all implemented
here:

* a fourth constant k3 exists and seeds the len>=16 dispatch
  (`CityHash128`: seed = (Fetch64(s) ^ k3, Fetch64(s+8))); v1.1 dropped
  k3 and uses (Fetch64(s), Fetch64(s+8) + k0);
* a separate len in [8, 16) branch seeds with
  (Fetch64(s) ^ len*k0, Fetch64(s+len-8) ^ k1) over an EMPTY tail;
* the long-input inner loop fetches at s+16 (v1.1 moved to s+8);
* the final mix uses HashLen16(y, w.first) (v1.1 uses y + z);
* HashLen0to16's 1..3-byte branch multiplies by k3 (v1.1 removed it).

Epistemic status, stated honestly (same discipline as kafkawire /
http2): there is no cityhash package, vector file, or live ClickHouse
server in this env to diff against, so this transcription is validated
by structure-sensitive property tests (length-boundary coverage around
every branch point: 0/1/3/4/7/8/9/15/16/17/63/64/127/128/129/255 ...,
determinism, 128-bit dispersion) and by the compressed-frame round-trip
+ corruption-detection tests in test_chnative.py — NOT against official
output vectors.  Wire parity with a live server therefore carries the
same caveat as every other transport here; the frame layer fails loudly
on any checksum mismatch, so a mistranscription cannot silently corrupt
data — it refuses the stream.
"""

from __future__ import annotations

import struct

_MASK64 = (1 << 64) - 1

K0 = 0xC3A5C85C97CB3127
K1 = 0xB492B66FBE98F273
K2 = 0x9AE16A3B2F90404F
K3 = 0xC949D7C7509E6557
_K_MUL = 0x9DDFEA08EB382D69


def _fetch64(s: bytes, i: int = 0) -> int:
    return int.from_bytes(s[i:i + 8], "little")


def _fetch32(s: bytes, i: int = 0) -> int:
    return int.from_bytes(s[i:i + 4], "little")


def _rot(v: int, shift: int) -> int:
    # city.cc's Rotate guards shift==0 (x >> 64 is UB in C; harmless in
    # Python but kept for 1:1 shape)
    if shift == 0:
        return v
    return ((v >> shift) | (v << (64 - shift))) & _MASK64


def _shift_mix(v: int) -> int:
    return (v ^ (v >> 47)) & _MASK64


def _hash_len16(u: int, v: int) -> int:
    # Hash128to64 (Murmur-inspired 128->64 fold)
    a = ((u ^ v) * _K_MUL) & _MASK64
    a ^= a >> 47
    b = ((v ^ a) * _K_MUL) & _MASK64
    b ^= b >> 47
    return (b * _K_MUL) & _MASK64


def _hash_len_0to16(s: bytes) -> int:
    n = len(s)
    if n > 8:
        a = _fetch64(s)
        b = _fetch64(s, n - 8)
        # RotateByAtLeast1: shift = n in [9, 16], never 0
        rot = ((b + n) & _MASK64)
        rot = ((rot >> n) | (rot << (64 - n))) & _MASK64
        return (_hash_len16(a, rot) ^ b) & _MASK64
    if n >= 4:
        a = _fetch32(s)
        return _hash_len16((n + (a << 3)) & _MASK64, _fetch32(s, n - 4))
    if n > 0:
        a, b, c = s[0], s[n >> 1], s[n - 1]
        y = a + (b << 8)
        z = n + (c << 2)
        return (_shift_mix((y * K2 ^ z * K3) & _MASK64) * K2) & _MASK64
    return K2


def _weak32_raw(w: int, x: int, y: int, z: int, a: int, b: int):
    a = (a + w) & _MASK64
    b = _rot((b + a + z) & _MASK64, 21)
    c = a
    a = (a + x + y) & _MASK64
    b = (b + _rot(a, 44)) & _MASK64
    return (a + z) & _MASK64, (b + c) & _MASK64


def _weak32(s: bytes, i: int, a: int, b: int):
    return _weak32_raw(
        _fetch64(s, i), _fetch64(s, i + 8),
        _fetch64(s, i + 16), _fetch64(s, i + 24), a, b,
    )


def _city_murmur(s: bytes, seed_lo: int, seed_hi: int):
    a, b = seed_lo, seed_hi
    n = len(s)
    remaining = n - 16
    if remaining <= 0:
        a = (_shift_mix((a * K1) & _MASK64) * K1) & _MASK64
        c = ((b * K1) + _hash_len_0to16(s)) & _MASK64
        d = _shift_mix((a + (_fetch64(s) if n >= 8 else c)) & _MASK64)
    else:
        c = _hash_len16((_fetch64(s, n - 8) + K1) & _MASK64, a)
        d = _hash_len16((b + n) & _MASK64,
                        (c + _fetch64(s, n - 16)) & _MASK64)
        a = (a + d) & _MASK64
        i = 0
        while True:
            a ^= (_shift_mix((_fetch64(s, i) * K1) & _MASK64) * K1) & _MASK64
            a = (a * K1) & _MASK64
            b ^= a
            c ^= (_shift_mix((_fetch64(s, i + 8) * K1) & _MASK64) * K1) \
                & _MASK64
            c = (c * K1) & _MASK64
            d ^= c
            i += 16
            remaining -= 16
            if remaining <= 0:
                break
    a = _hash_len16(a, c)
    b = _hash_len16(d, b)
    return (a ^ b) & _MASK64, _hash_len16(b, a)


def cityhash128_with_seed(s: bytes, seed_lo: int, seed_hi: int):
    """v1.0.2 CityHash128WithSeed -> (low64, high64)."""
    if len(s) < 128:
        return _city_murmur(s, seed_lo, seed_hi)
    n = len(s)
    x, y = seed_lo, seed_hi
    z = (n * K1) & _MASK64
    v0 = (_rot(y ^ K1, 49) * K1 + _fetch64(s)) & _MASK64
    v1 = (_rot(v0, 42) * K1 + _fetch64(s, 8)) & _MASK64
    w0 = (_rot((y + z) & _MASK64, 35) * K1 + x) & _MASK64
    w1 = (_rot((x + _fetch64(s, 88)) & _MASK64, 53) * K1) & _MASK64
    # Every fetch of the 128-byte laps is 8-byte aligned, so the laps read
    # words unpacked once; _rot and _weak32 are inlined with their shift
    # counts.  Each pass below is one half of city.cc's x2-unrolled lap.
    m, k1 = _MASK64, K1
    words = struct.unpack_from("<%dQ" % (n // 128 * 16), s)
    lanes = [iter(words)] * 8
    for f0, f1, f2, f3, f4, f5, f6, f7 in zip(*lanes):
        t = (x + y + v0 + f2) & m
        x = ((((t >> 37) | (t << 27)) & m) * k1) & m
        t = (y + v1 + f6) & m
        y = ((((t >> 42) | (t << 22)) & m) * k1) & m
        x ^= w1
        y ^= v0
        t = z ^ w0
        z = ((t >> 33) | (t << 31)) & m
        # v0, v1 = _weak32 of f0..f3 with a = v1 * K1, b = x + w0
        a = (v1 * k1 + f0) & m
        t = (x + w0 + a + f3) & m
        c = a
        a = (a + f1 + f2) & m
        v0 = (a + f3) & m
        v1 = ((((t >> 21) | (t << 43)) + ((a >> 44) | (a << 20))) + c) & m
        # w0, w1 = _weak32 of f4..f7 with a = z + w1, b = y
        a = (z + w1 + f4) & m
        t = (y + a + f7) & m
        c = a
        a = (a + f5 + f6) & m
        w0 = (a + f7) & m
        w1 = ((((t >> 21) | (t << 43)) + ((a >> 44) | (a << 20))) + c) & m
        z, x = x, z
    i = len(words) * 8
    remaining = n - i
    y = (y + _rot(w0, 37) * K0 + z) & _MASK64
    x = (x + _rot((v0 + z) & _MASK64, 49) * K0) & _MASK64
    # 0 < remaining < 128: up to four 32-byte chunks taken from the END,
    # deliberately re-reading already-consumed bytes when unaligned
    tail_done = 0
    while tail_done < remaining:
        tail_done += 32
        y = (_rot((y - x) & _MASK64, 42) * K0 + v1) & _MASK64
        w0 = (w0 + _fetch64(s, i + remaining - tail_done + 16)) & _MASK64
        x = (_rot(x, 49) * K0 + w0) & _MASK64
        w0 = (w0 + v0) & _MASK64
        v0, v1 = _weak32(s, i + remaining - tail_done, v0, v1)
    x = _hash_len16(x, v0)
    y = _hash_len16(y, w0)  # v1.1 would use y + z here
    return (
        (_hash_len16((x + v1) & _MASK64, w1) + y) & _MASK64,
        _hash_len16((x + w1) & _MASK64, (y + v1) & _MASK64),
    )


def cityhash128(s: bytes):
    """v1.0.2 CityHash128 -> (low64, high64) — the ClickHouse checksum
    function (written to the wire as two little-endian u64, low first)."""
    n = len(s)
    if n >= 16:
        return cityhash128_with_seed(
            s[16:], (_fetch64(s) ^ K3) & _MASK64, _fetch64(s, 8)
        )
    if n >= 8:
        return cityhash128_with_seed(
            b"",
            (_fetch64(s) ^ ((n * K0) & _MASK64)) & _MASK64,
            (_fetch64(s, n - 8) ^ K1) & _MASK64,
        )
    return cityhash128_with_seed(s, K0, K1)
