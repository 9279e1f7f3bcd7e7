"""Partitioned Bloom filter for the URL-seen set (north rule).

The seen TABLE (exact) is the source of truth; the Bloom filter is the
accelerator that lets most frontier candidates skip the exact anti-join
shuffle (SURVEY §4.2 "Bloom-before-anti-join"):

    candidates ──probe filter──► maybe-seen ──exact anti-join──►
               └─────────── definitely-unseen ─────────────────┘

Layout: ``bloom(bucket int, bits binary)`` — one bitmap per
``pmod(xxhash64(url), num_buckets)`` bucket, OR-mergeable across waves
of one geometry. This module is the numpy kernel plus the public entry
points, each one call into the Spark skeleton in plans/seenfilter.py
(which also owns the sizing rule). Probe positions use the
double-hashing scheme h_i = h1 + i·h2 (Kirsch–Mitzenmacher) with
h1 = xxhash64(url), h2 = xxhash64(url + "\\x01"), computed natively.

No false negatives by construction; false-positive rate bounded by the
usual (1-e^{-kn/m})^k — tested in tests/test_bloom.py and, for the
sizing rule, tests/test_seenfilter_sizing.py.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame

from ..functions.hashing import xxh64_str
from . import seenfilter

def _positions(h1: np.ndarray, h2: np.ndarray, k: int, m: int) -> np.ndarray:
    """(n, k) probe positions; uint64 wrap-around is part of the scheme
    (both sides compute identically)."""
    i = np.arange(k, dtype=np.uint64)
    return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m)


@dataclass(frozen=True)
class BloomKernel:
    """Bloom numpy kernel at one geometry; a bucket's state is its
    uint8 bitmap."""

    num_buckets: int = 16
    bits_per_bucket: int = 1 << 17
    num_hashes: int = 5
    suffixes = ("", "\x01")
    columns = ("bits",)

    def _bits(self, h1, h2):
        pos = _positions(h1, h2, self.num_hashes, self.bits_per_bucket)
        return (pos >> np.uint64(3)).astype(np.int64), (1 << (pos & np.uint64(7))).astype(np.uint8)

    def empty(self):
        return np.zeros(self.bits_per_bucket // 8, dtype=np.uint8)

    def load(self, values):
        return np.frombuffer(values[0], dtype=np.uint8).copy()

    def dump(self, bits):
        return (bits.tobytes(),)

    def insert(self, bits, h1, h2):
        byte, mask = self._bits(h1, h2)
        np.bitwise_or.at(bits, byte.ravel(), mask.ravel())

    def contains(self, bits, h1, h2):
        byte, mask = self._bits(h1, h2)
        return ((bits[byte] & mask) != 0).all(axis=1)

    def merge(self, bits, other):
        bits |= other

    def fill(self, bits):
        """Estimated members n̂ = −(m/k)·ln(1 − set/m) over the bucket's
        capacity at the target FP rate."""
        m, set_bits = self.bits_per_bucket, int(np.unpackbits(bits).sum(dtype=np.int64))
        capacity = m * math.log(2) ** 2 / -math.log(seenfilter.FP_RATE)
        if set_bits >= m:
            return math.inf
        return -(m / self.num_hashes) * math.log1p(-set_bits / m) / capacity


def build_bloom(
    seen: DataFrame, url_col: str = "url",
    num_buckets: int = 16, bits_per_bucket: int = 1 << 17, num_hashes: int = 5,
) -> DataFrame:
    """seen urls → bloom(bucket, bits). One shuffle on the bucket key."""
    kern = BloomKernel(num_buckets, bits_per_bucket, num_hashes)
    return seenfilter.build(kern, seen, url_col)


def merge_blooms(
    a: DataFrame, b: DataFrame,
    num_buckets: int = 16, bits_per_bucket: int = 1 << 17, num_hashes: int = 5,
) -> DataFrame:
    """OR-merge two same-geometry bloom tables (cross-wave accumulation).
    Takes build_bloom's geometry keywords so one geometry dict drives
    every call."""
    return seenfilter.merge(BloomKernel(num_buckets, bits_per_bucket, num_hashes), a, b)


def bloom_maybe_seen(
    candidates: DataFrame, bloom: DataFrame | None, url_col: str = "url",
    num_buckets: int = 16, bits_per_bucket: int = 1 << 17, num_hashes: int = 5,
    bitmap_bc=None,
) -> DataFrame:
    """candidates + ``maybe_seen``, probing a broadcast copy of the
    bitmaps (``bitmap_bc``: a caller-managed broadcast of
    ``seenfilter.collect(bloom)``, else collected here). Rows with
    maybe_seen=false are DEFINITELY unseen."""
    kern = BloomKernel(num_buckets, bits_per_bucket, num_hashes)
    return seenfilter.probe_broadcast(kern, candidates, bloom, url_col, bitmap_bc)


def bloom_maybe_seen_cogroup(
    candidates: DataFrame, bloom: DataFrame, url_col: str = "url",
    num_buckets: int = 16, bits_per_bucket: int = 1 << 17, num_hashes: int = 5,
) -> DataFrame:
    """Bucket-local probe — the scale path past broadcast size; outputs
    equal bloom_maybe_seen's (tests/test_bloom.py)."""
    kern = BloomKernel(num_buckets, bits_per_bucket, num_hashes)
    return seenfilter.probe_cogroup(kern, candidates, bloom, url_col)


def bloom_contains_py(
    bloom_bits: dict[int, bytes],
    url: str,
    num_buckets: int = 16,
    bits_per_bucket: int = 1 << 17,
    num_hashes: int = 5,
) -> bool:
    """Single-node oracle probe (same arithmetic as the Spark path)."""
    mask = (1 << 64) - 1
    bucket = xxh64_str(url) % num_buckets
    blob = bloom_bits.get(bucket)
    if blob is None:
        return False
    bits = blob
    h1 = xxh64_str(url) & mask
    h2 = xxh64_str(url + "\x01") & mask
    for i in range(num_hashes):
        p = ((h1 + i * h2) & mask) % bits_per_bucket
        if not (bits[p // 8] & (1 << (p % 8))):
            return False
    return True
