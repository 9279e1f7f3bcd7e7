"""Partitioned cuckoo filter for the URL-seen set (north rule names
"bloom/cuckoo" — bloom.py is the OR-mergeable default; this is the
DELETABLE alternative: a crawl that re-queues URLs after content
expiry, or retracts a poisoned host, can remove members, which a Bloom
filter fundamentally cannot).

Design (Fan et al., "Cuckoo Filter: Practically Better Than Bloom",
CoNEXT 2014 — public paper, re-expressed over Spark primitives):

- Same partitioned layout as bloom.py — row schema
  ``cuckoo(bucket int, table binary, stash binary)``; this module is the
  numpy kernel plus the public entry points, each one call into the
  Spark skeleton in plans/seenfilter.py.
- Per-bucket table: ``table_rows`` (power of two) rows ×
  ``slots_per_row`` 16-bit fingerprint slots (0 = empty; fingerprints
  are mapped to 1..65535). Insert tries row i1 = h(url) % rows and its
  XOR-partner i2 = i1 ^ (tag_hash(fp) % rows), then cuckoo-kicks up to
  ``max_kicks``; anything still homeless goes to the per-bucket
  STASH so the structure NEVER false-negatives (lookups check i1, i2,
  stash). The url hashes use suffixes distinct from bloom.py's, so a
  url's bloom and cuckoo probes are independent.

The kicking loop is sequential per bucket — that is the structural
cost of cuckoo insertion; it runs once per wave over the WAVE's new
urls only (O(wave output)), and buckets are independent so the build
parallelizes across buckets exactly like the Bloom build.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame

from ..functions.hashing import xxh64_str
from . import seenfilter

_MASK64 = (1 << 64) - 1
_TAG_MULT = 0x5BD1E995  # multiply-hash for the XOR partner index


def _fp_and_rows(hi: np.ndarray, hf: np.ndarray, rows: int):
    """fingerprints (uint16, never 0) + primary/alternate row indices."""
    fp = (hf % np.uint64(65535) + np.uint64(1)).astype(np.uint16)
    i1 = (hi % np.uint64(rows)).astype(np.int64)
    tag = (fp.astype(np.uint64) * np.uint64(_TAG_MULT)) & np.uint64(_MASK64)
    i2 = i1 ^ (tag % np.uint64(rows)).astype(np.int64)
    return fp, i1, i2


def _alt_row(fp: int, row: int, rows: int) -> int:
    return row ^ ((fp * _TAG_MULT & _MASK64) % rows)


def _insert_all(
    table: np.ndarray, stash: list[int], fp: np.ndarray, i1: np.ndarray,
    rows: int, max_kicks: int,
) -> None:
    """Sequential cuckoo insertion into a (rows, slots) uint16 table."""
    rng_state = 0x9E3779B97F4A7C15  # deterministic kick-slot selector
    for f, r in zip(fp.tolist(), i1.tolist()):
        cur_fp, cur_row = int(f), int(r)
        placed = False
        for _ in range(max_kicks):
            row_slots = table[cur_row]
            empty = np.flatnonzero(row_slots == 0)
            if len(empty):
                table[cur_row, empty[0]] = cur_fp
                placed = True
                break
            alt = _alt_row(cur_fp, cur_row, rows)
            row_slots = table[alt]
            empty = np.flatnonzero(row_slots == 0)
            if len(empty):
                table[alt, empty[0]] = cur_fp
                placed = True
                break
            # evict a deterministic slot from the alt row and re-home it
            rng_state = (rng_state * 6364136223846793005 + 1442695040888963407) & _MASK64
            victim_slot = rng_state % table.shape[1]
            cur_fp, table[alt, victim_slot] = int(table[alt, victim_slot]), cur_fp
            cur_row = alt
        if not placed:
            stash.append(cur_fp)


@dataclass(frozen=True)
class CuckooKernel:
    """Cuckoo numpy kernel at one geometry; a bucket's state is
    (table, stash): a (rows, slots) uint16 array and a list of
    homeless fingerprints."""

    num_buckets: int = 16
    table_rows: int = 1 << 14
    slots_per_row: int = 4
    max_kicks: int = 200
    suffixes = ("\x02", "\x03")
    columns = ("table", "stash")

    def __post_init__(self):
        if self.table_rows & (self.table_rows - 1):
            raise ValueError("table_rows must be a power of two (XOR partner indexing)")

    def empty(self):
        return np.zeros((self.table_rows, self.slots_per_row), dtype=np.uint16), []

    def load(self, values):
        table = np.frombuffer(values[0], dtype=np.uint16).copy()
        stash = list(np.frombuffer(values[1], dtype=np.uint16))
        return table.reshape(self.table_rows, self.slots_per_row), stash

    def dump(self, state):
        return state[0].tobytes(), np.array(sorted(state[1]), dtype=np.uint16).tobytes()

    def _unique(self, hi, hf):
        # one entry per distinct url: dedup on the full 128-bit (hi, hf)
        # pair, NOT on (fp, i1) — distinct urls that collide on
        # (fingerprint, primary row) keep SEPARATE slot copies, so
        # deleting one cannot evict the other's only copy, and a url
        # listed twice is inserted or deleted once (Fan et al. store
        # per-item duplicates to make deletion safe)
        uniq = np.unique(np.stack([hi, hf]), axis=1)
        return _fp_and_rows(uniq[0], uniq[1], self.table_rows)

    def insert(self, state, hi, hf):
        fp, i1, _ = self._unique(hi, hf)
        _insert_all(*state, fp, i1, self.table_rows, self.max_kicks)

    def contains(self, state, hi, hf):
        table, stash = state
        fp, i1, i2 = _fp_and_rows(hi, hf, self.table_rows)
        res = (table[i1] == fp[:, None]).any(axis=1) | (table[i2] == fp[:, None]).any(axis=1)
        if stash:
            res |= np.isin(fp, np.array(stash, dtype=np.uint16))
        return res

    def merge(self, state, other):
        """A stored fingerprint's row is its i1 or its i2, and insertion
        needs only ONE valid start row (the kick loop reaches the
        partner via the XOR involution), so ``other``'s (fp, row)
        entries re-insert without the urls; stashes union."""
        rows, slots = np.nonzero(other[0])
        fps = other[0][rows, slots]
        _insert_all(*state, fps, rows.astype(np.int64), self.table_rows, self.max_kicks)
        state[1].extend(other[1])

    def remove(self, state, hi, hf):
        """Clear ONE matching fingerprint per url from its i1/i2 rows, or
        the stash (deleting a non-member can evict a colliding member)."""
        table, stash = state
        for f, r1, r2 in zip(*(a.tolist() for a in self._unique(hi, hf))):
            for row in (r1, r2):
                slots = np.flatnonzero(table[row] == f)
                if len(slots):
                    table[row, slots[0]] = 0
                    break
            else:
                if f in stash:
                    stash.remove(f)

    def fill(self, state):
        """Occupied slots plus stash over the capacity (CUCKOO_LOAD of
        the slots)."""
        table, stash = state
        return (np.count_nonzero(table) + len(stash)) / (seenfilter.CUCKOO_LOAD * table.size)


def build_cuckoo(
    seen: DataFrame, url_col: str = "url", num_buckets: int = 16,
    table_rows: int = 1 << 14, slots_per_row: int = 4, max_kicks: int = 200,
) -> DataFrame:
    """seen urls → cuckoo(bucket, table, stash). One shuffle on the
    bucket key; overflow past the table goes to the stash, never into
    false negatives."""
    kern = CuckooKernel(num_buckets, table_rows, slots_per_row, max_kicks)
    return seenfilter.build(kern, seen, url_col)


def merge_cuckoos(
    a: DataFrame, b: DataFrame, table_rows: int = 1 << 14, slots_per_row: int = 4,
    max_kicks: int = 200, num_buckets: int = 16,
) -> DataFrame:
    """Merge two same-geometry cuckoo tables (cross-wave accumulation,
    the analog of bloom.merge_blooms): b's fingerprints re-insert into
    a. One shuffle on the bucket key."""
    kern = CuckooKernel(num_buckets, table_rows, slots_per_row, max_kicks)
    return seenfilter.merge(kern, a, b)


def cuckoo_maybe_seen(
    candidates: DataFrame, cuckoo: DataFrame | None, url_col: str = "url",
    num_buckets: int = 16, table_rows: int = 1 << 14, slots_per_row: int = 4,
    bitmap_bc=None,
) -> DataFrame:
    """candidates + ``maybe_seen``, probing a broadcast copy of the
    tables (``bitmap_bc``: a caller-managed broadcast of
    ``seenfilter.collect(cuckoo)``, else collected here) — the analog
    of bloom.bloom_maybe_seen. No false negatives."""
    kern = CuckooKernel(num_buckets, table_rows, slots_per_row)
    return seenfilter.probe_broadcast(kern, candidates, cuckoo, url_col, bitmap_bc)


def cuckoo_maybe_seen_cogroup(
    candidates: DataFrame, cuckoo: DataFrame, url_col: str = "url",
    num_buckets: int = 16, table_rows: int = 1 << 14, slots_per_row: int = 4,
) -> DataFrame:
    """candidates + ``maybe_seen`` — bucket-local probe (the scale
    path). No false negatives; rows with maybe_seen=false are
    DEFINITELY unseen."""
    kern = CuckooKernel(num_buckets, table_rows, slots_per_row)
    return seenfilter.probe_cogroup(kern, candidates, cuckoo, url_col)


def cuckoo_remove(
    cuckoo: DataFrame, removals: DataFrame, url_col: str = "url",
    num_buckets: int = 16, table_rows: int = 1 << 14, slots_per_row: int = 4,
) -> DataFrame:
    """Delete members — the cuckoo capability Bloom lacks. Removing a
    url that was inserted restores the pre-insert state for it
    (standard cuckoo deletion semantics — only delete urls known to be
    members, same contract as the paper). One shuffle on the bucket
    key; buckets without removals pass through untouched."""
    kern = CuckooKernel(num_buckets, table_rows, slots_per_row)
    return seenfilter.remove(kern, cuckoo, removals, url_col)


def cuckoo_contains_py(
    filt: dict[int, tuple[bytes, bytes]],
    url: str,
    num_buckets: int = 16,
    table_rows: int = 1 << 14,
    slots_per_row: int = 4,
) -> bool:
    """Single-node oracle probe (same arithmetic as the Spark path).
    ``filt``: bucket -> (table_bytes, stash_bytes)."""
    bucket = xxh64_str(url) % num_buckets
    entry = filt.get(bucket)
    if entry is None:
        return False
    table = np.frombuffer(entry[0], dtype=np.uint16).reshape(table_rows, slots_per_row)
    stash = np.frombuffer(entry[1], dtype=np.uint16)
    hi = xxh64_str(url + "\x02") & _MASK64
    hf = xxh64_str(url + "\x03") & _MASK64
    fp = hf % 65535 + 1
    i1 = hi % table_rows
    i2 = i1 ^ ((fp * _TAG_MULT & _MASK64) % table_rows)
    return bool(
        (table[i1] == fp).any() or (table[i2] == fp).any() or (fp in stash)
    )
