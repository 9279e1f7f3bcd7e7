"""Streaming URL-seen filters via ``applyInPandasWithState``.

The batch engine's approximate seen filters as stateful streams: the
state store holds one Bloom bitmap or cuckoo table per url bucket,
updated once per micro-batch, and each input url is emitted with
``first_seen``. Both run the one state loop in plans/seenfilter.py over
their kind's numpy kernel, so a state row is bit-compatible with a
batch-built bucket of the same geometry (size it with
``seenfilter.geometry(kind, capacity)``; keep it across restarts). A
bucket filled past that capacity fails the batch rather than silently
marking new urls as repeats. The streaming crawl (streaming/crawl.py)
runs them at frontier intake; tests drain a source in two AvailableNow
runs across a restart (tests/test_formats_stateful.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..plans import seenfilter
from ..plans.bloom import BloomKernel
from ..plans.cuckoo import CuckooKernel


def streaming_seen_filter(
    url_stream: DataFrame, url_col: str = "url",
    num_buckets: int = 16, bits_per_bucket: int = 1 << 17, num_hashes: int = 5,
) -> DataFrame:
    """Emits the input rows (url first) + ``first_seen`` with one Bloom
    bitmap per bucket as state: ``false`` rows are definite repeats
    within the stream's lifetime, ``true`` rows are new except for the
    Bloom false-positive rate."""
    kern = BloomKernel(num_buckets, bits_per_bucket, num_hashes)
    return seenfilter.stream(kern, url_stream, url_col)


def streaming_seen_filter_cuckoo(
    url_stream: DataFrame, url_col: str = "url", num_buckets: int = 16,
    table_rows: int = 1 << 14, slots_per_row: int = 4, max_kicks: int = 200,
) -> DataFrame:
    """Cuckoo-table variant of ``streaming_seen_filter`` (deletability
    kept in the streaming path); the oracle ``cuckoo_contains_py``
    probes its state rows directly."""
    kern = CuckooKernel(num_buckets, table_rows, slots_per_row, max_kicks)
    return seenfilter.stream(kern, url_stream, url_col)
