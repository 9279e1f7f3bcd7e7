"""The seen-filter sizing rule (plans/seenfilter.geometry) meets its
false-positive target at 10^6 and 10^7 members: numpy only, no Spark
session. Uniform 64-bit hashes stand in for the xxhash64 columns; the
Bloom bucket key is derived from h1 exactly as Spark's
pmod(xxhash64(url), num_buckets) does, so a geometry whose bucket count
correlates with the first probe position shows up here."""

import numpy as np
import pytest

from downloader_spark.plans import seenfilter
from downloader_spark.plans.bloom import BloomKernel
from downloader_spark.plans.cuckoo import CuckooKernel

CHUNK = 10**6
N_PROBE = 10**6


def _hashes(rng, n):
    return rng.integers(0, 2**64, size=n, dtype=np.uint64, endpoint=False)


def _bucket(h, num_buckets):
    return h.view(np.int64) % num_buckets  # pmod of the signed hash


@pytest.mark.parametrize("n", [10**6, 10**7])
def test_bloom_fp_rate_at_capacity(n):
    rng = np.random.default_rng(n)
    kern = BloomKernel(**seenfilter.geometry("bloom", n))
    filters = [kern.empty() for _ in range(kern.num_buckets)]

    def by_bucket(h1, h2):
        b = _bucket(h1, kern.num_buckets)
        for i, filt in enumerate(filters):
            sel = b == i
            yield filt, h1[sel], h2[sel]

    for start in range(0, n, CHUNK):
        c = min(CHUNK, n - start)
        for filt, h1, h2 in by_bucket(_hashes(rng, c), _hashes(rng, c)):
            kern.insert(filt, h1, h2)
    hits = sum(
        int(kern.contains(filt, h1, h2).sum())
        for filt, h1, h2 in by_bucket(_hashes(rng, N_PROBE), _hashes(rng, N_PROBE))
    )
    assert hits / N_PROBE <= 2 * seenfilter.FP_RATE, (kern, hits / N_PROBE)


def test_cuckoo_fp_rate_and_no_stash_at_capacity():
    n = 10**6
    rng = np.random.default_rng(7)
    kern = CuckooKernel(**seenfilter.geometry("cuckoo", n))
    assert kern.num_buckets == 1  # the whole set in one table
    filt = kern.empty()
    kern.insert(filt, _hashes(rng, n), _hashes(rng, n))
    table, stash = filt
    assert len(stash) == 0
    assert np.count_nonzero(table) == n
    assert kern.fill(filt) <= 1
    hits = int(kern.contains(filt, _hashes(rng, N_PROBE), _hashes(rng, N_PROBE)).sum())
    assert hits / N_PROBE <= 2 * seenfilter.FP_RATE, hits / N_PROBE
