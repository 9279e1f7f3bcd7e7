"""Approximate URL-seen filter: the sizing rule and the Spark skeleton.

Both filter kinds — Bloom (plans/bloom.py, OR-mergeable) and cuckoo
(plans/cuckoo.py, deletable) — are a numpy KERNEL with no Spark in it:
a frozen dataclass of the kind's geometry keywords with ``suffixes``
(its two hash-column url suffixes), ``columns`` (its binary row
columns) and the methods ``empty``, ``load`` (a mutable copy), ``dump``,
``insert``, ``contains``, ``merge``, ``fill`` (members over the capacity
the geometry was sized for) and, for cuckoo, ``remove``. This module
holds everything else, once over either kernel: ``geometry()``, the
hash keying, the build, merge, broadcast and cogroup probes, removal
and the streaming state loop. A filter is one row per bucket:
``bucket int`` plus the kernel's columns.

Keying: bucket ``pmod(xxhash64(url), num_buckets)`` plus
``xxhash64(url + suffix)`` per hash. Spark's multi-arg xxhash64 CHAINS
hashes, which the pure-Python oracles can't reproduce with a plain
seeded XXH64; the suffix construction keeps both sides identical.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# the sizing rule: the seen count decides the geometry, these decide how
FP_RATE = 0.01  # target false-positive rate ε of a filter at capacity
BUCKET_BYTES = 8 << 20  # per-bucket budget: bounds one grouped-map group
HEADROOM = 2  # batch waves size for this multiple of the seen total
CUCKOO_SLOTS = 4  # fingerprint slots per cuckoo row
CUCKOO_LOAD = 0.5  # cuckoo capacity = this share of the slots


def geometry(kind: str, capacity: int) -> dict:
    """Geometry keywords of a ``kind`` filter sized for ``capacity``
    urls at FP_RATE, in buckets of about BUCKET_BYTES at most.

    Bloom: m = ⌈−n·ln ε / ln²2⌉ bits (whole bytes), k = round(m/n·ln 2).
    Cuckoo: power-of-two rows of CUCKOO_SLOTS slots at ≤ CUCKOO_LOAD."""
    n = max(int(capacity), 1)
    if kind == "bloom":
        m = math.ceil(-n * math.log(FP_RATE) / math.log(2) ** 2)
        # the bucket key pmod(h1, buckets) is also the first probe's
        # hash: a byte count sharing a factor with the bucket count
        # would pin that probe to a fraction of each bitmap
        buckets = math.ceil(m / 8 / BUCKET_BYTES)
        buckets += buckets > 1 and buckets % 2 == 0
        per_bucket = math.ceil(m / 8 / buckets)
        while math.gcd(per_bucket, buckets) > 1:
            per_bucket += 1
        return {
            "num_buckets": buckets,
            "bits_per_bucket": 8 * per_bucket,
            "num_hashes": max(1, round(m / n * math.log(2))),
        }
    if kind == "cuckoo":
        slots = math.ceil(n / CUCKOO_LOAD)
        buckets = math.ceil(2 * slots / BUCKET_BYTES)  # 2 bytes per slot
        rows = math.ceil(slots / buckets / CUCKOO_SLOTS)
        return {
            "num_buckets": buckets,
            "table_rows": 1 << (rows - 1).bit_length(),
            "slots_per_row": CUCKOO_SLOTS,
        }
    raise ValueError(f"seen_filter must be 'bloom' or 'cuckoo', got {kind!r}")


def nbytes(kind: str, geo: dict) -> int:
    """Bytes of a whole ``kind`` filter at geometry ``geo``."""
    if kind == "bloom":
        return geo["num_buckets"] * geo["bits_per_bucket"] // 8
    return geo["num_buckets"] * geo["table_rows"] * geo["slots_per_row"] * 2


def _keys(kern, url_col: str, bucket: str) -> list:
    url = F.col(url_col)
    return [F.pmod(F.xxhash64(url), F.lit(kern.num_buckets)).cast("int").alias(bucket)] + [
        F.xxhash64(F.concat(url, F.lit(s)) if s else url).alias(h)
        for s, h in zip(kern.suffixes, ("_ha", "_hb"))
    ]


def _hashes(pdf: pd.DataFrame) -> list[np.ndarray]:
    return [pdf[c].to_numpy(dtype=np.int64).view(np.uint64) for c in ("_ha", "_hb")]


def _passthrough(keyed: DataFrame, flag: str) -> tuple[str, list[str]]:
    """Output schema = the keyed input's own columns + boolean ``flag``:
    extra columns (depth, headers, ...) ride through the filter."""
    fields = [f for f in keyed.schema.fields if f.name not in ("_bucket", "_ha", "_hb")]
    schema = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in fields)
    return f"{schema}, {flag} boolean", [f.name for f in fields]


def _flagged(pdf: pd.DataFrame, keep: list[str], flag: str, values) -> pd.DataFrame:
    out = pdf[keep].copy()
    out[flag] = values
    return out


def _schema(kern, key: str = "bucket int, ") -> str:
    return key + ", ".join(f"{c} binary" for c in kern.columns)


def _load(kern, pdf: pd.DataFrame, i: int = 0):
    return kern.load([pdf[c].iloc[i] for c in kern.columns])


def _row(kern, bucket: int, state) -> pd.DataFrame:
    values = {c: [v] for c, v in zip(kern.columns, kern.dump(state))}
    return pd.DataFrame({"bucket": [bucket], **values})


def collect(filt: DataFrame) -> dict[int, tuple]:
    """bucket -> row values: the broadcast probe's payload."""
    return {int(r[0]): tuple(bytes(v) for v in r[1:]) for r in filt.collect()}


def build(kern, seen: DataFrame, url_col: str) -> DataFrame:
    """seen urls -> filter rows. One shuffle on the bucket key."""

    def build_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        state = kern.empty()
        kern.insert(state, *_hashes(pdf))
        return _row(kern, int(pdf["bucket"].iloc[0]), state)

    hashed = seen.select(*_keys(kern, url_col, "bucket"))
    return hashed.groupBy("bucket").applyInPandas(build_bucket, schema=_schema(kern))


def merge(kern, a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two same-geometry filters bucket by bucket. One shuffle on
    the bucket key."""

    def merge_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        state = _load(kern, pdf)
        for j in range(1, len(pdf)):
            kern.merge(state, _load(kern, pdf, j))
        return _row(kern, int(pdf["bucket"].iloc[0]), state)

    return a.unionByName(b).groupBy("bucket").applyInPandas(merge_bucket, schema=_schema(kern))


def probe_broadcast(kern, candidates: DataFrame, filt, url_col: str, bc=None) -> DataFrame:
    """candidates + ``maybe_seen``; false means DEFINITELY unseen. The
    filter ships ONCE PER EXECUTOR as a broadcast (``bc``, else
    collected from ``filt``) and is tested with numpy inside
    mapInPandas — never join filter blobs onto candidate rows (a
    per-row 512 KB blob through Arrow was measured 100× slower)."""
    if bc is None:
        bc = candidates.sparkSession.sparkContext.broadcast(collect(filt))
    keyed = candidates.select("*", *_keys(kern, url_col, "_bucket"))
    out_schema, keep = _passthrough(keyed, "maybe_seen")

    def probe(batches):
        states = {b: kern.load(v) for b, v in bc.value.items()}
        for pdf in batches:
            res = np.zeros(len(pdf), dtype=bool)
            ha, hb = _hashes(pdf)
            buckets = pdf["_bucket"].to_numpy()
            for b in np.unique(buckets):
                if b in states:
                    idx = buckets == b
                    res[idx] = kern.contains(states[b], ha[idx], hb[idx])
            yield _flagged(pdf, keep, "maybe_seen", res)

    return keyed.mapInPandas(probe, schema=out_schema)


def probe_cogroup(kern, candidates: DataFrame, filt: DataFrame, url_col: str) -> DataFrame:
    """Bucket-local probe — the scale path past broadcast size (a 10^10
    url filter is 10+ GB). Candidates shuffle ONCE on their bucket key
    and each bucket's filter row reaches its task exactly once: per-task
    memory is one bucket's filter. Outputs equal probe_broadcast's."""
    keyed = candidates.select("*", *_keys(kern, url_col, "_bucket"))
    out_schema, keep = _passthrough(keyed, "maybe_seen")

    def probe(cand_pdf: pd.DataFrame, filt_pdf: pd.DataFrame) -> pd.DataFrame:
        res = np.zeros(len(cand_pdf), dtype=bool)
        if len(cand_pdf) and len(filt_pdf):
            res = kern.contains(_load(kern, filt_pdf), *_hashes(cand_pdf))
        return _flagged(cand_pdf, keep, "maybe_seen", res)

    grouped = keyed.groupBy("_bucket").cogroup(filt.groupBy("bucket"))
    return grouped.applyInPandas(probe, schema=out_schema)


def remove(kern, filt: DataFrame, removals: DataFrame, url_col: str) -> DataFrame:
    """Delete members bucket by bucket. One shuffle on the bucket key;
    buckets without removals pass through."""
    hashed = removals.select(*_keys(kern, url_col, "bucket"))

    def remove_bucket(filt_pdf: pd.DataFrame, rem_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(filt_pdf):
            return pd.DataFrame(columns=["bucket", *kern.columns]).astype({"bucket": "int32"})
        state = _load(kern, filt_pdf)
        if len(rem_pdf):
            kern.remove(state, *_hashes(rem_pdf))
        return _row(kern, int(filt_pdf["bucket"].iloc[0]), state)

    grouped = filt.groupBy("bucket").cogroup(hashed.groupBy("bucket"))
    return grouped.applyInPandas(remove_bucket, schema=_schema(kern))


def stream(kern, url_stream: DataFrame, url_col: str) -> DataFrame:
    """Streaming first-seen detection: one filter row per bucket in the
    state store, updated per micro-batch; every input row is emitted
    (url first, extra columns through) with ``first_seen``. Each chunk
    probes the state as of its start, dedupes exactly on url within
    itself, then inserts its first-seen urls. No exact anti-join
    follows, so a false positive would drop a new url: a bucket filled
    past its capacity fails the batch with a ValueError instead."""
    others = [c for c in url_stream.columns if c != url_col]
    keyed = url_stream.select(
        F.col(url_col).alias("url"), *others, *_keys(kern, url_col, "_bucket")
    )
    out_schema, keep = _passthrough(keyed, "first_seen")

    def dedup(key, pdfs, state: GroupState):
        filt = kern.load(state.get) if state.exists else kern.empty()
        for pdf in pdfs:
            ha, hb = _hashes(pdf)
            first = ~pdf["url"].duplicated().to_numpy() & ~kern.contains(filt, ha, hb)
            kern.insert(filt, ha[first], hb[first])
            yield _flagged(pdf, keep, "first_seen", first)
        if kern.fill(filt) > 1:
            raise ValueError(
                f"streaming seen filter bucket {key[0]} holds {kern.fill(filt):.2f}x "
                "the urls its geometry was sized for: new urls would be dropped "
                "as false positives; size the filter for a larger capacity"
            )
        state.update(kern.dump(filt))

    return keyed.groupBy("_bucket").applyInPandasWithState(
        dedup,
        outputStructType=out_schema,
        stateStructType=_schema(kern, key=""),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
