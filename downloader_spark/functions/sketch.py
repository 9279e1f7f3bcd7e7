"""Deterministic HyperLogLog distinct-count sketch (Flajolet et al.,
public algorithm) over native Spark expressions.

Why not ``approx_count_distinct``: Spark's built-in HLL++ sketch is a
JVM implementation detail — no external engine can recompute it, so it
can never be value-verified. This sketch is pinned to xxhash64 and
EXACT integer register arithmetic:

    bucket = h & (m-1)                      (m a power of two)
    v      = (h >> log2(m)) & 0xFFFFFFFF    (32-bit window)
    rho    = index of lowest set bit + 1;  33 when v == 0

``rho`` comes from ``log2(v & -v)`` — v & -v is an exact power of two,
and IEEE log2 of a power of two is exact in any engine, so the cast to
int is safe (no float-precision hazard). Registers are per-bucket
MAXes of rho (integer hash-agg, order-independent), and the harmonic
denominator S = Σ 2^(33-rho) is an exact long (≤ m·2^32) — the DuckDB
oracle recomputes registers AND S bit-exact, and the float estimate is
one fixed-order expression over exact integers.

Merge = elementwise register max (the standard HLL union) — sketches
from partitions, days, or crawls combine losslessly, which is the 100
TB point: distinct-URL accounting without a COUNT(DISTINCT) shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

RHO_CAP = 33  # 32-bit window exhausted


def _check_m(m: int) -> int:
    if m < 16 or m & (m - 1):
        raise ValueError("m must be a power of two >= 16")
    return m.bit_length() - 1


def md5_60bit(col: Column) -> Column:
    """60-bit hash from the md5 prefix — the ENGINE-PORTABLE hasher
    (DuckDB: CAST('0x' || substr(md5(s),1,15) AS BIGINT)). xxhash64 is
    the faster default, but no external engine can recompute it; use
    this one when the sketch must be externally auditable."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hll_registers(
    df: DataFrame, col: Column, m: int = 256, hasher=F.xxhash64
) -> DataFrame:
    """(register_id, max_rho) — ALL m registers present (empty ones as
    rho 0, so two sketches align for merging). One hash-agg; the
    grouped key is an int, the payload an int."""
    bucket, rho = _rho_cols(col, m, hasher)
    observed = (
        df.select(bucket.alias("register_id"), rho.alias("_rho"))
        .groupBy("register_id")
        .agg(F.max("_rho").alias("max_rho"))
    )
    all_regs = df.sparkSession.range(m).select(
        F.col("id").cast("int").alias("register_id")
    )
    return (
        all_regs.join(observed, "register_id", "left")
        .select(
            "register_id",
            F.coalesce("max_rho", F.lit(0)).cast("int").alias("max_rho"),
        )
    )


def _rho_cols(col: Column, m: int, hasher) -> tuple[Column, Column]:
    p = _check_m(m)
    h = hasher(col)
    bucket = (h.bitwiseAND(F.lit(m - 1))).cast("int")
    v = F.shiftrightunsigned(h, p).bitwiseAND(F.lit(0xFFFFFFFF))
    rho = (
        F.when(v == 0, F.lit(RHO_CAP))
        .otherwise(F.log2(v.bitwiseAND(-v)).cast("int") + 1)
    )
    return bucket, rho


def hll_registers_by(
    df: DataFrame,
    col: Column,
    group_cols: list[str],
    m: int = 256,
    hasher=F.xxhash64,
) -> DataFrame:
    """Per-GROUP sketches: (group..., register_id, max_rho) with all m
    registers present in every group — one sketch per wave/day/crawl
    that later max-merges losslessly. Cost: one hash-agg on
    (group, int) keys plus a groups×m backfill join (groups is the
    distinct group set — tiny next to the data)."""
    bucket, rho = _rho_cols(col, m, hasher)
    observed = (
        df.select(*group_cols, bucket.alias("register_id"), rho.alias("_rho"))
        .groupBy(*group_cols, "register_id")
        .agg(F.max("_rho").alias("max_rho"))
    )
    all_regs = (
        df.select(*group_cols).distinct()
        .crossJoin(
            df.sparkSession.range(m).select(
                F.col("id").cast("int").alias("register_id")
            )
        )
    )
    return all_regs.join(observed, [*group_cols, "register_id"], "left").select(
        *group_cols,
        "register_id",
        F.coalesce("max_rho", F.lit(0)).cast("int").alias("max_rho"),
    )


def hll_estimate_by(
    registers: DataFrame, group_cols: list[str], m: int = 256
) -> DataFrame:
    """Grouped form of hll_estimate: one (harmonic_s, n_zero_registers,
    est_distinct) row per group."""
    _check_m(m)
    alpha = 0.7213 / (1 + 1.079 / m)
    s = F.sum(
        F.when(F.col("max_rho") == 0, F.lit(1 << RHO_CAP))
        .otherwise(F.expr(f"shiftleft(1L, {RHO_CAP} - max_rho)"))
        .cast("long")
    ).alias("harmonic_s")
    zeros = F.sum(F.when(F.col("max_rho") == 0, 1).otherwise(0)).cast("long")
    agg = registers.groupBy(*group_cols).agg(s, zeros.alias("n_zero_registers"))
    raw = F.lit(alpha * m * m * float(1 << RHO_CAP)) / F.col("harmonic_s")
    est = F.when(
        (F.col("n_zero_registers") > 0) & (raw <= 2.5 * m),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("n_zero_registers")),
    ).otherwise(raw)
    return agg.select(
        *group_cols, "harmonic_s", "n_zero_registers",
        F.round(est, 4).alias("est_distinct"),
    )


def hll_estimate(registers: DataFrame, m: int = 256) -> DataFrame:
    """One row (harmonic_s, n_zero_registers, est_distinct). The
    harmonic denominator S = Σ 2^(33 - rho) (empty register → 2^33) is
    EXACT; est_distinct = α_m·m²·2^33 / S with small-range linear
    counting (m·ln(m/V) when V = #zero registers > 0 and the raw
    estimate ≤ 2.5·m) — the published correction, as one fixed-order
    float expression over exact integers."""
    _check_m(m)
    alpha = 0.7213 / (1 + 1.079 / m)
    s = F.sum(
        F.when(
            F.col("max_rho") == 0, F.lit(1 << RHO_CAP)
        ).otherwise(
            # SQL shiftleft accepts a column shift (the python wrapper
            # insists on a literal int)
            F.expr(f"shiftleft(1L, {RHO_CAP} - max_rho)")
        )
        .cast("long")
    ).alias("harmonic_s")
    zeros = F.sum(F.when(F.col("max_rho") == 0, 1).otherwise(0)).cast("long")
    agg = registers.agg(s, zeros.alias("n_zero_registers"))
    raw = F.lit(alpha * m * m * float(1 << RHO_CAP)) / F.col("harmonic_s")
    est = F.when(
        (F.col("n_zero_registers") > 0) & (raw <= 2.5 * m),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("n_zero_registers")),
    ).otherwise(raw)
    return agg.select(
        "harmonic_s", "n_zero_registers", F.round(est, 4).alias("est_distinct")
    )
