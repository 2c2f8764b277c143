"""Partitioning strategies for 100 TB-scale joins and layouts (SURVEY §4
scale notes).

- **Salted joins**: a hot key (null-heavy foreign keys, a viral user)
  makes one shuffle partition the straggler. ``salted_join`` fans the hot
  side out over ``n_salt`` sub-keys and replicates the small side per
  sub-key, restoring parallelism deterministically (no RNG — salt comes
  from a hash of a unique column, so retries and oracle checks are
  stable). AQE's skew-join split handles moderate skew at runtime; salting
  is the explicit tool for extreme or known-in-advance skew.
- **Z-order keys**: ``zorder_value`` over ``scale_to_bits``-scaled
  integer columns, a multi-dimension clustering key for range layouts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salt_column(unique_col: Column, n_salt: int) -> Column:
    """Deterministic salt in [0, n_salt): hash of a unique column —
    stable across retries (unlike rand()), uniform across salts."""
    return F.pmod(F.xxhash64(unique_col), F.lit(n_salt)).cast("int")


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    big_unique_col: str,
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: the big (skewed) side is split into
    ``n_salt`` sub-partitions per key; the small side is replicated once
    per salt (an ``explode`` of a literal range — n_salt× the small side,
    never the big side). Result is identical to ``big.join(small, on)``.
    """
    salted_big = big.withColumn("_salt", salt_column(F.col(big_unique_col), n_salt))
    salted_small = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    out = salted_big.join(salted_small, [on, "_salt"], how)
    return out.drop("_salt")


def zorder_value(cols: list[Column], bits: int = 8) -> Column:
    """Z-order (Morton) curve value over pre-scaled integer columns —
    the multi-dimension clustering key bucketed/range layouts can't
    give: sorting/range-partitioning by the interleaved value keeps
    EVERY dimension locally narrow inside each file, so parquet
    min/max stats prune scans on any of the dims, not just the
    leading sort key (the Delta/Iceberg OPTIMIZE ZORDER layout,
    expressed as a pure Column so it runs inside a repartitionByRange).

    ``cols`` must already be scaled to [0, 2^bits) (see
    ``scale_to_bits``); bits * len(cols) must be <= 62. Bit i of
    column j lands at position i * n_dims + (n_dims - 1 - j) — the
    first column owns the most-significant bit of each group, the
    standard Morton layout. Literal shift amounts only (the Spark 4
    ``shiftleft`` constraint), generated per (i, j) at plan build."""
    n = len(cols)
    assert bits * n <= 62, "z-value must fit a signed 64-bit long"
    z = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        cl = c.cast("long")
        for i in range(bits):
            bit = F.shiftright(cl, i).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, i * n + (n - 1 - j))
    return z


def scale_to_bits(col: Column, vmin: Column, vmax: Column, bits: int = 8) -> Column:
    """Min/max-scale an integer column to [0, 2^bits) with EXACT integer
    arithmetic (floor((v - min) * 2^bits / (max - min + 1))) so any
    engine reproduces the same bucket — rank scaling would be
    skew-robust but needs a quantile pass; min/max is the oracle-exact
    baseline and the operator takes the bounds as columns so a caller
    can broadcast approx-quantile cuts instead.

    Spark's ``/`` on longs is DOUBLE division, so once the numerator
    exceeds 2^53 (epoch-micros spans over ~1 year already do at
    bits=8) floor(double) can be off by one vs true integer division.
    The double quotient is still within ±1 of the truth, so one exact
    long-math correction step restores floor-div exactly — no doc'd
    precondition, no engine-specific ``div`` operator."""
    span = vmax.cast("long") - vmin.cast("long") + 1
    num = (col.cast("long") - vmin.cast("long")) * F.lit(2**bits).cast("long")
    q0 = F.floor(num / span).cast("long")
    return (
        F.when((q0 + 1) * span <= num, q0 + 1)
        .when(q0 * span > num, q0 - 1)
        .otherwise(q0)
    )
