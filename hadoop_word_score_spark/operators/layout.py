"""Data-layout clustering: z-order (Morton) keys for multi-dimensional skipping.

Parquet data skipping is only as good as the correlation between file/row-
group boundaries and predicate columns. Sorting by ONE column makes its
min/max stats tight and every other column's useless; interleaving the bits
of several columns (the Z-order space-filling curve, Morton 1966 — the same
layout OPTIMIZE ZORDER BY popularized for lakehouse tables) gives every
participating column partially-tight stats, so a reader can skip row groups
for predicates on ANY of them.

All pure column expressions (whole-stage codegen, no UDF): rank each key to
a uniform bucket, then interleave bucket bits; a writer range-partitions
and sorts by the z-key so file boundaries follow the curve. The receipt
(tests/test_operators.py) counts files whose min/max range intersects a
selective predicate, per dimension: a single-column sort prunes one
dimension perfectly and the other not at all, while z-order bounds the
WORST dimension — the quantity that decides scan cost when
predicates arrive on any of the clustered columns at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def zorder_bucket(col: Column, lo: Column | int, hi: Column | int, bits: int) -> Column:
    """Uniformly bucket ``col`` from [lo, hi] into [0, 2^bits)."""
    span = (F.lit(hi) - F.lit(lo) + F.lit(1)).cast("double")
    b = F.floor((col - F.lit(lo)).cast("double") * F.lit(float(2**bits)) / span)
    return F.least(F.greatest(b, F.lit(0)), F.lit(2**bits - 1)).cast("long")


def zorder_key(x_bucket: Column, y_bucket: Column, bits: int) -> Column:
    """Morton-interleave two ``bits``-wide bucket ids (x gets odd bits)."""
    return zorder_key_n([x_bucket, y_bucket], bits)


def zorder_key_n(buckets: list[Column], bits: int) -> Column:
    """Morton-interleave k ``bits``-wide bucket ids into one k*bits-bit key.

    Bit 0 of the LAST column lands in key bit 0; earlier columns take
    successively higher bits within each round — so for two columns the
    first gets the odd bits, matching :func:`zorder_key`. k*bits must stay
    under 63 (long). Still pure bit expressions — codegen, no UDF — for any
    dimension count.
    """
    k = len(buckets)
    if k * bits > 62:
        raise ValueError(f"z-key would need {k * bits} bits; max 62 in a long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, b in enumerate(buckets):
            bit = F.shiftright(b, i).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, i * k + (k - 1 - j))
    return z
