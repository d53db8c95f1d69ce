"""Data-layout operators: Z-order (Morton) clustering for scan pruning.

At 100 TB the cheapest query is the one that never reads the data:
partition pruning handles the partition column, but predicates on OTHER
columns only prune when the file/row-group min-max envelopes are tight.
Sorting by one column gives tight envelopes on that column alone;
interleaving the bits of several columns (the Z-order curve, what Delta
Lake's OPTIMIZE ZORDER BY does) gives moderately tight envelopes on ALL
interleaved columns at once, so single-column range predicates on any
of them skip most files.

Spark-first formulation, deliberately NOT rank-based:

- Each dimension is range-quantized to ``bits`` bits against its global
  min/max — one scalar aggregate per dimension (a single map-reduce
  pass, broadcast back as a one-row frame), then a pure per-row
  expression. No global sort, no sampling, no skew-prone ntile; the
  rank-based variant needs a total order and is not worth the shuffle
  for layout purposes.
- Bit interleaving is integer shift/mask arithmetic — whole-stage
  codegen'd, and bit-identical in any engine (the correctness oracle
  replays it in SQL).
- The physical rewrite is ``repartitionByRange`` on the z-value (range
  partitioner = contiguous curve segments per file) + a within-
  partition sort so row groups inside each file stay tight too.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def range_bucket(col: Column, cmin: Column, cmax: Column, bits: int) -> Column:
    """Quantize ``col`` into [0, 2^bits) against the [cmin, cmax] range.

    floor((x-min)/(max-min) * 2^bits) clamped to the top bucket (x=max
    lands exactly on 2^bits). IEEE subtract/divide/multiply/floor, so
    any engine produces the identical bucket for identical doubles; a
    degenerate range (min == max) maps everything to bucket 0.
    """
    top = (1 << bits) - 1
    span = cmax - cmin
    raw = F.floor((col - cmin) / span * float(1 << bits))
    clamped = F.least(F.lit(top).cast("long"), F.greatest(F.lit(0).cast("long"), raw))
    return F.when(span == 0, F.lit(0).cast("long")).otherwise(clamped)


def interleave_bits(b1: Column, b2: Column, bits: int) -> Column:
    """Morton-interleave two ``bits``-bit buckets: b1 takes the odd bit
    positions (more significant of each pair), b2 the even ones."""
    z: Column | None = None
    for b in range(bits):
        bit1 = F.shiftright(b1, b).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * b + 1)).cast("long")
        bit2 = F.shiftright(b2, b).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * b)).cast("long")
        term = bit1 + bit2
        z = term if z is None else z + term
    assert z is not None
    return z


def with_zvalue(df: DataFrame, dim1: str, dim2: str, bits: int = 8) -> DataFrame:
    """Add bucket + z-value columns for two numeric dimensions.

    One scalar min/max aggregate over the input (broadcast back via a
    one-row cross join) plus per-row arithmetic — the only shuffle in
    the whole derivation is the stats pass's final single-row reduce.
    """
    stats = df.agg(
        F.min(F.col(dim1).cast("double")).alias("_min1"),
        F.max(F.col(dim1).cast("double")).alias("_max1"),
        F.min(F.col(dim2).cast("double")).alias("_min2"),
        F.max(F.col(dim2).cast("double")).alias("_max2"),
    )
    b1 = range_bucket(
        F.col(dim1).cast("double"), F.col("_min1"), F.col("_max1"), bits
    )
    b2 = range_bucket(
        F.col(dim2).cast("double"), F.col("_min2"), F.col("_max2"), bits
    )
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn("_b1", b1)
        .withColumn("_b2", b2)
        .withColumn("z", interleave_bits(F.col("_b1"), F.col("_b2"), bits))
        .drop("_min1", "_max1", "_min2", "_max2")
    )


def write_zordered(
    df: DataFrame,
    path: str,
    dim1: str,
    dim2: str,
    n_files: int = 16,
) -> None:
    """Rewrite ``df`` as ``n_files`` parquet files clustered along the
    Z-order curve of (dim1, dim2): range-partition on the z-value (each
    file owns a contiguous curve segment) and sort within partitions so
    row-group envelopes stay tight for the parquet reader's min-max
    skipping."""
    (
        with_zvalue(df, dim1, dim2)
        .repartitionByRange(n_files, "z")
        .sortWithinPartitions("z")
        .drop("_b1", "_b2", "z")
        .write.mode("overwrite")
        .parquet(path)
    )
