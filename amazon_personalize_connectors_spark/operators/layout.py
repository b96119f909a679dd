"""Multi-dimensional data layout: Z-order (Morton) clustering keys.

The reference's sinks partition output by one date column
(src/etl_jobs/job.py date-format partition paths); at 100 TB a single
partition dimension leaves every other filter column scattered across
all files. Z-ordering interleaves the bits of several filter columns
into one sort key, so range-partitioning + sorting by it co-locates
rows that are close in EVERY dimension — a multi-dimensional predicate
then touches a bounded number of files instead of all of them (the
layout technique behind Delta/Iceberg Z-order clustering, built here
from pure Catalyst integer expressions).

Everything is exact int64 bit arithmetic (shift/mask/add of disjoint
bit positions), so keys are engine-portable and stable under retries,
partitionings, and growth.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(dims: list[Column], bits: int = 10) -> Column:
    """Morton key interleaving the low ``bits`` bits of each dimension:
    bit ``b`` of dimension ``j`` lands at position ``b * len(dims) + j``.
    Dimensions must be non-negative ints already reduced to range
    (bucket them first, e.g. ``col % (1 << bits)``).

    The positions are disjoint, so the interleave is a SUM of
    shift-and-mask terms — ``len(dims) * bits`` codegen integer ops
    per row, no shuffle, and the same expression runs in any SQL
    engine (portable + over | for engines without bitwise OR).
    """
    if not dims:
        raise ValueError("need at least one dimension")
    if len(dims) * bits > 62:
        raise ValueError("interleaved key would overflow int64")
    z = F.lit(0).cast("bigint")
    for b in range(bits):
        for j, d in enumerate(dims):
            z = z + (
                F.shiftright(d.cast("bigint"), b).bitwiseAND(F.lit(1))
                * F.lit(1 << (b * len(dims) + j)).cast("bigint")
            )
    return z


def zorder_unkey(z: Column, n_dims: int, bits: int = 10) -> list[Column]:
    """Inverse of ``zorder_key``: recover each dimension's low bits
    from the Morton key (used by the round-trip tests)."""
    out = []
    for j in range(n_dims):
        d = F.lit(0).cast("bigint")
        for b in range(bits):
            d = d + (
                F.shiftright(z, b * n_dims + j).bitwiseAND(F.lit(1))
                * F.lit(1 << b).cast("bigint")
            )
        out.append(d)
    return out


def compaction_bins(
    df: DataFrame,
    part_cols: list[str],
    order_col: str,
    size_col: str,
    target_bytes: int,
) -> DataFrame:
    """Small-file compaction plan: walk each partition's file list in
    ``order_col`` order and pack files into target-sized output bins —
    the OPTIMIZE/rewrite planning step of a lakehouse table
    maintenance pass ("these 4,000 tiny files become 12 files of
    ~128 MB each"). Sequential packing (not best-fit) deliberately:
    it preserves the existing sort order, so a compacted run stays
    range-prunable.

    bin_id = (running size BEFORE the file) div target — pure integer
    arithmetic, so the plan is deterministic and engine-portable; a
    file straddling a boundary joins the bin it started filling, so a
    bin never exceeds target + one file.

    Scale shape: ONE window partitioned by the table partition key
    (cumsum per partition — parallel across partitions, no global
    sort) and one groupBy to the bin grain; rows out ∝ bins. Sizes
    accumulate in decimal(38,0) (a 100 TB partition overflows int64
    cents-level units long before it overflows decimal).

    Returns one row per planned output file:
    (*part_cols, bin_id, n_files, bin_bytes, first_key, last_key)."""
    from pyspark.sql import Window

    d38 = "decimal(38,0)"
    w = (
        Window.partitionBy(*part_cols)
        .orderBy(F.col("_key").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sized = df.select(
        *part_cols,
        F.col(order_col).alias("_key"),
        F.col(size_col).cast(d38).alias("_sz"),
    ).select(
        *part_cols,
        "_key",
        "_sz",
        (F.sum("_sz").over(w) - F.col("_sz")).cast(d38).alias("_cum_before"),
    )
    binned = sized.select(
        *part_cols,
        "_key",
        "_sz",
        F.expr(f"_cum_before div CAST({target_bytes} AS decimal(38,0))")
        .cast("bigint")
        .alias("bin_id"),
    )
    return binned.groupBy(*part_cols, "bin_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("_sz").cast("bigint").alias("bin_bytes"),
        F.min("_key").alias("first_key"),
        F.max("_key").alias("last_key"),
    )
