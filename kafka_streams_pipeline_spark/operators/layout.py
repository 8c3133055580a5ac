"""Multidimensional data layout: Z-order (Morton) clustering for
scan-time data skipping — the OPTIMIZE ZORDER BY move (Delta/Iceberg
publish the same design; the curve itself is Morton 1966).

Why an engine for 100 TB needs this: parquet scans skip row groups
and files by min/max footer stats, but a table sorted on ONE column
has every file spanning the full range of every OTHER column — a
predicate on the second column reads the whole table. Interleaving
the bits of two columns into one sort key gives every file a tight
bounding BOX in both dimensions, so predicates on either column (or
both) prune files/row groups. The write is one range shuffle on the
curve key — the same cost as any sort-based compaction — and the
benefit is standing: every subsequent scan skips.

Everything here is JVM-side Catalyst expressions (bit arithmetic
unrolled per bit — no UDF anywhere), so the key computation
whole-stage-codegens and the layout job is shuffle-bound, not
CPU-bound.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Morton interleave width per dimension. 16 bits/dim → 32-bit keys:
# 65536 buckets per dimension is far below parquet row-group
# granularity at any realistic file size, so more bits would refine
# ordering *within* files that stats-based skipping can't see anyway.
DEFAULT_BITS = 16


def morton_key(x: Column, y: Column, bits: int = DEFAULT_BITS) -> Column:
    """The Morton (Z-order) interleave of the low ``bits`` bits of
    two NON-NEGATIVE integer columns: bit i of ``x`` lands at key
    bit 2i, bit i of ``y`` at 2i+1. Inputs are masked to ``bits``
    first, so out-of-domain values wrap rather than corrupting high
    bits (callers with skewed domains should pre-scale — rank or
    min-max — exactly as Delta's OPTIMIZE does with its
    range-partition ids). Pure bit arithmetic, unrolled: the whole
    key is one codegen'd expression, no UDF."""
    mask = (1 << bits) - 1
    xm = x.cast("long").bitwiseAND(F.lit(mask))
    ym = y.cast("long").bitwiseAND(F.lit(mask))
    parts = []
    for i in range(bits):
        parts.append(
            F.shiftleft(F.shiftright(xm, i).bitwiseAND(F.lit(1)), 2 * i)
        )
        parts.append(
            F.shiftleft(F.shiftright(ym, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    # disjoint bit positions: + is exactly bitwise OR here
    return reduce(lambda a, b: a + b, parts).cast("long")


def morton_key_sql(x_expr: str, y_expr: str) -> str:
    """The same Morton key as ``morton_key``, as portable SQL text
    (DuckDB and Spark SQL both parse it) — the oracle twin. Bit-for-
    bit identical by construction: the same mask + per-bit
    shift/AND/shift terms, summed over disjoint bit positions."""
    mask = (1 << DEFAULT_BITS) - 1
    xs = f"(CAST({x_expr} AS BIGINT) & {mask})"
    ys = f"(CAST({y_expr} AS BIGINT) & {mask})"
    terms = []
    for i in range(DEFAULT_BITS):
        terms.append(f"((({xs} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({ys} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def zorder_write(
    df: DataFrame,
    out_dir: str,
    x_col: str,
    y_col: str,
    n_files: int,
    bits: int = DEFAULT_BITS,
) -> None:
    """Rewrite ``df`` as ``n_files`` parquet files clustered on the
    Morton key of (``x_col``, ``y_col``): range-repartition on the
    key (files get DISJOINT key ranges — the property the skipping
    proof asserts), sort within partitions (tight page-level stats),
    drop the key, write. One shuffle; the curve key never persists —
    the layout speaks entirely through the files' min/max footer
    stats on the ORIGINAL columns."""
    z = morton_key(F.col(x_col), F.col(y_col), bits)
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("errorifexists")
        .parquet(out_dir)
    )


def zorder_file_stats(
    spark: SparkSession,
    data_dir: str,
    x_col: str,
    y_col: str,
    bits: int = DEFAULT_BITS,
) -> DataFrame:
    """Per-file clustering report over a written layout: recompute
    the Morton key from the stored columns and aggregate per input
    file — (file, n_rows, z_min, z_max, x_min..y_max). Feeds the
    certified disjointness check (range partitioning ⇒ file key
    ranges never interleave) and ad-hoc layout audits. One scan +
    one small per-file aggregate."""
    df = spark.read.parquet(data_dir)
    z = morton_key(F.col(x_col), F.col(y_col), bits)
    return (
        df.withColumn("_z", z)
        .groupBy(F.input_file_name().alias("file"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("_z").alias("z_min"),
            F.max("_z").alias("z_max"),
            F.min(x_col).alias("x_min"),
            F.max(x_col).alias("x_max"),
            F.min(y_col).alias("y_min"),
            F.max(y_col).alias("y_max"),
        )
    )


def overlapping_file_pairs(stats: DataFrame) -> int:
    """Number of file pairs whose z-key ranges truly intersect —
    must be 0 for any range-partitioned layout (the structural
    invariant the certified row binds into its oracle hash). The
    self-join is over per-FILE summary rows (thousands at most),
    never data."""
    a = stats.select(
        F.col("file").alias("fa"),
        F.col("z_min").alias("amin"),
        F.col("z_max").alias("amax"),
    )
    b = stats.select(
        F.col("file").alias("fb"),
        F.col("z_min").alias("bmin"),
        F.col("z_max").alias("bmax"),
    )
    return (
        a.join(b, F.col("fa") < F.col("fb"))
        .where(
            (F.col("amin") <= F.col("bmax")) & (F.col("bmin") <= F.col("amax"))
        )
        .count()
    )
