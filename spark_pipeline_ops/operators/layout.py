"""Data-layout operators: Z-order (Morton) clustering for
multi-dimensional scan pruning.

At 100 TB, the dominant cost of most queries is the scan, and the only
scan bytes you truly avoid are the ones parquet min/max (or partition)
pruning skips. Sorting by a single column prunes one predicate
dimension; interleaving the bits of several columns into one Z-order
key and range-partitioning on it gives every interleaved dimension
locality inside each output file, so min/max footer stats prune files
for predicates on ANY of the dimensions (the Delta/Iceberg
``OPTIMIZE ZORDER BY`` layout strategy, built here from Spark
primitives).

``zorder_key`` is a pure Column expression — an unrolled sum of
``((x >> i) & 1) << (i*n + j)`` terms, all JVM-side integer bit math
(whole-stage codegen, no UDF, no shuffle). ``cluster_by_zorder`` is the
write-side layout pass: ONE range exchange on the key (sampled range
boundaries → equal-size output files, skew-safe where hash partitioning
on a hot dimension is not) plus an in-partition sort that feeds the
parquet writer runs of adjacent keys.

Callers bucket each dimension to a non-negative integer first (hash,
epoch bucket, numeric bin): bit interleaving is only meaningful on
bounded unsigned ints. Values are masked to ``bits`` low bits, so
out-of-range inputs wrap rather than throw (ANSI-safe: every
intermediate fits in int64 for ``n_cols * bits <= 62``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["zorder_key", "zorder_key_sql", "cluster_by_zorder"]


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def zorder_key(cols, bits: int = 16) -> Column:
    """Morton-interleave the low ``bits`` bits of each column: bit ``i``
    of dimension ``j`` lands at output position ``i*n + j`` (bigint).

    Deterministic pure integer math — usable as a sort/partition key on
    any engine that reproduces ``>>``/``&``/``*``/``+`` on int64 (the
    DuckDB oracle twin runs the same unrolled expression).
    """
    if isinstance(cols, (str, Column)):
        cols = [cols]  # a bare string must not iterate char-by-char
    cs = [_col(c) for c in cols]
    n = len(cs)
    if n < 1:
        raise ValueError("zorder_key needs at least one column")
    if n * bits > 62:
        raise ValueError(
            f"n_cols*bits must be <= 62 to fit int64, got {n}*{bits}"
        )
    mask = (1 << bits) - 1
    terms = []
    for j, c in enumerate(cs):
        m = c.cast("long").bitwiseAND(F.lit(mask))
        for i in range(bits):
            terms.append(
                F.shiftright(m, i).bitwiseAND(F.lit(1))
                * F.lit(1 << (i * n + j))
            )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def zorder_key_sql(cols, bits: int = 16) -> str:
    """The ANSI-SQL twin of :func:`zorder_key` (same unrolled terms) —
    for oracle checks and for engines applying the identical layout."""
    if isinstance(cols, str):
        cols = [cols]
    n = len(cols)
    if n < 1 or n * bits > 62:
        raise ValueError("invalid cols/bits")
    mask = (1 << bits) - 1
    terms = []
    for j, c in enumerate(cols):
        for i in range(bits):
            terms.append(
                f"(((({c}) & {mask}) >> {i}) & 1) * {1 << (i * n + j)}"
            )
    return "(" + " + ".join(terms) + ")"


def cluster_by_zorder(
    df: DataFrame,
    cols,
    *,
    bits: int = 16,
    num_partitions: int | None = None,
    key_col: str | None = None,
) -> DataFrame:
    """Lay ``df`` out in Z-order on ``cols`` (already-bucketed
    non-negative ints): range-partition on the interleaved key (sampled
    boundaries — balanced output files even when one dimension is
    skewed), sort within each partition, and drop the key unless
    ``key_col`` asks to keep it. Write the result with
    ``datafusion_functions_json_spark.sources.write_partitioned`` / plain
    parquet; footer min/max on every interleaved dimension then prunes
    at read time."""
    name = key_col or "__zkey"
    out = df.withColumn(name, zorder_key(cols, bits))
    if num_partitions:
        out = out.repartitionByRange(num_partitions, F.col(name))
    else:
        out = out.repartitionByRange(F.col(name))
    out = out.sortWithinPartitions(name)
    return out if key_col else out.drop(name)
