"""The shared testdata's tables, session defaults and the pipeline's
sinks, over Spark's own readers and writers.

* :func:`load_table` reads one testdata table, its TIMESTAMP(NANOS)
  columns as timestamps, optionally spread over the cores;
* :data:`SCALE_CONF` / :func:`session_defaults` are the session
  settings the driver entries and tools start with;
* :func:`write_bucketed`, :func:`write_training_shards` and
  :func:`compact_parquet` are the pipeline's sinks.

The JSON engine keeps only its own sink,
:func:`datafusion_functions_json_spark.sources.write_partitioned`, which
:func:`write_training_shards` writes through.

Scale notes:

* Reads stay declarative (``spark.read.parquet``) so Catalyst performs
  predicate pushdown, column pruning, and partition pruning — never
  pre-collect or materialize.
* ``spark.sql.files.maxPartitionBytes`` default (128 MB) gives ~800k
  input splits at 100 TB — fine for a 1000-executor cluster; we leave it
  alone and instead make sure per-row work is bounded (no whole-table
  collects anywhere in this module).
* AQE is enabled in :func:`session_defaults` so shuffle partition counts
  re-plan at runtime (skew joins, empty-partition coalescing).
"""

from __future__ import annotations

import os
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_functions_json_spark.sources import (
    _norm_partition_by,
    write_partitioned,
)

__all__ = [
    "TABLES",
    "SCALE_CONF",
    "session_defaults",
    "load_table",
    "write_bucketed",
    "write_training_shards",
    "compact_parquet",
]

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Columns stored as parquet TIMESTAMP(NANOS) in the shared testdata.
# Spark 4 refuses nanos timestamps unless the legacy conf maps them to
# BIGINT nanoseconds; we normalize them back to TIMESTAMP (microsecond
# precision) so date semantics stay first-class.
_NANOS_TS_COLS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}

SCALE_CONF = {
    # runtime re-planning: coalesce small shuffle partitions, split skewed
    # joins — the difference between sf0.1 and 100 TB is mostly here
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow path for pandas UDFs and createDataFrame
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # bigger Arrow batches amortize per-batch pandas/IPC overhead in the
    # JSON kernels (default 10k; our rows are small strings)
    "spark.sql.execution.arrow.maxRecordsPerBatch": "50000",
    # testdata uses TIMESTAMP(NANOS)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def session_defaults(builder):
    """Apply scale-aware defaults to a SparkSession.Builder."""
    for k, v in SCALE_CONF.items():
        builder = builder.config(k, v)
    return builder


def _ensure_nanos_conf(spark: SparkSession) -> None:
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # timestamps in the shared testdata are naive; pin the session tz
        # so collected values match the (naive) duckdb oracle under any
        # host configuration
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:  # pragma: no cover - conf may be locked; reads may still work
        pass


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    *,
    nanos_as_timestamp: bool = True,
    spread: bool | str = False,
) -> DataFrame:
    """Load one testdata table.

    ``spread="auto"`` applies the spread only when the table's file size
    clears ``SPARK_GRAFT_SPREAD_MIN_BYTES`` (default 6 MB) — the
    break-even for LIGHT per-row kernels, below which the exchange
    costs more than the parallelism buys (see inline note).

    ``nanos_as_timestamp=True`` converts BIGINT-nanosecond columns (how
    Spark reads the testdata's TIMESTAMP(NANOS) under the legacy conf)
    to proper TIMESTAMP columns, truncated to microseconds.

    ``spread=True`` repartitions to the default parallelism when the
    scan produces fewer partitions than cores. Parquet is splittable
    only at ROW-GROUP boundaries; the shared testdata ships one row
    group per file, which would serialize every downstream per-row map
    into a single task. On a real multi-split 100 TB layout this branch
    never fires — it is behavior-gated, not a local hack.

    The fan-out hash-partitions on the table's leading key column
    rather than round-robin: a deterministic row→partition mapping is
    retry-safe at scale AND skips the expensive binary row sort Spark
    prepends to round-robin repartition for exactly that determinism
    (``spark.sql.execution.sortBeforeRepartition`` — measured ~0.5 s of
    the ~0.7 s single-writer shuffle cost on a 600 k-row spread).
    Only use ``spread`` for per-row-heavy downstream work (UDF kernels,
    regex scoring); pure Catalyst aggregations are cheaper unspread —
    partial aggregation already collapses the single scan task's output.
    """
    _ensure_nanos_conf(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if nanos_as_timestamp:
        for c in _NANOS_TS_COLS.get(name, ()):
            if c in df.columns and dict(df.dtypes)[c] == "bigint":
                # integer `div`, NOT (col/1000).cast: double division
                # loses precision above 2^53 (a double's ulp at ~1.7e18
                # epoch-ns is 256 ns — enough to flip a microsecond
                # truncation boundary and silently shift a timestamp
                # 1 us off the oracle's exact ns->us truncation)
                df = df.withColumn(
                    c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
                )
    if spread == "auto":
        # Size-gated spread (optimization round 17, guide §2.4): the
        # spread exchange only pays when the downstream per-row work it
        # parallelizes exceeds the exchange's own cost. For LIGHT
        # per-row work (single JSON-getter kernels at ~1.4 M rows/s per
        # core) that break-even sits at a few MB of input — below it
        # the exchange is pure overhead (sf0.1 events, 2 MB: json_get
        # _int measured 0.64 s spread vs 0.42 s unspread, same window).
        # Above the threshold this is exactly spread=True. Heavy
        # kernels (fused multi-extract, minhash signatures) should keep
        # spread=True: their break-even is far smaller than any real
        # input (sf0.1 lineitem multi_extract: 1.3 s spread vs 5.8 s
        # unspread). Threshold env-tunable, scale-independent (bytes,
        # not cores), so lower-core bench runs see the same plan.
        sz = _input_bytes(f"{sf_dir}/{name}.parquet")
        spread = sz is None or sz >= int(
            os.environ.get("SPARK_GRAFT_SPREAD_MIN_BYTES", str(6 << 20))
        )
    task_bytes = None
    if spread == "kernel":
        # Byte-derived spread WIDTH (optimization round 18, guide §2.2
        # "fewer, larger partitions" / §2 "derive partitioning from
        # input size"): for downstream work that is a dict-shortcut-able
        # Python kernel (functions/kernels._dict_encode collapses
        # repetitive batches; worst-case per-task cost is bounded by the
        # task's BYTES), fanning a small input out to every core costs
        # more in exchange + per-task Python-hop overhead than the
        # parallelism buys — measured at sf0.1: nested_get_str 0.88 s at
        # width 32 vs 0.60 s at width 8 (same window, min-of-6). Width =
        # ceil(bytes / SPARK_GRAFT_SPREAD_TASK_BYTES), capped at
        # defaultParallelism — inputs above cores×task_bytes (any real
        # production input; sf1 already) get exactly the full-width
        # spread as before, so this is scale-adaptive, not a local[32]
        # tune. NOT for per-row-heavy JVM expressions: they cannot
        # dedup and need all cores even on tiny inputs (measured 0.75 s
        # at 32 vs 3.6 s unspread on sf0.1 lineitem).
        task_bytes = int(
            os.environ.get("SPARK_GRAFT_SPREAD_TASK_BYTES", str(2 << 20))
        )
        spread = True
    elif spread == "text":
        # Same byte-derived width for TEXT-SIGNATURE work (minhash /
        # simhash builds): per-byte cost is ~20x the JSON kernels'
        # (measured ~0.5 us/byte single-thread for tokenize+signature
        # vs ~25 ns/byte for a dict-shortcut JSON batch), so the
        # per-task target is proportionally smaller. Width sweep at
        # sf0.1 (cold, min-of-5): minhash_pairs 1.113 s at width 32 vs
        # 0.770-0.794 s at width 4-8; simhash_pairs 0.767 vs 0.700 at
        # width 8 (and 1.457 at width 1 — too narrow loses; the byte
        # derivation lands in the measured optimum). Same cap at
        # defaultParallelism: sf1+ documents clear cores x task-bytes
        # and spread at full width exactly as before.
        task_bytes = int(
            os.environ.get("SPARK_GRAFT_TEXT_SPREAD_TASK_BYTES", str(128 << 10))
        )
        spread = True
    if spread:
        par = spark.sparkContext.defaultParallelism
        # partition-count ESTIMATE from file bytes (round-17): the
        # exact probe (df.rdd.getNumPartitions()) converts the plan to
        # an RDD through py4j — measured 40-70 ms of driver time per
        # load. A parquet scan of S bytes splits into ~S /
        # maxPartitionBytes tasks, so the comparison below asks the
        # same question for a single os.path.getsize call. Estimate
        # error only matters within one split-size of the boundary,
        # where spread-vs-not is immaterial anyway.
        try:
            split = _parse_bytes(
                spark.conf.get(
                    "spark.sql.files.maxPartitionBytes", "134217728"
                )
            )
        except Exception:
            split = 128 << 20
        sz = _input_bytes(f"{sf_dir}/{name}.parquet")
        width = par
        if task_bytes and sz is not None:
            width = max(1, min(par, (sz + task_bytes - 1) // task_bytes))
        if sz is None or (sz + split - 1) // split < width:
            df = df.repartition(width, F.col(df.columns[0]))
    return df


def _parse_bytes(v: str) -> int:
    """Parse a Spark byte-size conf value ('134217728', '128m', '1g')."""
    v = str(v).strip().lower()
    mult = 1
    for suf, m in (
        ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40)
    ):
        if v.endswith(suf + "b"):
            v, mult = v[:-2], m
            break
        if v.endswith(suf):
            v, mult = v[:-1], m
            break
    if v.endswith("b"):
        v = v[:-1]
    return int(float(v)) * mult


def _input_bytes(path: str):
    """Total bytes of a parquet file or directory of parts; None when
    unreadable (remote filesystems) — callers treat None as 'small'
    and keep the spread, the conservative choice for a single file."""
    try:
        if os.path.isdir(path):
            total = 0
            for root, _dirs, files in os.walk(path):
                for f in files:
                    if not f.startswith(("_", ".")):
                        total += os.path.getsize(os.path.join(root, f))
            return total
        return os.path.getsize(path)
    except OSError:
        return None


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_by: Sequence[str],
    num_buckets: int,
    sort_by: Sequence[str] = (),
    mode: str = "overwrite",
) -> None:
    """Bucketed table write (saveAsTable — bucketing needs the catalog).

    Co-locates future joins/aggregations on ``bucket_by``: two tables
    bucketed the same way join with ZERO shuffle. The right call for
    repeatedly-joined 100 TB fact tables (e.g. documents bucketed by
    doc_id joined against minhash pair output)."""
    writer = (
        df.write.mode(mode)
        .bucketBy(num_buckets, *bucket_by)
    )
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)



def write_training_shards(
    packed: DataFrame,
    path: str,
    *,
    partition_by: Sequence[str] = ("split", "shard"),
    order_by: Sequence[str] = ("batch_id",),
    target_file_rows: Optional[int] = None,
    mode: str = "overwrite",
) -> None:
    """Write a packed training set (the output of
    ``operators.split.pack_batches`` / ``pack_positions`` /
    ``pipeline.training_prep``) as trainer-ready shards:

    * one directory per ``partition_by`` combo (split purity on disk —
      a train loader never lists val files);
    * ONE write task per partition via ``repartition(partition_by)``
      (without it, every upstream task writes a sliver into every
      directory — the small-files disaster squared);
    * rows sorted by ``order_by`` *within* each file
      (``sortWithinPartitions``), so a sequential reader sees batches
      in order without a shuffle at training time;
    * ``target_file_rows`` rolls files via ``maxRecordsPerFile``.

    Shard counts bound the repartition width; at 100 TB raise
    ``shards`` upstream rather than files-per-shard here."""
    partition_by = _norm_partition_by(partition_by)
    if isinstance(order_by, str):
        order_by = (order_by,)
    cols = set(packed.columns)
    missing = [c for c in (*partition_by, *order_by) if c not in cols]
    if missing:
        raise ValueError(f"packed output lacks columns: {missing}")
    out = packed.repartition(*[F.col(c) for c in partition_by])
    out = out.sortWithinPartitions(
        *[F.col(c) for c in (*partition_by, *order_by)]
    )
    write_partitioned(
        out,
        path,
        partition_by=tuple(partition_by),
        target_file_rows=target_file_rows,
        mode=mode,
    )



def compact_parquet(
    spark,
    path: str,
    *,
    target_file_bytes: int = 256 * 1024 * 1024,
    min_files: int = 2,
) -> dict:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_file_bytes)`` files — the maintenance
    pass every long-lived ingest target needs (streaming sinks, hourly
    appends, and CDC merges all accrete small files, and at 100 TB the
    per-file open/footer cost dominates scans long before data volume
    does).

    Sizing comes from FILE METADATA (a directory walk summing on-disk
    parquet sizes), not a data pass; the rewrite itself is
    one coalesce-shaped job into a staging directory which then
    replaces the input via a two-rename swap (same driver-mounted
    filesystem contract as :func:`~.streaming.upsert_sink`). The swap
    is NOT one atomic operation: readers racing the swap can see a
    brief missing-directory window, and a crash between the two renames
    leaves the data in ``<path>.precompact`` — the next
    ``compact_parquet`` call detects that exact state and RESTORES it
    before proceeding (a backup alongside an intact ``path`` from some
    earlier failed cleanup is removed as stale). Skips and reports when
    the directory already has fewer than ``min_files`` files.

    Hive-partitioned layouts (``key=value`` subdirectories) are
    REFUSED: a flat rewrite would silently destroy the partition
    columns and downstream pruning — compact each leaf partition
    directory instead.

    Returns ``{"files_before", "files_after", "bytes", "compacted"}``.
    """
    import math
    import os
    import re
    import shutil

    backup = path.rstrip("/") + ".precompact"
    if os.path.isdir(backup):
        if not os.path.isdir(path):
            # crash window between the two renames: the previous run
            # moved path aside but died before promoting staging —
            # restore, then compact normally
            os.rename(backup, path)
        else:
            # path is intact, so the backup is a stale leftover from a
            # crash AFTER promotion but before cleanup
            shutil.rmtree(backup, ignore_errors=True)
    total = 0
    n_files = 0
    for root, dirs, files in os.walk(path):
        for d in dirs:
            if re.fullmatch(r"[^=/]+=[^/]*", d):
                raise ValueError(
                    f"{path} is Hive-partitioned ({d}/ under {root}); a "
                    "flat compaction would silently drop the partition "
                    "layout and its pruning — compact each leaf "
                    "partition directory instead"
                )
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
                n_files += 1
    if n_files < min_files:
        return {
            "files_before": n_files,
            "files_after": n_files,
            "bytes": total,
            "compacted": False,
        }
    n_out = max(1, math.ceil(total / target_file_bytes))
    staging = path.rstrip("/") + ".compacting"
    # repartition, not coalesce: coalesce(1) would also collapse the
    # UPSTREAM read parallelism into one task; repartition keeps the
    # scan wide and only narrows the write
    spark.read.parquet(path).repartition(n_out).write.mode(
        "overwrite"
    ).parquet(staging)
    os.rename(path, backup)
    try:
        os.rename(staging, path)
    except OSError:
        os.rename(backup, path)  # restore on failure
        raise
    shutil.rmtree(backup, ignore_errors=True)
    out_files = sum(
        1
        for _r, _d, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    return {
        "files_before": n_files,
        "files_after": out_files,
        "bytes": total,
        "compacted": True,
    }
