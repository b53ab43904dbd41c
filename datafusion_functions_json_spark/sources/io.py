"""Parquet loading for the shared testdata + scale-aware session defaults.

Scale notes (100 TB design):

* Reads stay declarative (``spark.read.parquet``) so Catalyst performs
  predicate pushdown, column pruning, and partition pruning — never
  pre-collect or materialize.
* ``spark.sql.files.maxPartitionBytes`` default (128 MB) gives ~800k
  input splits at 100 TB — fine for a 1000-executor cluster; we leave it
  alone and instead make sure per-row work is bounded (no whole-table
  collects anywhere in this package).
* AQE is enabled in :func:`session_defaults` so shuffle partition counts
  re-plan at runtime (skew joins, empty-partition coalescing).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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
    from pyspark.sql import functions as F

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


def load_tables(spark: SparkSession, sf_dir: str, names=TABLES) -> dict:
    return {n: load_table(spark, sf_dir, n) for n in names}


def read_jsonl(
    spark: SparkSession, path: str, schema=None, *, keep_corrupt: bool = False
) -> DataFrame:
    """NDJSON reader (the host-engine format DataFusion also ingests;
    the reference inherits IO from its host the same way we inherit
    Spark's). Pass an explicit ``schema`` in production: schema
    inference is a FULL extra pass over the data at 100 TB. Fields that
    hold JSON documents must be JSON-*encoded strings* in the NDJSON
    (`"props": "{\\"k\\": 1}"`) — our functions parse them from there;
    a raw nested object would need a struct schema instead.

    Malformed-line handling (PERMISSIVE mode): Spark quarantines bad
    lines into ``_corrupt_record`` ONLY when that column exists in the
    schema — with an explicit schema lacking it (or an inferred schema
    over clean sample data), malformed rows silently become all-NULL
    records. ``keep_corrupt=True`` appends the column to your schema so
    the quarantine contract actually holds; audit
    ``df.filter("_corrupt_record is not null")`` afterwards."""
    r = spark.read
    if schema is not None:
        if keep_corrupt:
            from pyspark.sql import types as T

            if isinstance(schema, str):
                # parse the DDL so the presence check is an exact
                # field-name match — a substring test would be fooled
                # by an unrelated column like `my_corrupt_record`
                schema = T._parse_datatype_string(schema)
            if "_corrupt_record" not in schema.fieldNames():
                schema = schema.add("_corrupt_record", T.StringType())
        r = r.schema(schema)
    elif keep_corrupt:
        raise ValueError(
            "keep_corrupt requires an explicit schema (inference only "
            "adds _corrupt_record when the sampled data already has "
            "malformed lines)"
        )
    return r.json(path)


def read_csv(
    spark: SparkSession, path: str, schema=None, *, header: bool = True
) -> DataFrame:
    """CSV reader with the same explicit-schema guidance as
    :func:`read_jsonl` (inference = extra full pass)."""
    r = spark.read.option("header", str(header).lower())
    if schema is not None:
        r = r.schema(schema)
    else:
        r = r.option("inferSchema", "true")
    return r.csv(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC reader (built into Spark, columnar like parquet: schema in
    the footer, predicate pushdown + column pruning + stripe-level
    min/max pruning all apply). Same scan characteristics at 100 TB as
    the parquet path; JSON document columns are plain strings and every
    function here works on them unchanged."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    *,
    partition_by=None,
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
) -> None:
    """ORC writer mirroring the parquet sink contract: optional hive
    partitioning and ``maxRecordsPerFile`` small-file control (writer
    rolls files — NO extra count pass over the input)."""
    w = df.write.mode(mode)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", int(max_records_per_file))
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        w = w.partitionBy(*cols)
    w.orc(path)
