"""The engine's one sink, :func:`write_partitioned`.

The reference has no scans or sinks of its own: it registers in-memory
Arrow batches (reference: tests/utils/mod.rs:69-81) and inherits IO from
the host engine. This package inherits Spark's readers and writers the
same way; its union struct writes to Parquet as it is (the reference's
``json_union_to_text`` exists because Arrow unions cannot,
src/json_union_to_text.rs:25-27). The testdata loaders and the
pipeline's sinks live in :mod:`spark_pipeline_ops.sources`.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame

__all__ = ["write_partitioned"]


def _norm_partition_by(partition_by) -> tuple:
    """str -> (str,): a bare column name must not iterate char-by-char
    into partitionBy('s','p','l','i','t')."""
    if isinstance(partition_by, str):
        return (partition_by,)
    return tuple(partition_by)


def write_partitioned(
    df: DataFrame,
    path: str,
    *,
    partition_by: Sequence[str] = (),
    target_file_rows: Optional[int] = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Write ``df`` to ``path`` in ``fmt``, one directory per value of
    ``partition_by``.

    It writes as the frame is partitioned: each upstream task writes one
    file into every partition directory whose value it holds, so a write
    of T tasks over V values makes up to T x V files. Repartition by the
    partition columns first to get one file per value. ``partition_by``
    should name LOW-cardinality columns (date, language, source): every
    distinct combination becomes a directory. ``target_file_rows`` caps
    the rows of one file through the writer's ``maxRecordsPerFile``
    option, which rolls to a new file at the cap with no extra pass over
    the input.
    """
    partition_by = _norm_partition_by(partition_by)
    writer = df.write.mode(mode).format(fmt)
    if target_file_rows:
        writer = writer.option("maxRecordsPerFile", int(target_file_rows))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)
