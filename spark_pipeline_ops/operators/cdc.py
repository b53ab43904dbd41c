"""Incremental-ingestion operators: MERGE upsert, CDC-log compaction,
SCD2 history, and snapshot diff.

A 100 TB training corpus is not rebuilt from scratch per run — it is
maintained: nightly crawl deltas merge into the canonical table, a CDC
feed (insert/update/delete events) compacts into current state, slowly
changing metadata (license, domain labels, quality tier) needs point-in-
time history, and every refresh wants a cheap "what changed" report.
Spark has no built-in MERGE on plain parquet frames (that lives in table
formats); these operators express the same semantics as pure DataFrame
plans so they run on anything Spark can read.

All pure Catalyst — no UDF, no collect, no cross product:

- ``merge_upsert``: one left-anti hash join (target rows whose key has
  no incoming row survive) + one union. Both sides hash-partition on
  the merge key; at scale this is the standard copy-on-write shape and
  AQE handles a skewed key.
- ``apply_cdc_log``: latest-event-per-key via ``row_number`` over the
  (key) partition ordered by the sequence column DESC — one exchange,
  with the ``WindowGroupLimit`` partial top-1 pushdown — then the same
  merge. Deletes drop, upserts replace.
- ``scd2_history``: ``lead(eff)`` over the (key, eff) window converts an
  attribute change log into ``[valid_from, valid_to)`` intervals with an
  ``is_current`` flag — one exchange on the key.
- ``snapshot_diff``: full-outer sort-merge join on the key with
  null-safe column compares (``<=>``) — no hashing detour, column
  pruning reaches both scans when callers select before diffing.

Reference scope note: the reference engine (datafusion-functions-json)
has no relational operators of its own — this module belongs to the
LLM-pipeline extension suite (spark_pipeline_ops), built on the
inherited relational surface (SURVEY §2.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "merge_upsert",
    "apply_cdc_log",
    "scd2_history",
    "snapshot_diff",
]


def _keylist(keys) -> list:
    return [keys] if isinstance(keys, str) else list(keys)


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys,
    *,
    delete_col: str | None = None,
) -> DataFrame:
    """SQL ``MERGE`` semantics on plain DataFrames: rows of ``target``
    whose key appears in ``source`` are REPLACED by the source row
    (whole-row update), keys absent from ``target`` are INSERTED, and —
    when ``delete_col`` names a boolean source column — source rows
    flagged true DELETE the key instead of upserting it.

    ``source`` must be key-unique (SQL MERGE raises on multiple matches;
    compact a log first with :func:`apply_cdc_log`). Both frames must
    share the non-``delete_col`` schema.

    Plan shape: ``target ⟕̸ source.keys`` (left-anti) ∪ surviving source
    rows — one hash exchange per side on the merge key, no window, no
    Python. This is the copy-on-write MERGE kernel of the table formats
    expressed as a plan; writers pair it with a partitioned sink.
    """
    ks = _keylist(keys)
    survivors = target.join(source.select(*ks), ks, "left_anti")
    incoming = source
    if delete_col is not None:
        incoming = incoming.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
    return survivors.unionByName(incoming)


def apply_cdc_log(
    target: DataFrame,
    log: DataFrame,
    keys,
    *,
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Compact a CDC event log (each row: key columns, payload columns,
    ``op_col`` ∈ {insert/update/…, ``delete_op``}, monotonically
    increasing ``seq_col``) to its LATEST event per key, then merge the
    result into ``target``: last op ``delete_op`` removes the key, any
    other last op upserts the payload.

    ``(key, seq_col)`` must be unique — with ties the surviving event
    would be nondeterministic, so make the sequence total (log offset,
    LSN). The compaction is ``row_number()`` ordered by ``seq_col``
    DESC filtered to 1: Spark pushes a partial per-partition top-1
    (``WindowGroupLimit``) below the key exchange, so the shuffle moves
    one event per key per map partition, not the whole log.
    """
    ks = _keylist(keys)
    w = Window.partitionBy(*ks).orderBy(F.col(seq_col).desc())
    latest = (
        log.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", seq_col)
    )
    return merge_upsert(
        target,
        latest.withColumn(
            "_del", F.col(op_col) == F.lit(delete_op)
        ).drop(op_col),
        ks,
        delete_col="_del",
    )


def scd2_history(
    changes: DataFrame,
    keys,
    eff_col: str,
    *,
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    current_col: str = "is_current",
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from an attribute change
    log: every input row (new attribute values for ``keys`` effective at
    ``eff_col``) becomes an interval row — ``valid_from`` = its
    effective time, ``valid_to`` = the key's NEXT change (exclusive
    bound; NULL while open), ``is_current`` on the open row.

    ``(key, eff_col)`` must be unique (two changes at one instant have
    no defined order). One exchange on the key; ``lead`` rides the same
    window sort. Point-in-time lookup is then a plain range predicate
    (``valid_from <= t AND (valid_to IS NULL OR t < valid_to)``) —
    pair with :func:`~.joins.asof_join` when enriching a fact stream.
    """
    ks = _keylist(keys)
    w = Window.partitionBy(*ks).orderBy(F.col(eff_col).asc())
    out = (
        changes.withColumn(valid_from_col, F.col(eff_col))
        .withColumn(valid_to_col, F.lead(eff_col).over(w))
        .withColumn(current_col, F.col(valid_to_col).isNull())
    )
    if valid_from_col != eff_col:
        # (guarded: with valid_from_col == eff_col the rename is the
        # output itself — dropping would erase it)
        out = out.drop(eff_col)
    return out


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys,
    *,
    compare_cols=None,
    change_col: str = "change",
    include_unchanged: bool = False,
) -> DataFrame:
    """Classify every key across two corpus snapshots as ``added``
    (key only in ``new``), ``removed`` (only in ``old``), ``changed``
    (both, some compared column differs), or ``unchanged``.

    ``compare_cols`` defaults to all shared non-key columns; comparison
    is null-safe (``<=>`` — NULL vs NULL is equal, NULL vs value is a
    change). Returns the key columns + ``change_col``; pass
    ``include_unchanged=True`` to keep the (typically dominant)
    unchanged class — the default drops it so the result stays
    delta-sized at 100 TB.

    Plan: one full-outer sort-merge join on the key and inline column
    equality — no content hashing, so column pruning limits both scans
    to ``keys + compare_cols``. Side presence is detected with a
    non-null literal tag per side, NOT key-column nullness (a null
    payload column must not masquerade as a missing row).
    """
    ks = _keylist(keys)
    if compare_cols is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare_cols = [c for c in shared if c not in set(ks)]
    o = old.select(*ks, *compare_cols, F.lit(1).alias("_in_old"))
    n = new.select(*ks, *compare_cols, F.lit(1).alias("_in_new"))
    j = o.alias("o").join(n.alias("n"), ks, "full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
    cls = (
        F.when(F.col("o._in_old").isNull(), F.lit("added"))
        .when(F.col("n._in_new").isNull(), F.lit("removed"))
        .when(~same, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = j.select(*ks, cls.alias(change_col))
    if not include_unchanged:
        out = out.filter(F.col(change_col) != "unchanged")
    return out
