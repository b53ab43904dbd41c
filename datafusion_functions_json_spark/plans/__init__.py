"""Plan inspection helpers — the Spark analog of the reference's
plan-shape test utilities (reference: tests/utils/mod.rs:283-288 captures
EXPLAIN output for assertions). Used by our tests and by users checking
that pushdown/codegen happened."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame

__all__ = [
    "explain_str",
    "arrow_eval_count",
    "has_pushed_filter",
    "needs_spread",
    "plan_size_bytes",
    "wholestage_codegen_spans",
]


def needs_spread(df: DataFrame, par: int, split_bytes: int = 128 << 20) -> bool:
    """Would ``df`` execute with fewer partitions than ``par``? The
    gate behind every operator-level spread repartition.

    Round-17 optimization: the direct probe (``df.rdd
    .getNumPartitions()``) converts the whole plan to an RDD through
    py4j — measured 130-240 ms per FRESH DataFrame, paid at build time
    by every eager operator (minhash/simhash/knn/semantic classes). The
    cheap cascade answers the same question in ~5-15 ms for the shapes
    that actually occur:

    1. A plan already containing a ``Repartition`` was parallelized
       deliberately (our loaders' spread, or the caller's own) — leave
       it alone.
    2. The optimizer's free ``sizeInBytes`` statistic: a scan of S
       bytes splits into ~``S / maxPartitionBytes`` tasks, so
       ``S < par * split_bytes`` means fewer than ``par`` partitions
       (and conversely). An estimate on both sides of the SAME
       division, so tiny inputs spread and genuinely large scans are
       left to their input splits, exactly like the RDD probe.
    3. Stats unknown → the internal-RDD probe (no Python serializer
       wrapping; ~half the cost of ``df.rdd``).

    Under Spark Connect (no ``_jdf``) this returns False: injecting a
    surprise full-corpus shuffle at 100 TB is the one catastrophic
    wrong answer, and real deployments get parallelism from input
    splits anyway."""
    try:
        analyzed = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return False
    if "Repartition" in analyzed:
        return False
    sz = plan_size_bytes(df)
    if sz is not None:
        return sz < par * split_bytes
    try:
        return (
            df._jdf.queryExecution().toRdd().getNumPartitions() < par
        )
    except Exception:  # pragma: no cover - defensive
        return False


def explain_str(df: DataFrame, mode: str = "simple") -> str:
    """EXPLAIN output as a string (simple mode lists each node once)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        if mode == "simple":
            df.explain()
        else:
            df.explain(mode)
    return buf.getvalue()


def plan_size_bytes(df: DataFrame):
    """The optimizer's ``sizeInBytes`` estimate for ``df`` — free (no
    action; file sources report summed file size). This is the shared
    input-size statistic behind ``cosine_topk(impl='auto')``.

    Returns ``None`` when the JVM plan stats are unreachable — notably
    under **Spark Connect**, where ``df._jdf`` does not exist. Callers
    MUST treat ``None`` as "large/unknown" and take their conservative
    tier: the large-input code path is never catastrophically wrong on
    small inputs, the reverse is."""
    try:
        sz = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None
    # Long.MaxValue is Catalyst's "statistics unknown" sentinel (e.g.
    # some local relations) — report it as unknown, not as a real size
    return None if sz >= (1 << 63) - 1 else sz


def arrow_eval_count(df: DataFrame) -> int:
    """Number of ArrowEvalPython nodes — each is one JVM→Python round
    trip per batch. Our eager call un-nesting exists to keep this at 1
    for chained JSON lookups."""
    return explain_str(df).count("ArrowEvalPython")


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if the scan's PushedFilters contains ``fragment``."""
    plan = explain_str(df)
    for line in plan.splitlines():
        if "PushedFilters" in line and fragment in line:
            return True
    return False


def wholestage_codegen_spans(df: DataFrame) -> int:
    """Count of WholeStageCodegen spans (``*(n)`` markers)."""
    import re

    return len(set(re.findall(r"\*\((\d+)\)", explain_str(df))))
