"""SQL-surface registration — the Spark analog of the reference's
``register_all`` (reference: src/lib.rs:69-96): 13 functions + the 3
aliases (``json_len``, ``json_keys``, ``scalar_to_json``).

Spark SQL has no ``->``/``->>``/``?`` operators and PySpark has no parser
hooks (SURVEY.md §2.2), so SQL users call the named functions:

    SELECT json_get_str(props, 'k'), count(*)
    FROM events WHERE json_contains(props, 'k') GROUP BY 1

This module installs the SQL names of ``signatures.SQL_NAMES``; it runs
on the driver. With the JVM exact tier loaded, every name is a function
builder of the tier
(:func:`.functions.jvm_tier.register_all`, one py4j call): it reads the
argument types when the query is analyzed and raises the reference's
argument errors there — an untyped NULL or a non-string/int path
argument (reference: tests/main.rs:291-298), >1 path element with a
non-literal argument ("More than 1 path element is not supported when
querying JSON using an array.", reference: src/common.rs:129-133), and
``json_contains`` without a path (reference: src/json_contains.rs:43-49).

Without the tier (Spark Connect, no JDK, a failed build) every name is
the Arrow UDF :mod:`.functions.udfs` builds for the function — the body
the Python API runs too; that module and pyarrow are imported then, and
only then. Those UDFs check their arguments by the same rules per Arrow
batch (``udfs._check_path_args``) and raise them as PythonException at
execution, with one delta inherent to a per-batch check (documented,
SURVEY.md §7.4): a path *column* that is constant, or NULL throughout,
within every Arrow batch is indistinguishable from a literal, so the
>1-path-element error can miss it (a column that varies within a batch
is always caught); a NULL element gives NULL, as a typed NULL literal
does.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .functions import jvm_tier
from .functions.signatures import SQL_NAMES

__all__ = ["register_all"]


def register_all(
    spark: SparkSession,
    *,
    auto_tier: bool = False,
    json_profile=None,
) -> None:
    """Register every JSON function for the SQL surface (reference:
    src/lib.rs:69-96 — aliases included).

    Each name has one implementation: the JVM exact tier's builder for
    every call when the tier's jar loads, else the Python kernels' Arrow
    UDF. ``json_get_str_exact`` and the other seven ``<name>_exact``
    names are aliases of their canonical names.

    ``auto_tier`` and ``json_profile`` are accepted and ignored, so
    existing callers keep working.
    """
    if jvm_tier.register_all(spark, SQL_NAMES):
        return
    from .functions import udfs

    for name, fn in SQL_NAMES.items():
        spark.udf.register(name, udfs.sql_udf(fn))
