"""The JSON "union" value type — Spark representation.

The reference models dynamically-typed JSON values as an Arrow sparse union
of 7 members (reference: src/common_union.rs:78-205). Arrow unions don't
round-trip through shuffles or Parquet (the reference grew
``json_union_to_text`` precisely because Parquet rejects unions —
reference: src/json_union_to_text.rs:25-27), so the Spark-native
representation is a tagged struct (SURVEY.md §7.2):

    STRUCT<type_id TINYINT, bool BOOLEAN, int BIGINT, float DOUBLE,
           str STRING, array STRING, object STRING>

type_id values match the reference's union type-id constants (reference:
src/common_union.rs:176-182). The null arm (JSON null AND lookup-miss —
both collapse, reference: src/common_union.rs:53) is a WHOLE-STRUCT NULL
on every surface and tier, so that ``IS NULL`` behaves like the
reference's union-null (reference: tests/main.rs:1612-1729), matching the
dictionary null-masking intent of src/common.rs:587-598. A struct built
by hand may still carry ``type_id = 0``; every consumer here treats such
a row as the null arm.

This struct round-trips through Parquet, shuffles, and Arrow batches in
every Spark version — no custom datasource or Catalyst type needed.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import types as T

__all__ = [
    "UNION_SCHEMA",
    "UNION_DDL",
    "TYPE_ID_NULL",
    "TYPE_ID_BOOL",
    "TYPE_ID_INT",
    "TYPE_ID_FLOAT",
    "TYPE_ID_STR",
    "TYPE_ID_ARRAY",
    "TYPE_ID_OBJECT",
    "json_is_null",
    "format_union_value",
]

TYPE_ID_NULL = 0
TYPE_ID_BOOL = 1
TYPE_ID_INT = 2
TYPE_ID_FLOAT = 3
TYPE_ID_STR = 4
TYPE_ID_ARRAY = 5
TYPE_ID_OBJECT = 6

# the one declaration of the layout; member order and names follow the
# reference's sparse-union members (reference: src/common_union.rs:184-205)
UNION_SCHEMA = T.StructType(
    [
        T.StructField("type_id", T.ByteType()),
        T.StructField("bool", T.BooleanType()),
        T.StructField("int", T.LongType()),
        T.StructField("float", T.DoubleType()),
        T.StructField("str", T.StringType()),
        T.StructField("array", T.StringType()),
        T.StructField("object", T.StringType()),
    ]
)

UNION_DDL = UNION_SCHEMA.simpleString()


def json_is_null(u: Column) -> Column:
    """True when the union value is the null arm (JSON null or lookup
    miss) — the reference's ``IS NULL`` semantics on the union
    (reference: tests/main.rs:1612-1729)."""
    return u.isNull() | u.getField("type_id").isNull() | (u.getField("type_id") == TYPE_ID_NULL)


def format_union_value(row) -> str:
    """Display formatter mirroring the reference test harness's union
    rendering: ``{str=abc}``, ``{int=1}``, ``{null=}`` … (reference:
    tests/main.rs golden tables). For tests/debugging only — not engine
    behavior."""
    if row is None:
        return "{null=}"
    tid = row["type_id"]
    if tid is None or tid == TYPE_ID_NULL:
        return "{null=}"
    if tid == TYPE_ID_BOOL:
        return "{bool=%s}" % ("true" if row["bool"] else "false")
    if tid == TYPE_ID_INT:
        return "{int=%d}" % row["int"]
    if tid == TYPE_ID_FLOAT:
        v = float(row["float"])
        if v != v:
            return "{float=NaN}"  # Rust Display casing
        if v in (float("inf"), float("-inf")):
            return "{float=%sinf}" % ("-" if v < 0 else "")
        return "{float=%s}" % (int(v) if v.is_integer() else v)
    if tid == TYPE_ID_STR:
        return "{str=%s}" % row["str"]
    if tid == TYPE_ID_ARRAY:
        return "{array=%s}" % row["array"]
    if tid == TYPE_ID_OBJECT:
        return "{object=%s}" % row["object"]
    return "{null=}"
