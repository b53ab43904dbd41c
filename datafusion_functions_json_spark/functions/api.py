"""Public Column-returning JSON functions — the 13-function surface of the
reference (reference: src/lib.rs:69-96), Spark-first.

Each function accepts the JSON argument as a column name, a ``Column`` of
JSON text, or a :class:`~datafusion_functions_json_spark.column.JsonColumn`
(a prior ``json_get`` result — nested lookups continue through the union's
container members, reference: src/common_union.rs:49-57), plus a variadic
path of string keys / int indexes (reference: src/common.rs:71-97).

Validation mirrors the reference's plan-time errors:

* a literal NULL path element raises immediately with the reference's
  message (reference: tests/main.rs:291-298);
* more than one path element where any is a Column raises the reference's
  exec error (reference: src/common.rs:129-133).

Eager rewrites (the reference's optimizer passes, reimplemented at
expression-construction time because PySpark exposes no planner hooks —
SURVEY.md §2.3):

* **cast elision** lives on ``JsonColumn.cast`` (reference:
  src/rewrite.rs:36-54);
* **call un-nesting** lives on ``JsonColumn.__getitem__`` / the JSON-arg
  coercion here (reference: src/rewrite.rs:57-91).
"""

from __future__ import annotations

from typing import Union

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import union as union_mod
from . import jvm_tier, udfs

__all__ = [
    "json_get",
    "json_get_str",
    "json_get_int",
    "json_get_float",
    "json_get_bool",
    "json_get_json",
    "json_get_array",
    "json_as_text",
    "json_contains",
    "json_length",
    "json_len",
    "json_object_keys",
    "json_keys",
    "json_from_scalar",
    "scalar_to_json",
    "json_union_to_text",
    "json_is_null",
]

JsonInput = Union[str, Column]


def _is_column(x) -> bool:
    return isinstance(x, Column)


def _validate_path(fn_name: str, path: tuple):
    """Split a path into (literal_tuple | None, single_column | None).

    Returns ``(path_tuple, None)`` when all elements are str/int literals,
    ``(None, col)`` for the single-column-path case. Raises ValueError
    with the reference's wording otherwise."""
    cols = [p for p in path if _is_column(p)]
    if cols:
        if len(path) > 1:
            # reference: src/common.rs:129-133
            raise ValueError(
                "More than 1 path element is not supported when querying "
                "JSON using an array."
            )
        return None, path[0]
    out = []
    for i, p in enumerate(path):
        if p is None:
            # reference: tests/main.rs:291-298 (plan-time error)
            raise ValueError(
                f"Unexpected argument type to '{fn_name}' at position "
                f"{i + 2}, expected string or int, got Null."
            )
        if isinstance(p, bool) or not isinstance(p, (str, int)):
            raise ValueError(
                f"Unexpected argument type to '{fn_name}' at position "
                f"{i + 2}, expected string or int, got "
                f"{type(p).__name__}."
            )
        out.append(p)
    return tuple(out), None


def _coerce_json_arg(json, literal: bool):
    """Resolve the JSON argument to ``(document, provenance, is_union)``.

    provenance is ``(root_col, literal_path)`` when the input is a
    JsonColumn produced by json_get over an all-literal path and the
    outer path is ``literal`` too — the precondition for call un-nesting
    (reference: src/rewrite.rs:74-83) — else None. The document is None
    when un-nesting makes it unnecessary; ``is_union`` marks a union
    struct, which the lookup reads through its container text.
    """
    from ..column import JsonColumn  # local import to avoid a cycle
    from ..column import Column as ClassicColumn

    if isinstance(json, JsonColumn):
        prov = json._flatten_provenance() if literal else None
        if prov is not None:
            return None, prov, False
        # strip the JsonColumn __getitem__
        return ClassicColumn(json._jc), None, not json._is_text
    if isinstance(json, str):
        return F.col(json), None, False
    if _is_column(json):
        return json, None, False
    raise ValueError(
        f"Unexpected argument type at position 1, expected a string "
        f"column of JSON, got {type(json).__name__}."
    )


def _call(fn_key: str, doc, path=(), key_col=None, union=False) -> Column:
    """``fn_key(doc, *path)``, or ``fn_key(doc, key_col)`` with a column
    of keys (reference: src/common.rs:106-127): on the JVM exact tier
    (:mod:`.jvm_tier`) when it is loaded, built by the function's SQL
    builder, else as an Arrow UDF over the Python kernels. A ``union``
    document is read through its container text."""
    jvm = jvm_tier.call(fn_key, doc, path, key_col)
    if jvm is not None:
        return jvm
    if union:
        doc = union_mod.union_container_text(doc)
    if key_col is not None:
        return udfs.path_udf(fn_key)(doc, key_col)
    return udfs.literal_path_udf(fn_key, path)(doc)


def _invoke(fn_key: str, json, path: tuple) -> Column:
    """Shared entry: validate, apply un-nesting, build the call."""
    lit_path, key_col = _validate_path(fn_key, path)
    doc, prov, union = _coerce_json_arg(json, key_col is None)
    if prov is not None:
        # Call un-nesting: f(json_get(j, 'a'), 'b') => f(j, 'a', 'b').
        # Fires only when the inner call is json_get (type-preserving) and
        # every path element is literal (reference: src/rewrite.rs:74-83).
        doc, lit_path = prov[0], prov[1] + lit_path
    return _call(fn_key, doc, lit_path, key_col, union)


def json_get(json, *path):
    """Traverse the path and return the value as a JSON union struct
    (reference: src/json_get.rs:26-151; SURVEY.md §2.1 #1). Missing path /
    type mismatch / invalid JSON / JSON null → NULL (the union's null arm,
    surfaced as a whole-struct NULL for ``IS NULL`` parity, reference:
    tests/main.rs:1612-1729)."""
    from ..column import JsonColumn

    lit_path, key_col = _validate_path("json_get", path)
    doc, prov, union = _coerce_json_arg(json, key_col is None)
    if prov is not None:
        root, full = prov[0], prov[1] + lit_path
        return JsonColumn(_call("json_get", root, full), root=root, path=full)
    out = _call("json_get", doc, lit_path, key_col, union)
    if key_col is not None:
        # no LITERAL provenance (un-nesting requires literal paths) but
        # cast elision has no such guard — keep enough to rewrite
        # .cast('bigint') into json_get_int(json, key_col)
        return JsonColumn(out, root=None, path=None, cast_root=json,
                          cast_path=tuple(path))
    root = None if union else doc
    return JsonColumn(out, root=root, path=None if union else lit_path)


def json_get_str(json, *path) -> Column:
    """Value only if a JSON string; numbers/bools/containers → NULL
    (reference: src/json_get_str.rs:74-77)."""
    return _invoke("json_get_str", json, path)


def json_get_int(json, *path) -> Column:
    """JSON int → value; JSON string parsed as Rust i64; float/bool/null/
    containers → NULL (reference: src/json_get_int.rs:102-116)."""
    return _invoke("json_get_int", json, path)


def json_get_float(json, *path) -> Column:
    """JSON int/float → double; string parsed as Rust f64; bool/null/
    containers → NULL (reference: src/json_get_float.rs:115-122)."""
    return _invoke("json_get_float", json, path)


def json_get_bool(json, *path) -> Column:
    """JSON true/false → value; string only exact 'true'/'false'
    (reference: src/json_get_bool.rs:75-78)."""
    return _invoke("json_get_bool", json, path)


def json_get_json(json, *path) -> Column:
    """RAW JSON text of the value at the path (floats verbatim, strings
    quoted, JSON null → 'null' text); missing → SQL NULL (reference:
    src/json_get_json.rs:84-94)."""
    return _invoke("json_get_json", json, path)


def json_get_array(json, *path) -> Column:
    """JSON array → array<string> of raw-text elements; non-array /
    missing → NULL (reference: src/json_get_array.rs:119-144)."""
    return _invoke("json_get_array", json, path)


def json_as_text(json, *path) -> Column:
    """Postgres ``->>``: string → unquoted text; JSON null → SQL NULL;
    other values → raw JSON text (reference: src/json_as_text.rs:101-112)."""
    return _invoke("json_as_text", json, path)


def json_contains(json, *path) -> Column:
    """Postgres ``?``: TRUE iff the path exists, including present-null
    (reference: tests/main.rs:21-43). Requires at least one path element
    (reference: src/json_contains.rs:43-49)."""
    if len(path) < 1:
        raise ValueError(
            "The 'json_contains' function requires 2 or more arguments."
        )
    return _invoke("json_contains", json, path)


def json_length(json, *path) -> Column:
    """Array element count / object key count; scalars/missing → NULL
    (reference: src/json_length.rs:99-128). LongType (Spark has no
    unsigned)."""
    return _invoke("json_length", json, path)


def json_object_keys(json, *path) -> Column:
    """Object keys in document order; non-object / missing → NULL
    (reference: src/json_object_keys.rs:122-141)."""
    return _invoke("json_object_keys", json, path)


# Aliases (reference: src/json_length.rs:29, src/json_object_keys.rs:29,
# src/json_from_scalar.rs:31)
json_len = json_length
json_keys = json_object_keys


def json_from_scalar(col, dtype: str | None = None):
    """Lift a SQL scalar column into the union struct (reference:
    src/json_from_scalar.rs:21-221). Pure Column expressions — no UDF.

    ``dtype``: optional Spark type name of the input ('bigint', 'double',
    'string', 'boolean', …). When omitted, a runtime ``typeof`` dispatch
    covers the accepted scalar types (reference accepts Null/Bool/ints/
    floats/strings — src/json_from_scalar.rs:48-68). Typed NULLs → null
    arm (whole-struct NULL).
    """
    from ..column import JsonColumn

    if isinstance(col, str):
        col = F.col(col)

    def build(tid: int, member: str, value: Column) -> Column:
        members = {
            "bool": F.lit(None).cast("boolean"),
            "int": F.lit(None).cast("bigint"),
            "float": F.lit(None).cast("double"),
            "str": F.lit(None).cast("string"),
            "array": F.lit(None).cast("string"),
            "object": F.lit(None).cast("string"),
        }
        members[member] = value
        s = F.struct(
            F.lit(tid).cast("tinyint").alias("type_id"),
            members["bool"].alias("bool"),
            members["int"].alias("int"),
            members["float"].alias("float"),
            members["str"].alias("str"),
            members["array"].alias("array"),
            members["object"].alias("object"),
        )
        # typed NULL input -> null arm -> whole-struct NULL
        return F.when(value.isNull(), F.lit(None).cast(union_mod.UNION_DDL)).otherwise(s)

    simple = {
        "boolean": (1, "bool", "boolean"),
        "tinyint": (2, "int", "bigint"),
        "smallint": (2, "int", "bigint"),
        "int": (2, "int", "bigint"),
        "bigint": (2, "int", "bigint"),
        "float": (3, "float", "double"),
        "double": (3, "float", "double"),
        "string": (4, "str", "string"),
    }
    if dtype is not None:
        d = dtype.lower()
        if d in ("void", "null"):
            out = F.lit(None).cast(union_mod.UNION_DDL)
        else:
            if d not in simple:
                raise ValueError(
                    f"Unexpected argument type to 'json_from_scalar', got {dtype}."
                )
            tid, member, cast_to = simple[d]
            out = build(tid, member, col.cast(cast_to))
    else:
        t = F.typeof(col)
        out = (
            F.when(t == "boolean", build(1, "bool", col.cast("boolean")))
            .when(
                t.isin("tinyint", "smallint", "int", "bigint"),
                build(2, "int", col.cast("bigint")),
            )
            .when(t.isin("float", "double"), build(3, "float", col.cast("double")))
            .when(t == "string", build(4, "str", col.cast("string")))
            .when(t.isin("void", "null"), F.lit(None).cast(union_mod.UNION_DDL))
            # unsupported type: raise the reference's plan-error text at
            # execution (the SQL surface and reference both ERROR here —
            # a silent all-null-arm column hid the mistake entirely)
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "Unexpected argument type to "
                            "'json_from_scalar', got "
                        ),
                        t,
                        F.lit("."),
                    )
                ).cast(union_mod.UNION_DDL)
            )
        )
    return JsonColumn(out, root=None, path=None)


scalar_to_json = json_from_scalar


def json_union_to_text(u) -> Column:
    """Flatten a union struct → canonical JSON text; null arm → SQL NULL
    (reference: src/json_union_to_text.rs:82-118).

    When ``u`` is a literal-path ``json_get`` result, the composition
    fuses into ONE call (find + canonicalize — no intermediate struct):
    the reference's un-nesting philosophy extended to the union
    consumers."""
    from ..column import JsonColumn

    if isinstance(u, str):
        u = F.col(u)
    if isinstance(u, JsonColumn):
        if u._is_text:
            raise TypeError(
                "json_union_to_text expects a union struct (a json_get "
                "result), got a raw JSON text column — a text-mode "
                "JsonColumn would crash the kernel at runtime; pass "
                "json_get(col) or use the text column directly"
            )
        prov = u._flatten_provenance()
        if prov is not None:
            return _call("json_to_text_fused", *prov)
    jvm = jvm_tier.call("json_union_to_text", u)
    return udfs.union_to_text_udf()(u) if jvm is None else jvm


def json_is_null(u) -> Column:
    """IS NULL over the union — true for JSON null AND lookup miss
    (reference: tests/main.rs:1612-1729)."""
    from ..column import Column as ClassicColumn
    from ..column import JsonColumn

    if isinstance(u, str):
        u = F.col(u)
    if isinstance(u, JsonColumn):
        if u._is_text:
            raise TypeError(
                "json_is_null expects a union struct (a json_get "
                "result), got a raw JSON text column — use "
                "col.isNull() for SQL-null text, or json_get(col) "
                "first for JSON-null semantics"
            )
        prov = u._flatten_provenance()
        if prov is not None:
            return _call("json_is_null_fused", *prov)
        u = ClassicColumn(u._jc)
    return union_mod.json_is_null(u)
