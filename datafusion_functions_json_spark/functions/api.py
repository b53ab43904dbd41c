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

The reference's optimizer passes (SURVEY.md §2.3 — PySpark exposes no
planner hooks) read the description a :class:`JsonColumn` keeps, not a
built column. A JsonColumn builds its column when it is first used, so
a lookup step that un-nests or a cast that is elided builds nothing:

* **cast elision** lives on ``JsonColumn.cast`` (reference:
  src/rewrite.rs:36-54);
* **call un-nesting** lives in the JSON-argument lookup here
  (:func:`_lookup`, reference: src/rewrite.rs:57-91), so ``json_get``
  over a ``json_get`` result extends its path instead of building a call.
"""

from __future__ import annotations

from typing import Union

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import union as union_mod
from ..column import JsonColumn
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


def _coerce_json_arg(json) -> Column:
    """The JSON argument as a column: a column name, a ``Column`` of JSON
    text or union structs, or a JsonColumn."""
    if isinstance(json, str):
        return F.col(json)
    if _is_column(json):
        return json
    raise ValueError(
        f"Unexpected argument type at position 1, expected a string "
        f"column of JSON, got {type(json).__name__}."
    )


def _lookup(fn_key: str, json, path: tuple):
    """Validate ``fn_key(json, *path)``; its ``(doc, path, key)``.

    Call un-nesting: ``f(json_get(j, 'a'), 'b')`` reads ``f(j, 'a', 'b')``
    when the inner value allows it (:meth:`JsonColumn._inner_call`) and
    the outer path is literal too (reference: src/rewrite.rs:74-83)."""
    lit_path, key_col = _validate_path(fn_key, path)
    doc = _coerce_json_arg(json)
    inner = doc._inner_call() if isinstance(doc, JsonColumn) else None
    if inner is not None and key_col is None:
        doc, lit_path = inner[0], inner[1] + lit_path
    return doc, lit_path, key_col


def _call(fn_key: str, doc, path=(), key_col=None) -> Column:
    """``fn_key(doc, *path)``, or ``fn_key(doc, key_col)`` with a column
    of keys (reference: src/common.rs:106-127): on the JVM exact tier
    (:mod:`.jvm_tier`) when it is loaded, built by the function's SQL
    builder, else as an Arrow UDF over the Python kernels. Both read a
    union-struct document through its container text."""
    if isinstance(doc, JsonColumn):
        doc = doc._column  # an argument carries no operator name
    jvm = jvm_tier.call(fn_key, doc, path, key_col)
    if jvm is not None:
        return jvm
    if key_col is not None:
        return udfs.path_udf(fn_key)(doc, key_col)
    return udfs.literal_path_udf(fn_key, path)(doc)


def _invoke(fn_key: str, json, path: tuple) -> Column:
    """Shared entry: validate, un-nest, build the call."""
    return _call(fn_key, *_lookup(fn_key, json, path))


def json_get(json, *path) -> JsonColumn:
    """Traverse the path and return the value as a JSON union struct
    (reference: src/json_get.rs:26-151; SURVEY.md §2.1 #1). Missing path /
    type mismatch / invalid JSON / JSON null → NULL (the union's null arm,
    surfaced as a whole-struct NULL for ``IS NULL`` parity, reference:
    tests/main.rs:1612-1729). The call is built when the column is first
    used, so a chain of lookups over it builds one call."""
    return JsonColumn(*_lookup("json_get", json, path))


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


def json_from_scalar(col):
    """Lift a SQL scalar column into the union struct (reference:
    src/json_from_scalar.rs:21-221; ``Signature::any(1)``, one argument).

    The arm is read from the input's type, as the reference reads its
    DataType at planning (src/json_from_scalar.rs:48-68): boolean, the
    integer types, float/double and string; typed NULLs give the null arm
    (a whole-struct NULL). To choose the arm, cast the input:
    ``json_from_scalar(col.cast("bigint"))``.

    On the JVM exact tier this is a call of the tier's
    ``json_from_scalar``, as the SQL name is: the tier's builder reads the
    type at analysis, the column is named like its SQL spelling, and an
    unsupported type raises the reference's error at analysis. Without
    the tier it is the SQL name's Python UDF (:func:`udfs.from_scalar_udf`),
    which reads the Arrow type of each batch; an unsupported type raises
    the reference's error at execution.
    """
    if isinstance(col, str):
        col = F.col(col)
    jvm = jvm_tier.call("json_from_scalar", col)
    out = udfs.from_scalar_udf()(col) if jvm is None else jvm
    return JsonColumn(out, call=("json_from_scalar", col))


scalar_to_json = json_from_scalar


def _union_arg(fn_key: str, u):
    """``(u, inner)``: the union argument of ``fn_key`` as a column, and
    ``(doc, path)`` when ``u`` is ``json_get(doc, *path)`` and the two
    calls fuse into one (the guards of call un-nesting)."""
    if isinstance(u, str):
        return F.col(u), None
    if not isinstance(u, JsonColumn):
        return u, None
    if u._text:
        raise TypeError(
            f"{fn_key} expects a union struct (a json_get result), got a "
            "raw JSON text column; pass json_get(col), or use the text "
            "column itself (col.isNull() for SQL-null text)"
        )
    inner = u._inner_call()
    return (u._column if inner is None else None), inner


def json_union_to_text(u) -> Column:
    """Flatten a union struct → canonical JSON text; null arm → SQL NULL
    (reference: src/json_union_to_text.rs:82-118).

    When ``u`` is a literal-path ``json_get`` result, the composition
    fuses into ONE call (find + canonicalize — no intermediate struct):
    the reference's un-nesting philosophy extended to the union
    consumers."""
    u, inner = _union_arg("json_union_to_text", u)
    if inner is not None:
        return _call("json_to_text_fused", *inner)
    jvm = jvm_tier.call("json_union_to_text", u)
    return udfs.union_to_text_udf()(u) if jvm is None else jvm


def json_is_null(u) -> Column:
    """IS NULL over the union — true for JSON null AND lookup miss
    (reference: tests/main.rs:1612-1729). Fuses with a literal-path
    ``json_get`` like :func:`json_union_to_text`."""
    u, inner = _union_arg("json_is_null", u)
    if inner is not None:
        return _call("json_is_null_fused", *inner)
    jvm = jvm_tier.call("json_is_null", u)
    return union_mod.json_is_null(u) if jvm is None else jvm
