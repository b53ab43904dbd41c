"""The JSON functions' Python bodies: Arrow UDFs over the kernels.

These are the bodies every call runs when the JVM exact tier
(:mod:`.jvm_tier`) is not loaded — Spark Connect, no JDK, a failed
build; with the tier loaded no call reaches them, and this module, the
kernels and pyarrow are imported on the first call that does (and by
``json_extract_multi``). Every function has one batch body, shared by
the Python API and the SQL names :func:`register_all` registers without
the tier, and every body reads its documents through the streaming
finder (:mod:`.kernels` over :mod:`.core`), the one parse route of this
tier. The body reads the shapes of its arguments per batch, like the
reference's one dispatch over (JSON array | union) x (scalar | array
path) (reference: src/common.rs:159-182):

* **path columns** (:func:`path_udf`, the SQL names and the API's
  calls, which pass a literal path as literal columns, as SQL does, so
  both name their columns alike): ``(doc, *path_cols)``. The path
  arguments are checked per batch by the reference's rules
  (:func:`_check_path_args`). When every path column holds one non-null
  value in the batch, the literal-path body runs; otherwise the path
  tuple is built per row, and a NULL key yields a null result
  (reference: src/common.rs:118-127 JsonPath::None).
* **literal path** (:func:`literal_path_udf`, the API's calls over a
  union value this tier computes): the path is closed over at plan
  time, so the call's one argument is the inner UDF's output and Spark
  chains both UDFs in one Python hop. UDF objects are cached per
  (function, path) so repeated plan references reuse one PythonUDF
  expression.

Both read a union-struct document (a nested call, or a stored
``json_get`` column) through its ``array``/``object`` text
(:func:`_doc_text`, reference: src/common_union.rs:49-57), and read a
batch holding invalid UTF-8, documents and path keys alike, with each
bad sequence as U+FFFD, as the JVM tier does (:func:`kernels._repair_utf8`).

A literal path takes the per-batch dictionary shortcut
(:func:`kernels._dict_encode` — the Arrow analog of the reference's
dictionary-array evaluation, src/common.rs:310-327): on batches whose
documents repeat, the kernel runs on the DISTINCT documents only and one
``pc.take`` scatters the typed result back. Outputs are explicitly-typed
Arrow arrays; ``json_get``'s null arm is a whole-struct NULL, as on the
JVM tier.

All UDFs are deterministic (never call ``asNondeterministic``) so Catalyst
remains free to push/collapse projections containing them — the Spark
equivalent of the reference's leaf-ward placement hint (reference:
src/json_get.rs:61-77; SURVEY.md §2.3).
"""

from __future__ import annotations

import itertools
import sys
from functools import lru_cache

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F

from . import kernels
from .kernels import UNION_FIELDS, _dict_encode, _repair_utf8

from .. import _register_pickle_by_value

# Spark's workers unpickle this module's code by value; the binding is
# dropped because a module shipped by value ships every name it holds
_register_pickle_by_value(sys.modules[__name__])
del _register_pickle_by_value

__all__ = [
    "literal_path_udf",
    "path_udf",
    "union_to_text_udf",
    "union_is_null_udf",
    "from_scalar_udf",
    "sql_udf",
    "RETURN_TYPES",
]

# Return types per function key. json_length returns LongType — Spark has
# no unsigned (reference returns UInt64, SURVEY.md §2.1 #10).
RETURN_TYPES = {
    "json_get": (
        "struct<type_id:tinyint,bool:boolean,int:bigint,float:double,"
        "str:string,array:string,object:string>"
    ),
    "json_get_str": "string",
    "json_get_int": "bigint",
    "json_get_float": "double",
    "json_get_bool": "boolean",
    "json_get_json": "string",
    "json_get_array": "array<string>",
    "json_as_text": "string",
    "json_contains": "boolean",
    "json_length": "bigint",
    "json_object_keys": "array<string>",
    "json_to_text_fused": "string",
    "json_is_null_fused": "boolean",
}

_KERNELS = {
    "json_get": kernels.kernel_json_get,
    "json_get_str": kernels.kernel_json_get_str,
    "json_get_int": kernels.kernel_json_get_int,
    "json_get_float": kernels.kernel_json_get_float,
    "json_get_bool": kernels.kernel_json_get_bool,
    "json_get_json": kernels.kernel_json_get_json,
    "json_get_array": kernels.kernel_json_get_array,
    "json_as_text": kernels.kernel_json_as_text,
    "json_contains": kernels.kernel_json_contains,
    "json_length": kernels.kernel_json_length,
    "json_object_keys": kernels.kernel_json_object_keys,
    "json_to_text_fused": kernels.kernel_json_to_text_fused,
    "json_is_null_fused": kernels.kernel_json_is_null_fused,
}

_STRUCT_FNS = {"json_get"}


# Arrow output type per function key — matches RETURN_TYPES exactly.
_PA_TYPES = {
    "json_get_str": pa.string(),
    "json_get_int": pa.int64(),
    "json_get_float": pa.float64(),
    "json_get_bool": pa.bool_(),
    "json_get_json": pa.string(),
    "json_get_array": pa.list_(pa.string()),
    "json_as_text": pa.string(),
    "json_contains": pa.bool_(),
    "json_length": pa.int64(),
    "json_object_keys": pa.list_(pa.string()),
    "json_to_text_fused": pa.string(),
    "json_is_null_fused": pa.bool_(),
}

# union struct member types (order matches UNION_FIELDS)
_UNION_PA_TYPES = (
    pa.int8(),
    pa.bool_(),
    pa.int64(),
    pa.float64(),
    pa.string(),
    pa.string(),
    pa.string(),
)


def _pa_col(values, pa_type):
    """Typed Arrow array from kernel output. ``from_pandas=True`` turns a
    float NaN into null: a NaN from parse_float_like_rust must stay SQL
    NULL."""
    return pa.array(values, type=pa_type, from_pandas=True)


def _to_arrow(fn_key: str, out, idx=None):
    """Typed Arrow array of a kernel result; ``idx`` (from the dictionary
    shortcut) scatters it to row order with one C-speed take. The union
    struct's null arm (type_id 0) is a whole-struct NULL, so ``IS NULL``
    holds for it (reference: tests/main.rs:1612-1729)."""
    if fn_key in _STRUCT_FNS:
        children = [
            _pa_col(out[name], t) for name, t in zip(UNION_FIELDS, _UNION_PA_TYPES)
        ]
        arr = pa.StructArray.from_arrays(
            children, names=list(UNION_FIELDS), mask=pc.equal(children[0], 0)
        )
    else:
        arr = _pa_col(out, _PA_TYPES[fn_key])
    return arr if idx is None else pc.take(arr, idx)


def _read(js: pa.Array) -> tuple:
    """The documents of a batch, read once for any number of lookups:
    ``(texts, None)``, the JSON text of each row (:func:`_doc_text`), or,
    when the batch repeats its documents, ``(distinct texts, idx)``, with
    ``idx`` scattering their results back to row order
    (:func:`kernels._dict_encode`). A batch holding invalid UTF-8 is read
    as the JVM tier reads it (:func:`kernels._repair_utf8`)."""

    def read(docs: pa.Array) -> tuple:
        pre = _dict_encode(docs)
        return (docs.to_pylist(), None) if pre is None else pre

    return _repair_utf8(read, _doc_text(js))


def _at(fn_key: str, kernel, docs: tuple, path) -> pa.Array:
    """``kernel`` at one ``path`` over the documents :func:`_read` read."""
    texts, idx = docs
    return _to_arrow(fn_key, kernel(texts, itertools.repeat(path)), idx)


def _eval(fn_key: str, kernel, js: pa.Array, path, paths=None) -> pa.Array:
    """``kernel`` over the documents of ``js`` (:func:`_read`) at one
    ``path``, or at ``paths``, one per row."""
    if paths is None:
        return _at(fn_key, kernel, _read(js), path)
    texts = _repair_utf8(pa.Array.to_pylist, _doc_text(js))
    return _to_arrow(fn_key, kernel(texts, paths))


@lru_cache(maxsize=512)
def literal_path_udf(fn_key: str, path: tuple):
    """Arrow UDF computing ``fn_key`` at a fixed literal ``path``.

    Cached: the same (function, path) pair always returns the same UDF
    object, so Catalyst sees one PythonUDF and identical call sites
    collapse (analog of the reference's singleton UDF instances,
    reference: src/common_macros.rs:17-49).
    """
    kernel = _KERNELS[fn_key]

    def fn(js: pa.Array) -> pa.Array:
        return _eval(fn_key, kernel, js, path)

    fn.__name__ = fn_key
    return F.arrow_udf(fn, RETURN_TYPES[fn_key])


# DataFusion-style names for the argument-type error message (reference:
# src/common.rs:106-141 rejects non-string/int path args at plan time with
# the DataType debug name; tests/main.rs:291-298 pins the Null wording).
_DF_TYPE_NAMES = {
    "null": "Null",
    "bool": "Boolean",
    "float": "Float32",
    "double": "Float64",
    "date32[day]": "Date32",
    "timestamp[us]": "Timestamp(Microsecond, None)",
}


def _df_type_name(t: pa.DataType) -> str:
    return _DF_TYPE_NAMES.get(str(t), str(t).capitalize())


def _keys(k: pa.Array) -> list:
    """The values of a path column; a string key holding invalid UTF-8
    reads each bad sequence as U+FFFD, as the JVM tier reads it."""
    return _repair_utf8(pa.Array.to_pylist, k)


def _check_path_args(fn_key: str, key_cols) -> tuple | None:
    """Reference arg validation, applied per Arrow batch. Returns the path
    as a tuple when every path column holds one non-null value in the
    batch, else None (the path varies per row).

    * A path argument whose Arrow type is ``null`` (Spark's untyped NULL
      literal, VOID) or any non-string/int type is rejected with the
      reference's planning message (reference: src/common.rs:106-141,
      tests/main.rs:291-298). A *typed* null — ``cast(null as string)`` or
      a nullable column — passes, and null values yield null rows, exactly
      like the reference's ``ScalarValue::Utf8(None) => JsonPath::None``.
    * With more than one path element, any argument that is demonstrably a
      per-row column (≥2 distinct values, or a null beside a value, in the
      batch — a literal is the same in every row) raises the reference's
      execution error (reference: src/common.rs:129-133,
      tests/main.rs:1095-1103). A column that is constant, or NULL
      throughout, within every batch is indistinguishable from a literal
      here and passes; a NULL element makes the row NULL.
    * ``json_contains`` without a path raises the reference's message
      (reference: src/json_contains.rs:43-49).
    """
    if fn_key == "json_contains" and not key_cols:
        raise ValueError(
            "The 'json_contains' function requires 2 or more arguments."
        )
    for i, k in enumerate(key_cols):
        t = k.type
        if not (
            pa.types.is_string(t)
            or pa.types.is_large_string(t)
            or pa.types.is_integer(t)
        ):
            raise ValueError(
                f"Unexpected argument type to '{fn_key}' at position {i + 2}, "
                f"expected string or int, got {_df_type_name(t)}."
            )
    constant = [
        len(k) > 0
        and k.null_count == 0
        and (len(k) == 1 or len(pc.unique(k)) == 1)
        for k in key_cols
    ]
    if all(constant):
        return tuple(_keys(k.slice(0, 1))[0] for k in key_cols)
    if len(key_cols) > 1 and any(
        len(k) > 1 and not c and k.null_count < len(k)
        for k, c in zip(key_cols, constant)
    ):
        raise ValueError(
            "More than 1 path element is not supported when "
            "querying JSON using an array."
        )
    return None


def _members(u: pa.Array) -> dict:
    """The union struct's members by name. flatten() masks each member by
    the struct's own validity: a NULL struct (an outer-join miss) may
    carry arbitrary member values."""
    if isinstance(u, pa.ChunkedArray):
        u = u.combine_chunks()
    return dict(zip((f.name for f in u.type), u.flatten()))


def _doc_text(js: pa.Array) -> pa.Array:
    """The JSON text a lookup reads. A union-struct document (a nested
    call like SQL ``json_get(json_get(j, 'a'), 'b')``) continues through
    its container members, like the reference's nested_json_array
    (reference: src/common_union.rs:49-57); scalar members => NULL =>
    the nested lookup misses."""
    if not pa.types.is_struct(js.type):
        return js
    members = _members(js)
    return pc.coalesce(members["array"], members["object"])


@lru_cache(maxsize=64)
def path_udf(fn_key: str):
    """Arrow UDF computing ``fn_key(doc, *path_cols)`` — the body the SQL
    name runs, and the API's column-path call (reference:
    src/common.rs:106-110 Array path). The document is a JSON string or a
    union struct; the path arguments are string or int columns."""
    kernel = _KERNELS[fn_key]

    def fn(js: pa.Array, *key_cols: pa.Array) -> pa.Array:
        path = _check_path_args(fn_key, key_cols)
        if path is not None:
            return _eval(fn_key, kernel, js, path)
        paths = list(zip(*map(_keys, key_cols)))
        return _eval(fn_key, kernel, js, None, paths)

    fn.__name__ = fn_key
    return F.arrow_udf(fn, RETURN_TYPES[fn_key])


def multi_body(specs):
    """json_extract_multi's batch body over ``specs`` (``(name, fn_key,
    path)``): one read of each batch's documents (:func:`_read`: the
    dictionary shortcut, the bad-UTF-8 repair and union-struct documents
    included), then each field's kernel at its path (:func:`_at`),
    assembled as one struct."""
    names = [n for n, _, _ in specs]
    evals = [(fn_key, _KERNELS[fn_key], path) for _, fn_key, path in specs]

    def fn(js: pa.Array) -> pa.Array:
        docs = _read(js)
        return pa.StructArray.from_arrays(
            [_at(fn_key, kernel, docs, path) for fn_key, kernel, path in evals],
            names=names,
        )

    fn.__name__ = "json_extract_multi"
    return fn


@lru_cache(maxsize=1)
def union_to_text_udf():
    """json_union_to_text over the union struct (reference:
    src/json_union_to_text.rs:82-118) on the Python kernels: the fallback
    when the JVM exact tier is not loaded. Spark's own double→string cast
    cannot stand in for either tier, because the canonical float text is
    the shortest round-trip form (Python ``repr``, ``1e10`` →
    '10000000000.0') where Spark writes '1.0E10'."""
    kernel = kernels.kernel_json_union_to_text

    def fn(u: pa.Array) -> pa.Array:
        members = _members(u)
        # a str member cast from binary may hold invalid UTF-8
        cols = [_repair_utf8(pa.Array.to_pylist, members[n]) for n in UNION_FIELDS]
        return _pa_col(kernel(*cols), pa.string())

    fn.__name__ = "json_union_to_text"
    return F.arrow_udf(fn, "string")


@lru_cache(maxsize=1)
def union_is_null_udf():
    """json_is_null over the union struct, for the SQL name and the API:
    true for the null arm (JSON null and lookup miss) and a NULL struct —
    the test ``union.json_is_null`` builds as a Catalyst expression
    (reference: tests/main.rs:1612-1729)."""

    def fn(u: pa.Array) -> pa.Array:
        return pc.fill_null(pc.equal(_members(u)["type_id"], 0), True)

    fn.__name__ = "json_is_null"
    return F.arrow_udf(fn, "boolean")


# json_from_scalar's arm per accepted Arrow input type (type ids of the
# union, reference: src/common_union.rs:176-182)
_SCALAR_ARMS = (
    (pa.types.is_boolean, 1),
    (pa.types.is_integer, 2),
    (pa.types.is_floating, 3),
    (pa.types.is_string, 4),
    (pa.types.is_large_string, 4),
)


@lru_cache(maxsize=1)
def from_scalar_udf():
    """SQL-surface json_from_scalar: the Arrow argument type drives the
    dispatch, mirroring the reference's plan-time DataType match
    (reference: src/json_from_scalar.rs:48-68). Because Arrow keeps
    NaN/±Infinity as *values* (validity bit set) distinct from nulls,
    non-finite floats land in the float arm exactly like the reference
    (tests/main.rs:2550-2577); typed NULLs of any accepted type → null
    arm, a whole-struct NULL like the API's. Unsupported types raise the
    reference's message (src/json_from_scalar.rs:65)."""

    def fn(s: pa.Array) -> pa.Array:
        n = len(s)
        children = [pa.nulls(n, t) for t in _UNION_PA_TYPES]
        if not pa.types.is_null(s.type):
            arm = next((a for is_t, a in _SCALAR_ARMS if is_t(s.type)), None)
            if arm is None:
                raise ValueError(
                    "Unsupported type for json_from_scalar: "
                    f"{_df_type_name(s.type)}."
                )
            children[arm] = s.cast(_UNION_PA_TYPES[arm])
            children[0] = pc.if_else(
                pc.is_valid(s), pa.scalar(arm, pa.int8()), children[0]
            )
        return pa.StructArray.from_arrays(
            children, names=list(UNION_FIELDS), mask=pc.is_null(children[0])
        )

    fn.__name__ = "json_from_scalar"
    return F.arrow_udf(fn, RETURN_TYPES["json_get"])


def sql_udf(fn_key: str):
    """The Arrow UDF that runs ``fn_key`` under its SQL name without the
    tier, and in the API's calls of the union consumers."""
    if fn_key == "json_union_to_text":
        return union_to_text_udf()
    if fn_key == "json_is_null":
        return union_is_null_udf()
    if fn_key == "json_from_scalar":
        return from_scalar_udf()
    return path_udf(fn_key)
