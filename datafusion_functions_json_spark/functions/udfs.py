"""Arrow-UDF construction over the kernels.

Two shapes, mirroring the reference's kernel dispatch (reference:
src/common.rs:159-182 dispatches (json array|scalar) × (path
scalars|array)):

* **literal path** (the dominant case): the path is closed over at plan
  time, so ONLY the JSON column crosses the JVM→Python Arrow boundary.
  UDF objects are cached per (function, path) so repeated plan references
  reuse one PythonUDF expression.
* **column path**: a single path element comes from a column (the
  reference allows exactly one column path element and only alone —
  reference: src/common.rs:129-133); both arrays cross the boundary and
  the path tuple is built per row. A NULL key in the column yields a null
  result, not an error (reference: src/common.rs:118-127 JsonPath::None).

Since round 18 the wrappers are true **Arrow UDFs** (Spark 4.1
``arrow_udf``: ``pyarrow.Array`` in, ``pyarrow.Array`` out) instead of
pandas UDFs — the batch never materializes as a pandas object Series on
either side of the boundary (guide §4.2: hand whole Arrow batches to the
kernel layer), and outputs are built as explicitly-typed Arrow arrays
(``from_pandas=True`` keeps the old pandas NaN→null coercion for float
outputs bit-for-bit). On batches whose documents repeat, the per-batch
dictionary shortcut (:func:`kernels._dict_encode` — the Arrow analog of
the reference's dictionary-array evaluation, src/common.rs:310-327) runs
the kernel on the DISTINCT documents only and scatters results back with
one ``pc.take`` per output column.

All UDFs are deterministic (never call ``asNondeterministic``) so Catalyst
remains free to push/collapse projections containing them — the Spark
equivalent of the reference's leaf-ward placement hint (reference:
src/json_get.rs:61-77; SURVEY.md §2.3).
"""

from __future__ import annotations

import itertools
from functools import lru_cache

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F

from . import kernels
from .kernels import UNION_FIELDS

__all__ = ["literal_path_udf", "column_path_udf", "union_to_text_udf", "RETURN_TYPES"]

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


def _wrap_result(fn_key: str, out):
    """Pandas wrapping of a kernel result — kept for the SQL-surface
    UDFs (register.py), which bridge through pandas for the nested
    union-struct argument handling."""
    if fn_key in _STRUCT_FNS:
        return pd.DataFrame({name: out[name] for name in UNION_FIELDS})
    return pd.Series(out, dtype=object)


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
    """Typed Arrow array from kernel output. ``from_pandas=True`` keeps
    the pandas-UDF era's NaN→null coercion (a float NaN from
    parse_float_like_rust must stay SQL NULL, exactly as pandas object
    Series produced)."""
    return pa.array(values, type=pa_type, from_pandas=True)


def _union_struct(out, idx=None):
    """Assemble the json_get union struct from the kernel's 7 member
    lists; ``idx`` (from the dictionary shortcut) scatters each typed
    member column via one C-speed take."""
    import pyarrow.compute as pc

    children = [
        _pa_col(out[name], t) for name, t in zip(UNION_FIELDS, _UNION_PA_TYPES)
    ]
    if idx is not None:
        children = [pc.take(c, idx) for c in children]
    return pa.StructArray.from_arrays(children, names=list(UNION_FIELDS))


@lru_cache(maxsize=512)
def literal_path_udf(fn_key: str, path: tuple):
    """Arrow UDF computing ``fn_key`` at a fixed literal ``path``.

    Cached: the same (function, path) pair always returns the same UDF
    object, so Catalyst sees one PythonUDF and identical call sites
    collapse (analog of the reference's singleton UDF instances,
    reference: src/common_macros.rs:17-49).
    """
    kernel = _KERNELS[fn_key]
    ret = RETURN_TYPES[fn_key]
    # closure-captured for the foreign-cwd contract (like multi.py's
    # fast_mask): the UDF body must not import package modules
    dict_encode = kernels._dict_encode
    pa_col = _pa_col

    if fn_key in _STRUCT_FNS:
        union_struct = _union_struct

        def fn(js: pa.Array) -> pa.Array:
            pre = dict_encode(js)
            if pre is None:
                return union_struct(
                    kernel(js.to_pylist(), itertools.repeat(path))
                )
            dvals, idx = pre
            return union_struct(
                kernel(dvals, itertools.repeat(path)), idx
            )

    else:
        pa_type = _PA_TYPES[fn_key]

        def fn(js: pa.Array) -> pa.Array:
            import pyarrow.compute as pc

            pre = dict_encode(js)
            if pre is None:
                return pa_col(
                    kernel(js.to_pylist(), itertools.repeat(path)), pa_type
                )
            dvals, idx = pre
            out_d = kernel(dvals, itertools.repeat(path))
            return pc.take(pa_col(out_d, pa_type), idx)

    fn.__name__ = fn_key
    return F.arrow_udf(fn, ret)


def _key_to_elem(v):
    """Normalize one per-row key value from a column path: numpy ints →
    int, None/NaN → None (null key ⇒ null result, reference:
    src/common.rs:118-127). Booleans and datetimes are REJECTED like
    the SQL surface and the reference's plan check — int()-coercing
    them would silently turn ``True`` into array index 1 (defeating
    core's bool guard, which fires on the path element, not here) and
    a timestamp into a nanosecond 'index'."""
    if v is None or v != v:  # NaN check for float keys from pandas
        return None
    if isinstance(v, str):
        return v
    if isinstance(v, (bool, np.bool_)):
        raise ValueError(
            "Unexpected argument type at position 2, expected string or "
            "int, got Boolean."
        )
    if not isinstance(v, (int, float, np.integer, np.floating)):
        raise ValueError(
            "Unexpected argument type at position 2, expected string or "
            f"int, got {type(v).__name__}."
        )
    return int(v)


@lru_cache(maxsize=64)
def column_path_udf(fn_key: str):
    """Arrow UDF computing ``fn_key`` with a single column-valued path
    element (reference: src/common.rs:106-110 Array path)."""
    kernel = _KERNELS[fn_key]
    ret = RETURN_TYPES[fn_key]
    pa_col = _pa_col

    def _paths(keys):
        return [
            ((e,) if (e := _key_to_elem(k)) is not None else (None,))
            for k in keys
        ]

    if fn_key in _STRUCT_FNS:
        union_struct = _union_struct

        def fn(js: pa.Array, keys: pa.Array) -> pa.Array:
            return union_struct(
                kernel(js.to_pylist(), _paths(keys.to_pylist()))
            )

    else:
        pa_type = _PA_TYPES[fn_key]

        def fn(js: pa.Array, keys: pa.Array) -> pa.Array:
            return pa_col(
                kernel(js.to_pylist(), _paths(keys.to_pylist())), pa_type
            )

    fn.__name__ = fn_key
    return F.arrow_udf(fn, ret)


@lru_cache(maxsize=1)
def union_to_text_udf():
    """json_union_to_text over the union struct (reference:
    src/json_union_to_text.rs:82-118) on the Python kernels: the fallback
    when the JVM exact tier is not loaded. Spark's own double→string cast
    cannot stand in for either tier, because the canonical float text is
    the shortest round-trip form (Python ``repr``, ``1e10`` →
    '10000000000.0') where Spark writes '1.0E10'."""
    kernel = kernels.kernel_json_union_to_text
    pa_col = _pa_col

    def fn(u: pa.Array) -> pa.Array:
        if isinstance(u, pa.ChunkedArray):
            u = u.combine_chunks()
        # flatten() masks each member by the struct's own validity: a NULL
        # struct (an outer-join miss) may carry arbitrary member values
        members = dict(zip((f.name for f in u.type), u.flatten()))
        cols = [members[name].to_pylist() for name in UNION_FIELDS]
        return pa_col(kernel(*cols), pa.string())

    fn.__name__ = "json_union_to_text"
    return F.arrow_udf(fn, "string")
