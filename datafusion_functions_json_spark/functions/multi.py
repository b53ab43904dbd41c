"""Multi-field JSON extraction — N typed fields out of one JSON column
as one struct.

Each field is one single-field function at one path
(``jvm_tier.MULTI_KIND_FNS``), so a field gives exactly what the
function's own call gives. With the JVM exact tier loaded, the struct is
built by the tier in one call (:func:`.jvm_tier.multi`) and no document
crosses to Python. Without the tier, one Arrow UDF runs each field's
batch body and assembles the struct: one JVM→Python Arrow hop, one read
of each batch's documents (:func:`.udfs._read`: the dictionary shortcut,
the bad-UTF-8 repair and union-struct documents included) and one scan
of each document per field (:func:`.udfs._at`), as N separate calls
would scan it.
"""

from __future__ import annotations

from typing import Mapping, Tuple

import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type

from . import jvm_tier, udfs

__all__ = ["json_extract_multi", "FIELD_KINDS", "JsonProfile"]

# each kind's SQL type, as the function it reads returns it
FIELD_KINDS = {
    kind: udfs.RETURN_TYPES[fn] for kind, fn in jvm_tier.MULTI_KIND_FNS.items()
}


class JsonProfile:
    """A claim about the data that :func:`json_extract_multi` and
    :func:`~..register.register_all` accept and ignore, so existing
    ``json_profile=JsonProfile()`` calls keep working: every call runs
    on the exact tier."""


def json_extract_multi(
    json_col,
    fields: Mapping[str, Tuple],
    *,
    json_profile=None,
) -> Column:
    """Extract N typed fields from one JSON column as one struct.

    ``fields``: ``{out_name: (kind, *path)}`` with kind in
    ``FIELD_KINDS`` ({str,int,float,bool,text,length,exists,union_text,
    union_isnull}) and path elements str (key) / int (index). Each field
    equals the call of its kind's function at its path.

    Returns a struct column; expand with ``.select(out["*"])`` or
    ``F.col("out.*")``.

    With the JVM exact tier loaded the struct is one of its expressions
    and no document crosses to Python; otherwise one Arrow UDF evaluates
    every field, replacing K ArrowEvalPython round trips with one.

    ``json_profile`` is accepted and ignored (see :class:`JsonProfile`).
    """
    if not fields:
        raise ValueError(
            "json_extract_multi needs at least one field; the field map "
            "is empty"
        )
    specs = []
    for name, spec in fields.items():
        kind, *path = spec
        if kind not in FIELD_KINDS:
            raise ValueError(
                f"unknown kind {kind!r} for field {name!r}; expected one "
                f"of {sorted(FIELD_KINDS)}"
            )
        specs.append((name, jvm_tier.MULTI_KIND_FNS[kind], tuple(path)))
    # a DataType, not DDL text, which the JVM would parse even when the
    # tier serves the call, and in which a name like a`b needs quoting
    ret = T.StructType([
        T.StructField(n, from_arrow_type(udfs._PA_TYPES[fn])) for n, fn, _ in specs
    ])
    names = [n for n, _, _ in specs]
    evals = [(fn, udfs._KERNELS[fn], path) for _, fn, path in specs]
    read, at = udfs._read, udfs._at  # closure-captured, like every helper

    @F.arrow_udf(ret)
    def _multi(js: pa.Array) -> pa.Array:
        docs = read(js)
        return pa.StructArray.from_arrays(
            [at(fn, kernel, docs, path) for fn, kernel, path in evals],
            names=names,
        )

    jvm = jvm_tier.multi(json_col, specs)
    return _multi(json_col) if jvm is None else jvm
