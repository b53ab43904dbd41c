"""Multi-field JSON extraction — N typed fields out of one JSON column
as one struct.

Each field is one single-field function at one path
(``signatures.MULTI_KINDS``), so a field gives exactly what the
function's own call gives. With the JVM exact tier loaded, the struct is
built by the tier in one call (:func:`.jvm_tier.multi`) and no document
crosses to Python. Without the tier, one Arrow UDF runs
:func:`.udfs.multi_body`: one JVM→Python Arrow hop, one read of each
batch's documents and one scan of each document per field, as N
separate calls would scan it.

Each call also builds that Arrow UDF through this module's ``F``, so it
imports pyarrow and the Python tier even when the JVM tier serves it.
"""

from __future__ import annotations

from typing import Mapping, Tuple

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import jvm_tier
from .signatures import MULTI_KINDS, RESULT_TYPES

__all__ = ["json_extract_multi", "JsonProfile"]


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
    ``signatures.MULTI_KINDS`` ({str,int,float,bool,text,length,exists,
    union_text,union_isnull}) and path elements str (key) / int (index).
    Each field equals the call of its kind's function at its path.

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
        if kind not in MULTI_KINDS:
            raise ValueError(
                f"unknown kind {kind!r} for field {name!r}; expected one "
                f"of {sorted(MULTI_KINDS)}"
            )
        specs.append((name, MULTI_KINDS[kind], tuple(path)))
    # a DataType, not DDL text, which the JVM would parse even when the
    # tier serves the call, and in which a name like a`b needs quoting
    ret = T.StructType([T.StructField(n, RESULT_TYPES[fn]) for n, fn, _ in specs])
    from . import udfs

    udf = F.arrow_udf(ret)(udfs.multi_body(specs))
    jvm = jvm_tier.multi(json_col, specs)
    return udf(json_col) if jvm is None else jvm
