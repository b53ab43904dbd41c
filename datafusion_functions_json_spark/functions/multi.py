"""Multi-field JSON extraction — N typed fields out of one JSON column
as one struct.

The reference evaluates one UDF per extraction, re-parsing the document
per call (mitigated by its call un-nesting for chained lookups;
SURVEY.md §2.3). With the JVM exact tier loaded, each field is one of
the tier's columns (:func:`.jvm_tier.multi`), so the document is scanned
once per field inside the executor and never crosses to Python. Without
the tier, one Arrow UDF parses each document once (the stdlib's
``json.loads``, first duplicate key winning as in the reference's scan)
and emits the struct — one JVM→Python Arrow hop, one parse, N fields.

Semantics per field mirror the single-field kernels exactly (same
coercion and null taxonomy); documents where strict full-document
parsing fails (invalid JSON — or valid-prefix-plus-garbage, which the
streaming finder tolerates) fall back to the per-path streaming finder,
so results are IDENTICAL to N separate calls.
"""

from __future__ import annotations

import functools
import json
from typing import Mapping, Sequence, Tuple

import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F

from . import core, jvm_tier

__all__ = ["json_extract_multi", "FIELD_KINDS", "JsonProfile"]

FIELD_KINDS = {
    "str": "string",
    "int": "bigint",
    "float": "double",
    "bool": "boolean",
    "text": "string",  # json_as_text semantics
    "length": "bigint",
    "exists": "boolean",
    # union-roundtrip semantics, fused: same outputs as
    # json_union_to_text(json_get(j, *path)) / json_is_null(json_get(...))
    # without materializing the union struct (reference:
    # src/json_union_to_text.rs:82-118, src/common_union.rs:53)
    "union_text": "string",
    "union_isnull": "boolean",
}


def _nav(doc, path):
    """Navigate a parsed DOM; returns (found, value)."""
    cur = doc
    for p in path:
        if isinstance(p, str):
            if not isinstance(cur, dict) or p not in cur:
                return False, None
            cur = cur[p]
        else:
            i = int(p)
            if isinstance(cur, bool) or not isinstance(cur, list):
                return False, None
            if i < 0 or i >= len(cur):
                return False, None
            cur = cur[i]
    return True, cur


def _coerce(kind: str, found: bool, v):
    """Apply the single-field kernel's coercion rules to a DOM value
    (reference semantics per SURVEY.md §2.1)."""
    if kind == "exists":
        return found
    if kind == "union_isnull":
        # true iff json_get would fill the union's null arm — missing,
        # json null, or out-of-i64 int
        if not found or v is None:
            return True
        if isinstance(v, int) and not isinstance(v, bool):
            return not (core.INT64_MIN <= v <= core.INT64_MAX)
        return False
    if not found:
        return None
    if kind == "str":
        return v if isinstance(v, str) else None
    if kind == "int":
        if isinstance(v, bool):
            return None
        if isinstance(v, int):
            return v if core.INT64_MIN <= v <= core.INT64_MAX else None
        if isinstance(v, str):
            return core.parse_int_like_rust(v)
        return None
    if kind == "float":
        if isinstance(v, bool):
            return None
        if isinstance(v, float):
            return v
        if isinstance(v, int):
            return core.int_to_float(v)
        if isinstance(v, str):
            return core.parse_float_like_rust(v)
        return None
    if kind == "bool":
        if isinstance(v, bool):
            return v
        if isinstance(v, str):
            return core.parse_bool_like_rust(v)
        return None
    if kind == "text":
        # json_as_text: string unquoted; null -> SQL NULL; bool/nonzero-int
        # canonical text == raw text; floats, containers and int 0 (maybe
        # spelled '-0') go through the raw-slice fallback in extract_row
        # so '4.2e-1' stays '4.2e-1' (reference: src/json_as_text.rs
        # raw-slice arm, tests/main.rs:507-512)
        if v is None:
            return None
        if isinstance(v, str):
            return v
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, int):
            return str(v)
        return None  # floats/containers handled by fallback
    if kind == "length":
        if isinstance(v, dict):
            return len(v)
        if isinstance(v, bool):
            return None
        if isinstance(v, list):
            return len(v)
        return None
    if kind == "union_text":
        # json_union_to_text over the would-be union: null arm => NULL,
        # bool/int/float canonical, strings JSON-quoted, containers raw
        # (raw handled by the fallback in extract_row)
        if v is None:
            return None
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, int):
            return (
                str(v) if core.INT64_MIN <= v <= core.INT64_MAX else None
            )  # big ints land in the null arm
        if isinstance(v, float):
            return core.json_dumps_canonical(core.FLOAT, v)
        if isinstance(v, str):
            return core.json_dumps_canonical(core.STR, v)
        return None  # containers handled by fallback
    raise ValueError(f"unknown field kind {kind!r}")


def _fallback_one(s, kind: str, path):
    """Streaming-finder path for docs the strict parser rejects and for
    container-valued text fields — bit-identical to the single kernels."""
    if kind == "exists":
        return core.exists_at(s, path)
    if kind == "length":
        return core.length_at(s, path)
    if kind == "text":
        k, raw, sval = core.find_raw(s, path)
        if k == core.STR:
            return sval
        if k in (core.MISSING, core.NULL):
            return None
        return raw
    if kind == "union_text":
        k, v = core.find(s, path)
        if k == core.INT and not (core.INT64_MIN <= v <= core.INT64_MAX):
            return None
        return core.json_dumps_canonical(k, v)
    if kind == "union_isnull":
        k, v = core.find(s, path)
        return (
            k in (core.MISSING, core.NULL)
            or (k == core.INT and not (core.INT64_MIN <= v <= core.INT64_MAX))
            or (k == core.STR and v is None)
        )
    k, v = core.find(s, path)
    if kind == "str":
        return v if k == core.STR else None
    if kind == "int":
        if k == core.INT:
            return v if core.INT64_MIN <= v <= core.INT64_MAX else None
        return core.parse_int_like_rust(v) if k == core.STR else None
    if kind == "float":
        if k == core.FLOAT:
            return v
        if k == core.INT:
            return core.int_to_float(v)
        return core.parse_float_like_rust(v) if k == core.STR else None
    if kind == "bool":
        if k == core.BOOL:
            return v
        return core.parse_bool_like_rust(v) if k == core.STR else None
    raise ValueError(f"unknown field kind {kind!r}")


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
    """Extract N typed fields from one JSON column with ONE parse per
    document.

    ``fields``: ``{out_name: (kind, *path)}`` with kind in
    ``FIELD_KINDS`` ({str,int,float,bool,text,length,exists,union_text,
    union_isnull}) and path elements str (key) / int (index).

    Returns a struct column; expand with ``.select(out["*"])`` or
    ``F.col("out.*")``.

    With the JVM exact tier loaded every field is one of its columns and
    no document crosses to Python; otherwise one Arrow UDF parses each
    document once for all K fields, replacing K ArrowEvalPython round
    trips and K parses with 1 + 1.

    ``json_profile`` is accepted and ignored (see :class:`JsonProfile`).
    """
    if isinstance(json_col, str):
        json_col = F.col(json_col)
    specs = []
    for name, spec in fields.items():
        kind, *path = spec
        if kind not in FIELD_KINDS:
            raise ValueError(
                f"unknown kind {kind!r} for field {name!r}; expected one "
                f"of {sorted(FIELD_KINDS)}"
            )
        specs.append((name, kind, tuple(path)))
    ret = "struct<" + ",".join(f"`{n}`:{FIELD_KINDS[k]}" for n, k, _ in specs) + ">"
    # parse_constant: reject NaN/Infinity tokens like the reference's
    # jiter — such documents are invalid, every field takes the fallback
    # row (core._reject_nonfinite_token)
    loads = functools.partial(
        json.loads, parse_constant=core._reject_nonfinite_token
    )

    def first_wins(pairs):
        # duplicate keys: the reference's linear scan takes the FIRST
        # match (src/common.rs:531-539); plain dict() would keep the last
        return dict(reversed(pairs))

    from .kernels import _dict_encode as dict_encode  # closure-captured
    from .kernels import _repair_utf8 as repair_utf8  # closure-captured

    text_value = core.text_value

    # Arrow output type per field (matches FIELD_KINDS / ret exactly)
    _pa_kind = {
        "string": pa.string(),
        "bigint": pa.int64(),
        "double": pa.float64(),
        "boolean": pa.bool_(),
    }
    out_types = tuple(_pa_kind[FIELD_KINDS[k]] for _, k, _ in specs)
    out_names = [n for n, _, _ in specs]

    def extract_row(s):
        if s is None:
            return tuple(
                False
                if k == "exists"
                else (True if k == "union_isnull" else None)
                for _, k, _p in specs
            )
        try:
            doc = loads(s, object_pairs_hook=first_wins)
        except Exception:
            return tuple(_fallback_one(s, k, p) for _, k, p in specs)
        out = []
        for _, k, p in specs:
            found, v = _nav(doc, p)
            if type(v) is str:
                # a string holding a lone surrogate has no value on any
                # kind
                v = text_value(v)
            if found and (
                (
                    k == "text"
                    and (
                        type(v) is dict
                        or type(v) is list
                        or type(v) is float
                        or (type(v) is int and v == 0)
                    )
                )
                or (
                    k in ("union_text", "length")
                    and (type(v) is dict or type(v) is list)
                )
            ):
                # raw-bytes fidelity; and json_length counts duplicate
                # members and stops at the finder's depth limit, which a
                # parsed dict/list cannot tell
                out.append(_fallback_one(s, k, p))
            else:
                out.append(_coerce(k, found, v))
        return tuple(out)

    def extract(js: pa.Array) -> pa.Array:
        """Every field over one batch. A batch that repeats its documents
        parses only the distinct ones, then one ``pc.take`` per field
        scatters them back (``dict_encode``, the reference's
        dictionary-array evaluation, src/common.rs:310-327). The helpers
        are closure-captured: an import of the package inside the body
        would need it on the worker's sys.path (foreign-cwd contract,
        __init__.py)."""
        import pyarrow.compute as pc

        pre = dict_encode(js)
        vals, idx = (js.to_pylist(), None) if pre is None else pre
        rows = [extract_row(s) for s in vals]
        # column-wise assembly: zip(*rows) transposes at C speed
        data = list(zip(*rows)) if rows else [[] for _ in specs]
        # from_pandas=True: a float NaN from the coercions stays SQL NULL
        children = [
            pa.array(col, type=t, from_pandas=True)
            for col, t in zip(data, out_types)
        ]
        if idx is not None:
            children = [pc.take(c, idx) for c in children]
        return pa.StructArray.from_arrays(children, names=out_names)

    @F.arrow_udf(ret)
    def _multi(js: pa.Array) -> pa.Array:
        # a batch holding invalid UTF-8 is read as the JVM tier reads it
        return repair_utf8(extract, js)

    # the JVM exact tier serves every kind; the Arrow UDF above is the
    # fallback
    jvm = jvm_tier.multi(json_col, specs)
    return _multi(json_col) if jvm is None else jvm
