"""Multi-field JSON extraction — N typed fields out of one JSON column
as one struct.

The reference evaluates one UDF per extraction, re-parsing the document
per call (mitigated by its call un-nesting for chained lookups;
SURVEY.md §2.3). With the JVM exact tier loaded, each field is one of
the tier's columns (:func:`.jvm_tier.multi`), so the document is scanned
once per field inside the executor and never crosses to Python. Without
the tier, one Arrow UDF parses each document once (C-accelerated
``json.loads``) and emits the struct — one JVM→Python Arrow hop, one
parse, N fields.

Semantics per field mirror the single-field kernels exactly (same
coercion and null taxonomy); documents where strict full-document
parsing fails (invalid JSON — or valid-prefix-plus-garbage, which the
streaming finder tolerates) fall back to the per-path streaming finder,
so results are IDENTICAL to N separate calls.
"""

from __future__ import annotations

import functools
import json
import re
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
    # row (core._reject_nonfinite_token; orjson rejects them natively)
    loads = functools.partial(
        json.loads, parse_constant=core._reject_nonfinite_token
    )
    try:  # orjson (Rust): ~6× the hooked stdlib path; guarded below
        from orjson import loads as fast_loads

        # orjson float-ifies ints outside [i64::MIN, u64::MAX]; any 19+
        # digit run routes to the stdlib path (see core._BIG_DIGITS)
        big_digits = re.compile(r"[0-9]{19}").search
    except ImportError:  # pragma: no cover
        fast_loads = loads
        big_digits = None

    def first_wins(pairs):
        # duplicate keys: the reference's linear scan takes the FIRST
        # match (src/common.rs:531-539); plain dict() would keep the last
        return dict(reversed(pairs))

    # textual guard (same proof as core.find_scalar): with no backslashes,
    # counting '"key"' occurrences bounds the members with that name, so a
    # single occurrence of every queried path key means first-match ==
    # plain-dict lookup and the hook (and its per-object cost) is
    # unnecessary. Any ambiguity -> stdlib loads with the first-wins hook.
    quoted_keys = tuple(
        '"%s"' % p
        for p in {p for _, _, path in specs for p in path if isinstance(p, str)}
    )

    # Does any kind OBSERVE the INT-vs-lossy-FLOAT distinction orjson
    # introduces for integers outside [i64::MIN, u64::MAX]? Only the
    # union kinds (big int -> null arm). Every other kind coerces the
    # two identically ('int': both -> NULL out of range; 'float':
    # float(exact int) == the lossy double; 'text': floats take the
    # raw-slice fallback anyway; str/bool -> NULL; exists/length
    # untouched) — same per-kind proofs as kernels._scalar_pairs.
    needs_big = any(k in ("union_text", "union_isnull") for _, k, _ in specs)
    from .kernels import _dict_encode as dict_encode  # closure-captured
    from .kernels import _fast_mask as fast_mask  # closure-captured

    text_value = core.text_value
    too_deep = core._may_nest_too_deep

    # Arrow output type per field (matches FIELD_KINDS / ret exactly)
    _pa_kind = {
        "string": pa.string(),
        "bigint": pa.int64(),
        "double": pa.float64(),
        "boolean": pa.bool_(),
    }
    out_types = tuple(_pa_kind[FIELD_KINDS[k]] for _, k, _ in specs)
    out_names = [n for n, _, _ in specs]

    def extract_row(s, use_fast=None):
        if s is None:
            return tuple(
                False
                if k == "exists"
                else (True if k == "union_isnull" else None)
                for _, k, _p in specs
            )
        try:
            if use_fast is None:
                use_fast = not (
                    "\\" in s
                    or any(s.count(q) > 1 for q in quoted_keys)
                    or (big_digits is not None and big_digits(s) is not None)
                    or too_deep(s)
                )
            if use_fast:
                doc = fast_loads(s)
            else:
                doc = loads(s, object_pairs_hook=first_wins)
        except Exception:
            return tuple(_fallback_one(s, k, p) for _, k, p in specs)
        out = []
        for _, k, p in specs:
            found, v = _nav(doc, p)
            if not use_fast and type(v) is str:
                # only a document with escapes can decode to a lone
                # surrogate; such a string has no value on any kind
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

    @F.arrow_udf(ret)
    def _multi(js: pa.Array) -> pa.Array:
        # round-17: the textual guards run batch-vectorized over the
        # Arrow buffer (kernels._fast_mask, guide §4.2) — identical
        # conditions, one pyarrow.compute pass instead of 2+K C-string
        # calls per row; the big-digit term only when a union kind
        # observes it (see needs_big above). mask=None (no pyarrow /
        # exotic batch) keeps the per-row guard path bit-identically.
        # fast_mask is CLOSURE-captured, never imported here: a module
        # import inside the UDF body would need the package on the
        # worker's sys.path (foreign-cwd contract, __init__.py).
        # round-18: (a) true Arrow UDF — the batch never materializes
        # as pandas on either side; typed pa.array outputs
        # (from_pandas=True keeps the pandas NaN→null coercion);
        # (b) dictionary shortcut (kernels._dict_encode): when the
        # batch's documents repeat, parse+extract only the DISTINCT
        # documents (plus one None for the null-row tuple) and scatter
        # the per-field columns back via one pc.take each —
        # bit-identical because extract_row is a pure per-row function
        # (the reference's dictionary-array evaluation,
        # src/common.rs:310-327).
        import pyarrow.compute as pc

        pre = dict_encode(js)
        if pre is None:
            idx = None
            vals = js.to_pylist()
            mask = fast_mask(
                js, quoted_keys, needs_big and big_digits is not None
            )
        else:
            vals, idx = pre
            mask = fast_mask(
                vals, quoted_keys, needs_big and big_digits is not None
            )
        if mask is None:
            rows = [extract_row(s) for s in vals]
        else:
            rows = [
                extract_row(s, bool(ok)) for s, ok in zip(vals, mask)
            ]
        # column-wise assembly: zip(*rows) transposes at C speed
        data = list(zip(*rows)) if rows else [[] for _ in specs]
        children = [
            pa.array(col, type=t, from_pandas=True)
            for col, t in zip(data, out_types)
        ]
        if idx is not None:
            children = [pc.take(c, idx) for c in children]
        return pa.StructArray.from_arrays(children, names=out_names)

    # the JVM exact tier serves every kind; the Arrow UDF above is the
    # fallback
    jvm = jvm_tier.multi(json_col, specs)
    return _multi(json_col) if jvm is None else jvm
