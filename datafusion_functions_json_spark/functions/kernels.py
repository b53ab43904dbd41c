"""Row kernels for the 13 JSON functions.

Plain Python over :mod:`.core` — no SparkSession needed, mirroring the
reference's two-layer testability (kernels invokable directly, reference:
tests/main.rs:689-718 call ``invoke_with_args`` below the planner). Each
kernel takes the JSON column as an iterable of ``str | None`` plus a
per-row iterable of path tuples (``itertools.repeat(path)`` for the
literal-path case — the dominant one), and returns plain Python lists
ready for Arrow conversion. Every kernel reads a document through the
streaming finder (``core.find``/``find_raw`` and friends), as the
reference reads it through ``jiter_json_find`` (src/common.rs:525-557).

Semantics per function are documented in SURVEY.md §2.1 with reference
file:line citations; the shared traversal lives in :mod:`.core`.
"""

from __future__ import annotations

import itertools
import sys
from typing import Iterable, Optional, Sequence

from . import core
from .core import (
    ARRAY,
    BOOL,
    FLOAT,
    INT,
    INT64_MAX,
    INT64_MIN,
    MISSING,
    NULL,
    OBJECT,
    STR,
)

from .. import _register_pickle_by_value

# Spark's workers unpickle this module's code by value; the binding is
# dropped because a module shipped by value ships every name it holds
_register_pickle_by_value(sys.modules[__name__])
del _register_pickle_by_value

__all__ = [
    "repeat_path",
    "kernel_json_get",
    "kernel_json_get_str",
    "kernel_json_get_int",
    "kernel_json_get_float",
    "kernel_json_get_bool",
    "kernel_json_get_json",
    "kernel_json_get_array",
    "kernel_json_as_text",
    "kernel_json_contains",
    "kernel_json_length",
    "kernel_json_object_keys",
    "kernel_json_union_to_text",
    "kernel_json_to_text_fused",
    "kernel_json_is_null_fused",
    "UNION_FIELDS",
]

# Union struct member layout — order and names follow the reference's
# sparse-union members (reference: src/common_union.rs:184-205).
UNION_FIELDS = ("type_id", "bool", "int", "float", "str", "array", "object")


def repeat_path(path: Sequence) -> Iterable:
    """Per-row path iterable for a literal path (broadcast, zero-copy)."""
    return itertools.repeat(tuple(path))


def kernel_json_get(json_vals, paths):
    """json_get → union struct columns (reference: src/json_get.rs:109-151).

    Returns a dict of 7 parallel lists (see UNION_FIELDS). MISSING and JSON
    null both land in the null arm: type_id=0, all members None (reference:
    src/common_union.rs:53). JSON ints beyond i64 → null arm (the reference
    panics via ``todo!`` at src/json_get.rs:147; we keep the query alive —
    documented deviation).
    """
    tids, bools, ints, floats, strs, arrs, objs = ([] for _ in range(7))
    for kind, v in map(core.find, json_vals, paths):
        b = i = f = st = ar = ob = None
        if kind == BOOL:
            tid, b = 1, v
        elif kind == INT:
            if INT64_MIN <= v <= INT64_MAX:
                tid, i = 2, v
            else:
                tid = 0
        elif kind == FLOAT:
            tid, f = 3, v
        elif kind == STR and v is not None:
            tid, st = 4, v
        elif kind == ARRAY:
            tid, ar = 5, v
        elif kind == OBJECT:
            tid, ob = 6, v
        else:  # NULL, MISSING, a lone-surrogate string -> null arm
            tid = 0
        tids.append(tid)
        bools.append(b)
        ints.append(i)
        floats.append(f)
        strs.append(st)
        arrs.append(ar)
        objs.append(ob)
    return {
        "type_id": tids,
        "bool": bools,
        "int": ints,
        "float": floats,
        "str": strs,
        "array": arrs,
        "object": objs,
    }


def _dict_encode(json_vals, min_rows=1024, sample=256):
    """Per-batch dictionary shortcut (round-18 optimization, guide §4.2):
    the Arrow-native analog of the reference's dictionary-array
    evaluation (reference: src/common.rs:310-327 runs kernels on the
    dictionary VALUES and remaps keys). Real JSON columns are often
    low-cardinality (enums, templated payloads, repeated configs);
    when a batch's documents repeat, parsing each DISTINCT document
    once and scattering results back is strictly less work than
    parsing every row — and bit-identical, because every kernel is a
    pure per-row function.

    Returns ``(distinct_vals + [None], idx)`` where ``idx`` is an Arrow
    index array mapping each input row to its distinct value (null
    rows map to the appended ``None`` slot, so kernels compute the
    null-row result themselves), or ``None`` when the shortcut does
    not apply: batch under ``min_rows``, a head-``sample`` probe reads
    mostly-distinct (>7/8), the full encode finds fewer than 2 rows
    per distinct value, pyarrow is unavailable, or the batch isn't
    plain strings. The two cardinality gates bound the overhead on
    high-cardinality data to one hash pass over the sampled head
    (~0.25 ms / 256 rows) plus, past the head gate, one
    ``dictionary_encode`` (~27 ns/row measured) — callers then run the
    unchanged direct path."""
    try:  # pragma: no cover - environment-dependent
        import pyarrow as pa
        import pyarrow.compute as pc
    except ImportError:
        return None
    arr = None
    if isinstance(json_vals, pa.ChunkedArray):
        json_vals = json_vals.combine_chunks()
    if isinstance(json_vals, pa.Array):
        arr = json_vals
        n = len(arr)
        if n < min_rows:
            return None
        head = arr.slice(0, sample).to_pylist()
    else:
        try:
            n = len(json_vals)
        except TypeError:
            return None
        if n < min_rows:
            return None
        head = json_vals[:sample]
    try:
        distinct = len(set(head))
    except TypeError:
        return None  # unhashable entries: not plain strings
    if distinct * 8 > sample * 7:
        return None  # mostly-distinct head: dedup unlikely to pay
    try:
        if arr is None:
            arr = pa.array(json_vals, type=pa.string(), from_pandas=True)
        enc = arr.dictionary_encode()
    except Exception:
        return None
    d = len(enc.dictionary)
    if d * 2 > n:
        return None  # head lied (e.g. sorted input): direct path
    idx = pc.fill_null(enc.indices, d)
    return enc.dictionary.to_pylist() + [None], idx


def _jvm_replace(e: UnicodeDecodeError):
    """Decode error handler reading a bad sequence as one U+FFFD, the
    JVM's way: as Python's ``replace`` does, except that an encoded
    surrogate (``ED`` then ``A0``-``BF``) is one sequence, not three."""
    b, i = e.object, e.start
    if b[i] == 0xED and b[i + 1:i + 2] and 0xA0 <= b[i + 1] <= 0xBF:
        whole = b[i + 2:i + 3] and 0x80 <= b[i + 2] <= 0xBF
        return "\ufffd", i + (3 if whole else 2)
    return "\ufffd", e.end


def _repair_utf8(body, js):
    """``body(js)`` over an Arrow batch of JSON text. When decoding the
    batch hits invalid UTF-8 (a string column cast from binary), ``body``
    runs again over the batch with each bad sequence read as U+FFFD, as
    the JVM reads a Spark string (``UTF8String.toString``); only such a
    batch pays for the repair."""
    try:
        return body(js)
    except UnicodeDecodeError:
        import codecs

        import pyarrow as pa

        codecs.register_error("jvm_replace", _jvm_replace)
        raw = js.view(pa.binary()).to_pylist()
        fixed = [b if b is None else b.decode("utf-8", "jvm_replace") for b in raw]
        return body(pa.array(fixed, pa.string()))


def kernel_json_get_str(json_vals, paths):
    """Value only if a JSON string; everything else NULL (reference:
    src/json_get_str.rs:74-77)."""
    return [
        v if kind == STR else None
        for kind, v in map(core.find, json_vals, paths)
    ]


def kernel_json_get_int(json_vals, paths):
    """JSON int → value; JSON string parsed with Rust i64 semantics
    ('123'→123, '1.5'→NULL); float/bool/null/containers/BigInt → NULL
    (reference: src/json_get_int.rs:102-116).

    DELIBERATE DEVIATION: the reference's jiter match arms omit
    ``Peek::Minus``, so a NEGATIVE JSON number (``{"k": -5}``) errors
    there and surfaces as NULL; we return the value (-5), matching JSON
    semantics and the DuckDB oracle (same deviation class as the BigInt
    ``todo!`` null-arm documented on kernel_json_get). Pinned by
    tests/test_functions.py::test_negative_numbers_returned."""
    out = []
    for kind, v in map(core.find, json_vals, paths):
        if kind == INT:
            out.append(v if INT64_MIN <= v <= INT64_MAX else None)
        elif kind == STR:
            out.append(core.parse_int_like_rust(v))
        else:
            out.append(None)
    return out


def kernel_json_get_float(json_vals, paths):
    """JSON int or float → f64 (int coerced, reference:
    src/json_get_float.rs:115-118); string parsed with Rust f64 semantics;
    bool/null/containers → NULL. Same deliberate negative-number
    deviation as :func:`kernel_json_get_int` (reference
    src/json_get_float.rs:110 omits Peek::Minus; we return the value)."""
    out = []
    for kind, v in map(core.find, json_vals, paths):
        if kind == FLOAT:
            out.append(v)
        elif kind == INT:
            out.append(core.int_to_float(v))
        elif kind == STR:
            out.append(core.parse_float_like_rust(v))
        else:
            out.append(None)
    return out


def kernel_json_get_bool(json_vals, paths):
    """JSON true/false → value; string only exact 'true'/'false'
    (reference: src/json_get_bool.rs:75-78); everything else NULL."""
    out = []
    for kind, v in map(core.find, json_vals, paths):
        if kind == BOOL:
            out.append(v)
        elif kind == STR:
            out.append(core.parse_bool_like_rust(v))
        else:
            out.append(None)
    return out


def kernel_json_get_json(json_vals, paths):
    """RAW JSON text of the value at the path, any type: strings stay
    quoted, JSON null → literal 'null' text, floats verbatim ('4.2e-1');
    missing → SQL NULL (reference: src/json_get_json.rs:84-94,
    tests/main.rs:486-512)."""
    return [
        None if kind == MISSING else raw
        for kind, raw, _ in map(core.find_raw, json_vals, paths)
    ]


def kernel_json_get_array(json_vals, paths):
    """JSON array → list of raw-text elements (literal 'null' kept);
    non-array / missing → NULL list (reference:
    src/json_get_array.rs:119-144)."""
    return list(map(core.items_at, json_vals, paths))


def kernel_json_as_text(json_vals, paths):
    """Postgres ->> : JSON string → unquoted text; JSON null → SQL NULL;
    any other present value → raw JSON text (reference:
    src/json_as_text.rs:101-112)."""
    out = []
    for kind, raw, sval in map(core.find_raw, json_vals, paths):
        if kind == STR:
            out.append(sval)
        elif kind == MISSING or kind == NULL:
            out.append(None)
        else:
            out.append(raw)
    return out


def kernel_json_contains(json_vals, paths):
    """TRUE iff the path exists — including present-null (reference:
    tests/main.rs:21-43); invalid JSON → False, never an error (reference:
    src/json_contains.rs:103-106)."""
    return list(map(core.exists_at, json_vals, paths))


def kernel_json_length(json_vals, paths):
    """Array element count / object key count; scalar/string/missing/
    invalid → NULL (reference: src/json_length.rs:99-128)."""
    return list(map(core.length_at, json_vals, paths))


def kernel_json_object_keys(json_vals, paths):
    """Object keys in document order; non-object / missing → NULL
    (reference: src/json_object_keys.rs:122-141)."""
    return list(map(core.keys_at, json_vals, paths))


def kernel_json_to_text_fused(json_vals, paths):
    """Fused ``json_union_to_text(json_get(j, *path))`` — one parse, one
    Arrow hop: find the value and canonicalize directly, skipping the
    intermediate union struct. Same output as the two-step composition
    (strings re-encoded canonically, containers raw passthrough, null
    arm/missing/out-of-range ints => SQL NULL)."""
    out = []
    for kind, v in map(core.find, json_vals, paths):
        if kind == INT and not (INT64_MIN <= v <= INT64_MAX):
            out.append(None)  # big ints land in the null arm (union rules)
        else:
            out.append(core.json_dumps_canonical(kind, v))
    return out


def kernel_json_is_null_fused(json_vals, paths):
    """Fused ``json_is_null(json_get(j, *path))``: true iff the union
    would hold the null arm (missing / json-null / invalid / big int /
    a lone-surrogate string)."""
    out = []
    for kind, v in map(core.find, json_vals, paths):
        out.append(
            kind in (MISSING, NULL)
            or (kind == INT and not (INT64_MIN <= v <= INT64_MAX))
            or (kind == STR and v is None)
        )
    return out


def kernel_json_union_to_text(
    type_ids, bools, ints, floats, strs, arrs, objs
):
    """Flatten union struct rows → canonical JSON text (reference:
    src/json_union_to_text.rs:82-118): null arm, unknown type id or a
    NULL member → SQL NULL, bool/int canonical, float via repr (matches
    serde_json for normal values), strings JSON-quoted+escaped,
    containers raw passthrough.

    Takes the 7 member columns as parallel sequences (a struct column
    arrives in pandas as a DataFrame; the wrapper splits it).
    """
    out = []
    for tid, b, i, f, st, ar, ob in zip(
        type_ids, bools, ints, floats, strs, arrs, objs
    ):
        # NaN guard: a struct column with NULLs arrives from Arrow→pandas
        # with numeric members as float dtype (None => NaN).
        if tid is None or tid != tid or tid == 0:
            out.append(None)
        elif tid == 1:
            out.append(None if b is None else "true" if b else "false")
        elif tid == 2:
            out.append(None if i is None else str(int(i)))
        elif tid == 3:
            out.append(
                None if f is None else core.json_dumps_canonical(FLOAT, float(f))
            )
        elif tid == 4:
            out.append(core.json_dumps_canonical(STR, st))
        elif tid == 5:
            out.append(ar)
        elif tid == 6:
            out.append(ob)
        else:
            out.append(None)
    return out
