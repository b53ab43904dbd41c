"""Pure-Python JSON path engine — the single point of truth every kernel
shares.

Re-expresses the semantics of the reference's ``jiter_json_find``
(reference: src/common.rs:525-557): streaming traversal over the *raw JSON
text*, value-skipping for unwanted keys/elements, raw-slice capture for
container values (so ``json_get_json`` can return ``4.2e-1`` verbatim —
reference: src/json_get_json.rs:85-90), and a strict never-throw contract
(every data error becomes MISSING — reference: src/common.rs:559-578).

The scanner leans on CPython's C-accelerated ``json`` internals
(``JSONDecoder.raw_decode`` for value skipping / end-offset discovery and
``scanstring`` for object keys) instead of a handwritten per-character loop:
we get slice fidelity without paying pure-Python tokenization costs.

Kind taxonomy (mirrors the JsonUnion member set, reference:
src/common_union.rs:176-182):

    MISSING  — path absent / index OOB / type mismatch / invalid JSON
    NULL     — JSON null present at the path
    BOOL/INT/FLOAT/STR — scalar found (python bool/int/float/str value)
    ARRAY/OBJECT       — container found; value is the RAW TEXT slice

MISSING and NULL both collapse into the union's null member for ``json_get``
(reference: src/common_union.rs:53), but the distinction is load-bearing for
``json_contains`` (present-null => true, reference: tests/main.rs:21-43) and
``json_get_json`` (present-null => literal ``null`` text, missing => SQL
NULL, reference: tests/main.rs:486-505).

Streaming semantics: only as much of the document as needed is examined, so
trailing garbage after the found value does not invalidate the result (same
observable behavior as the reference's event parser).
"""

from __future__ import annotations

import json
import re
from json.decoder import scanstring
from typing import Optional, Sequence, Tuple, Union

__all__ = [
    "MISSING",
    "NULL",
    "BOOL",
    "INT",
    "FLOAT",
    "STR",
    "ARRAY",
    "OBJECT",
    "INT64_MIN",
    "INT64_MAX",
    "find",
    "find_raw",
    "exists_at",
    "length_at",
    "keys_at",
    "items_at",
    "json_dumps_canonical",
    "text_value",
    "int_to_float",
    "parse_int_like_rust",
    "parse_float_like_rust",
    "parse_bool_like_rust",
]

# Kind tags — small ints doubling as the union struct type_ids (reference:
# src/common_union.rs:176-182: null=0 bool=1 int=2 float=3 str=4 array=5
# object=6). MISSING is -1: not a union member; the union builder maps it to
# the null arm exactly as push_none() does (reference:
# src/common_union.rs:124-127).
MISSING = -1
NULL = 0
BOOL = 1
INT = 2
FLOAT = 3
STR = 4
ARRAY = 5
OBJECT = 6

INT64_MIN = -(2**63)
INT64_MAX = 2**63 - 1

_WS = " \t\n\r"
def _reject_nonfinite_token(tok):
    """jiter parity: the reference's parser is strict JSON — a bare
    ``NaN``/``Infinity``/``-Infinity`` token makes the DOCUMENT invalid
    (all getters null/false for the row), unlike Python's tolerant
    default which parses them as floats (reference: jiter strictness,
    tests/main.rs invalid-input rows; closes the last documented
    tolerance delta in COVERAGE.md)."""
    raise ValueError(f"invalid JSON constant {tok!r}")


# The streaming finder gives up on values nested deeper than this many
# containers: about CPython's recursion limit, checked exactly by
# _nests_too_deep. JsonFinder.DEPTH_LIMIT on the JVM tier is the same
# number.
DEPTH_LIMIT = 960


def _raw_decode(s: str, i: int):
    """C-accelerated ``JSONDecoder.raw_decode`` with a process-local
    decoder instance.

    The instance is cached on the stdlib ``json`` module (which is always
    reference-pickled) instead of on this module: this module is
    cloudpickle'd BY VALUE into UDF closures so workers need no import
    path, and the C ``_json.Scanner`` inside a ``JSONDecoder`` cannot be
    pickled.
    """
    rd = getattr(json, "_dfjs_raw_decode", None)
    if rd is None:
        # parse_constant: reject NaN/Infinity tokens like jiter (the
        # reference treats such documents as invalid JSON)
        rd = json.JSONDecoder(
            parse_constant=_reject_nonfinite_token
        ).raw_decode
        json._dfjs_raw_decode = rd
    return rd(s, i)

PathElem = Union[str, int]

# a decoded JSON string holding a lone surrogate (an unpaired \ud800-\udfff
# escape; decoding joins the valid pairs): jiter and serde_json reject
# such strings and Spark's UTF-8 strings cannot hold them
_LONE_SURROGATE = re.compile("[\ud800-\udfff]").search


def text_value(v):
    """A decoded JSON string as a result value: ``v``, or None when it
    holds a lone surrogate."""
    return None if _LONE_SURROGATE(v) else v


def int_to_float(v: int) -> float:
    """The nearest double to a JSON integer, ±inf beyond the double range
    (Python's ``float(int)`` raises there; a text parse gives inf)."""
    try:
        return float(v)
    except OverflowError:
        return float("inf") if v > 0 else float("-inf")


def _skip_ws(s: str, i: int, n: int) -> int:
    while i < n and s[i] in _WS:
        i += 1
    return i


# a JSON string, and a run of characters that are not brackets
_STRING = re.compile(r'"(?:[^"\\]|\\.)*"')
_NOT_BRACKETS = re.compile(r"[^\[\]{}]+")


def _nests_too_deep(s: str, i: int, end: int) -> bool:
    """Whether the decoded value ``s[i:end]`` nests more than DEPTH_LIMIT
    containers. CPython's recursion limit alone stops the scanner
    somewhere between about 900 and 1000 levels, depending on the frames
    already on the stack; this check makes the limit exactly the JVM
    tier's."""
    if s.count("{", i, end) + s.count("[", i, end) <= DEPTH_LIMIT:
        return False
    depth = 0
    for c in _NOT_BRACKETS.sub("", _STRING.sub("", s[i:end])):
        if c in "[{":
            depth += 1
            if depth > DEPTH_LIMIT:
                return True
        else:
            depth -= 1
    return False


def _skip_value(s: str, i: int) -> int:
    """Index just past the value starting at ``i``. The decoded object is
    discarded (the reference skips without materializing — jiter
    ``next_skip`` — but cost is O(len) either way; ours runs at C speed).
    Raises ValueError on malformed input and on a value nested deeper
    than DEPTH_LIMIT (callers convert both to MISSING)."""
    _, end = _raw_decode(s, i)
    if _nests_too_deep(s, i, end):
        raise ValueError("nested deeper than DEPTH_LIMIT")
    return end


def _descend_key(s: str, i: int, n: int, key: str) -> int:
    """From a value position, descend into object member ``key``.

    Returns the member value's index, or -1 when this value is not an
    object / the key is absent. Linear scan with value skipping, first
    match wins (reference: src/common.rs:531-539)."""
    i = _skip_ws(s, i, n)
    if i >= n or s[i] != "{":
        return -1
    i = _skip_ws(s, i + 1, n)
    if i < n and s[i] == "}":
        return -1
    while True:
        if i >= n or s[i] != '"':
            raise ValueError("expected object key")
        k, i = scanstring(s, i + 1)
        i = _skip_ws(s, i, n)
        if i >= n or s[i] != ":":
            raise ValueError("expected ':'")
        i = _skip_ws(s, i + 1, n)
        if k == key:
            return i
        i = _skip_value(s, i)
        i = _skip_ws(s, i, n)
        if i < n and s[i] == ",":
            i = _skip_ws(s, i + 1, n)
            continue
        if i < n and s[i] == "}":
            return -1
        raise ValueError("expected ',' or '}'")


def _descend_index(s: str, i: int, n: int, idx: int) -> int:
    """Descend into array element ``idx`` (0-based); -1 when not an array /
    out of bounds. Negative indexes never reach here (MISSING earlier —
    reference: src/common.rs:90-97)."""
    i = _skip_ws(s, i, n)
    if i >= n or s[i] != "[":
        return -1
    i = _skip_ws(s, i + 1, n)
    if i < n and s[i] == "]":
        return -1
    pos = 0
    while True:
        if pos == idx:
            return i
        i = _skip_value(s, i)
        i = _skip_ws(s, i, n)
        if i < n and s[i] == ",":
            i = _skip_ws(s, i + 1, n)
            pos += 1
            continue
        if i < n and s[i] == "]":
            return -1
        raise ValueError("expected ',' or ']'")


def _navigate(s: str, path: Sequence[PathElem]) -> Tuple[int, int]:
    """Walk ``path`` from the document root; return (value_index, doc_len)
    with value_index -1 on any miss. Raises ValueError on malformed JSON
    encountered *along the way* (converted to MISSING by entry points)."""
    n = len(s)
    i = _skip_ws(s, 0, n)
    if i >= n:
        return -1, n
    for p in path:
        if p is None:
            return -1, n
        if isinstance(p, str):
            i = _descend_key(s, i, n, p)
        elif isinstance(p, bool):  # guard: bool is an int subclass
            return -1, n
        else:
            p = int(p)
            if p < 0:
                return -1, n
            i = _descend_index(s, i, n, p)
        if i < 0:
            return -1, n
    return i, n


def find(s, path):
    """Find the parsed value at ``path`` inside raw JSON text ``s``.

    ``path`` is a sequence of str (object key) / int (array index) elements
    — the reference's variadic path model (reference: src/common.rs:71-97),
    NOT Spark's '$.a[0]' JSONPath strings.

    Returns ``(kind, value)`` with container values as RAW TEXT slices;
    never raises on data errors (reference: src/common.rs:559-578). A
    string holding a lone surrogate is ``(STR, None)``: it exists, but
    has no value.
    """
    if s is None:
        return MISSING, None
    try:
        i, n = _navigate(s, path)
        if i < 0:
            return MISSING, None
        c = s[i]
        if c == "{":
            return OBJECT, s[i : _skip_value(s, i)]
        if c == "[":
            return ARRAY, s[i : _skip_value(s, i)]
        if c == '"':
            v, _ = scanstring(s, i + 1)
            return STR, text_value(v)
        v, _ = _raw_decode(s, i)
        if v is None:
            return NULL, None
        if v is True or v is False:
            return BOOL, v
        if isinstance(v, int):
            return INT, v
        if isinstance(v, float):
            return FLOAT, v
        raise ValueError("unexpected scalar")
    except (ValueError, TypeError, RecursionError, IndexError, StopIteration):
        return MISSING, None


def find_raw(s, path):
    """Like :func:`find` but preserving the document's exact bytes.

    Returns ``(kind, raw, strval)``: ``raw`` is the verbatim text slice of
    the value for EVERY kind (strings stay quoted, ``4.2e-1`` stays
    ``4.2e-1`` — reference: tests/main.rs:507-512); ``strval`` is the
    decoded string when kind == STR (for ``json_as_text``'s unquoting,
    reference: src/json_as_text.rs:101-112; None when it holds a lone
    surrogate), else None.
    MISSING => (MISSING, None, None).
    """
    if s is None:
        return MISSING, None, None
    try:
        i, n = _navigate(s, path)
        if i < 0:
            return MISSING, None, None
        c = s[i]
        if c == "{":
            return OBJECT, s[i : _skip_value(s, i)], None
        if c == "[":
            return ARRAY, s[i : _skip_value(s, i)], None
        if c == '"':
            v, end = scanstring(s, i + 1)
            return STR, s[i:end], text_value(v)
        v, end = _raw_decode(s, i)
        raw = s[i:end]
        if v is None:
            return NULL, raw, None
        if v is True or v is False:
            return BOOL, raw, None
        if isinstance(v, int):
            return INT, raw, None
        if isinstance(v, float):
            return FLOAT, raw, None
        raise ValueError("unexpected scalar")
    except (ValueError, TypeError, RecursionError, IndexError, StopIteration):
        return MISSING, None, None


def exists_at(s, path) -> bool:
    """True iff the path EXISTS — including when the value is JSON null
    (reference: tests/main.rs:21-43). Invalid JSON => False, never an error
    (reference: src/json_contains.rs:103-106)."""
    if s is None:
        return False
    try:
        i, _ = _navigate(s, path)
        if i < 0:
            return False
        # The value must at least tokenize for existence (the reference's
        # find returns a Peek into a well-formed value).
        _skip_value(s, i)
        return True
    except (ValueError, TypeError, RecursionError, IndexError, StopIteration):
        return False


def length_at(s, path):
    """Array element count / object key count at the path; scalars,
    strings, missing and invalid => None (reference:
    src/json_length.rs:99-128). Counts by value-skipping — no
    materialization."""
    if s is None:
        return None
    try:
        i, n = _navigate(s, path)
        if i < 0:
            return None
        c = s[i]
        if c == "[":
            i = _skip_ws(s, i + 1, n)
            if i < n and s[i] == "]":
                return 0
            count = 0
            while True:
                i = _skip_value(s, i)
                count += 1
                i = _skip_ws(s, i, n)
                if i < n and s[i] == ",":
                    i = _skip_ws(s, i + 1, n)
                    continue
                if i < n and s[i] == "]":
                    return count
                raise ValueError("expected ',' or ']'")
        if c == "{":
            keys = _object_keys(s, i, n)
            return len(keys)
        return None
    except (ValueError, TypeError, RecursionError, IndexError, StopIteration):
        return None


def _object_keys(s: str, i: int, n: int):
    """Keys of the object starting at ``i`` in document order."""
    i = _skip_ws(s, i + 1, n)
    keys = []
    if i < n and s[i] == "}":
        return keys
    while True:
        if i >= n or s[i] != '"':
            raise ValueError("expected object key")
        k, i = scanstring(s, i + 1)
        keys.append(k)
        i = _skip_ws(s, i, n)
        if i >= n or s[i] != ":":
            raise ValueError("expected ':'")
        i = _skip_ws(s, i + 1, n)
        i = _skip_value(s, i)
        i = _skip_ws(s, i, n)
        if i < n and s[i] == ",":
            i = _skip_ws(s, i + 1, n)
            continue
        if i < n and s[i] == "}":
            return keys
        raise ValueError("expected ',' or '}'")


def keys_at(s, path):
    """Object keys in document order at the path; non-object (including
    array) / missing / a key holding a lone surrogate => None (reference:
    src/json_object_keys.rs:122-141)."""
    if s is None:
        return None
    try:
        i, n = _navigate(s, path)
        if i < 0 or s[i] != "{":
            return None
        keys = _object_keys(s, i, n)
        if any(_LONE_SURROGATE(k) for k in keys):
            return None
        return keys
    except (ValueError, TypeError, RecursionError, IndexError, StopIteration):
        return None


def items_at(s, path):
    """RAW TEXT of each element of the JSON array at the path — elements
    verbatim including literal ``null`` and nested containers (reference:
    src/json_get_array.rs:119-144, tests/main.rs:103-163). Non-array /
    missing => None."""
    if s is None:
        return None
    try:
        i, n = _navigate(s, path)
        if i < 0 or s[i] != "[":
            return None
        i = _skip_ws(s, i + 1, n)
        items = []
        if i < n and s[i] == "]":
            return items
        while True:
            end = _skip_value(s, i)
            items.append(s[i:end])
            i = _skip_ws(s, end, n)
            if i < n and s[i] == ",":
                i = _skip_ws(s, i + 1, n)
                continue
            if i < n and s[i] == "]":
                return items
            raise ValueError("expected ',' or ']'")
    except (ValueError, TypeError, RecursionError, IndexError, StopIteration):
        return None


def json_dumps_canonical(kind: int, value) -> Optional[str]:
    """Serialize one (kind, value) pair to canonical JSON text — the
    flattening rule of ``json_union_to_text`` (reference:
    src/json_union_to_text.rs:82-118): bool/int/float canonical, strings
    JSON-quoted+escaped, containers raw passthrough, null member or a
    string without a value => None (SQL NULL)."""
    if kind in (NULL, MISSING) or (kind == STR and value is None):
        return None
    if kind == BOOL:
        return "true" if value else "false"
    if kind in (ARRAY, OBJECT):
        return value
    if kind == STR:
        return json.dumps(value, ensure_ascii=False)
    if kind == INT:
        return str(value)
    if kind == FLOAT:
        # serde_json writes non-finite floats as JSON null (reference:
        # src/json_union_to_text.rs float arm); Python json.dumps would
        # emit the non-standard 'Infinity'/'NaN' tokens
        if value != value or value in (float("inf"), float("-inf")):
            return "null"
        return json.dumps(value)
    raise ValueError(f"cannot serialize kind {kind}")


def parse_int_like_rust(s: str):
    """Rust ``i64::from_str`` semantics for json_get_int's string coercion
    (reference: src/json_get_int.rs:102-105, tests/main.rs:318-343):
    optional sign + decimal digits ONLY — '123'=>123, '1.5'=>None,
    ' 1'=>None, '1e2'=>None, out-of-i64-range=>None."""
    if not s:
        return None
    body = s[1:] if s[0] in "+-" else s
    if not body or not body.isascii() or not body.isdigit():
        return None
    v = int(s)
    if v < INT64_MIN or v > INT64_MAX:
        return None
    return v


def parse_float_like_rust(s: str):
    """Rust ``f64::from_str`` semantics for json_get_float's string
    coercion (reference: src/json_get_float.rs:119-122): accepts decimal /
    scientific forms plus 'inf', 'infinity', 'nan' (case-insensitive,
    optional sign); rejects hex, underscores, whitespace."""
    if not s:
        return None
    t = s.strip()
    if t != s:  # Rust f64::parse rejects surrounding whitespace
        return None
    low = s.lower()
    body = low[1:] if low[0] in "+-" else low
    if body in ("inf", "infinity"):
        return float("-inf") if low[0] == "-" else float("inf")
    if body == "nan":
        return float("nan")
    # Python float() additionally accepts '_' separators and leading/
    # trailing junk is already excluded; reject underscores explicitly.
    if "_" in s:
        return None
    try:
        return float(s)
    except ValueError:
        return None


def parse_bool_like_rust(s: str):
    """Rust ``bool::from_str``: only exact 'true'/'false' (reference:
    src/json_get_bool.rs:75-78)."""
    if s == "true":
        return True
    if s == "false":
        return False
    return None
