"""Property-based differential tests: the streaming scanner in
functions/core.py vs strict DOM navigation over arbitrary generated JSON.
The reference ships no fuzz tests (SURVEY §5.8); this is our stronger
replacement — pure Python; only the UDF-body check builds a SparkSession.
"""

from __future__ import annotations

import json
import math

from hypothesis import given, settings
from hypothesis import strategies as st

from datafusion_functions_json_spark.functions import core

# JSON value strategy: bounded depth/width so cases stay fast
json_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**70), max_value=2**70),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=20),
)
json_values = st.recursive(
    json_scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=5),
        st.dictionaries(st.text(max_size=8), children, max_size=5),
    ),
    max_leaves=25,
)

paths = st.lists(
    st.one_of(st.text(max_size=8), st.integers(min_value=0, max_value=6)),
    max_size=4,
)

ws = st.sampled_from(["", " ", "\n", "\t ", "  "])


def dom_nav(doc, path):
    """Ground truth: navigate the parsed DOM."""
    cur = doc
    for p in path:
        if isinstance(p, str):
            if not isinstance(cur, dict) or p not in cur:
                return False, None
            cur = cur[p]
        else:
            if isinstance(cur, bool) or not isinstance(cur, list):
                return False, None
            if p >= len(cur):
                return False, None
            cur = cur[p]
    return True, cur


@settings(max_examples=300, deadline=None)
@given(value=json_values, path=paths, pre=ws, post=ws)
def test_find_matches_dom(value, path, pre, post):
    s = pre + json.dumps(value) + post
    kind, got = core.find(s, tuple(path))
    found, expected = dom_nav(value, path)

    if not found:
        assert kind == core.MISSING and got is None
        return
    if expected is None:
        assert kind == core.NULL
    elif isinstance(expected, bool):
        assert (kind, got) == (core.BOOL, expected)
    elif isinstance(expected, int):
        assert (kind, got) == (core.INT, expected)
    elif isinstance(expected, float):
        assert kind == core.FLOAT
        assert got == expected or (math.isnan(got) and math.isnan(expected))
    elif isinstance(expected, str):
        assert (kind, got) == (core.STR, expected)
    elif isinstance(expected, list):
        assert kind == core.ARRAY
        assert json.loads(got) == expected  # raw slice reparses to the value
    else:
        assert kind == core.OBJECT
        assert json.loads(got) == expected


@settings(max_examples=200, deadline=None)
@given(value=json_values, path=paths)
def test_find_raw_slices_reparse(value, path):
    """Every raw slice must reparse to exactly the value it represents."""
    s = json.dumps(value)
    kind, raw, sval = core.find_raw(s, tuple(path))
    if kind == core.MISSING:
        return
    reparsed = json.loads(raw)
    found, expected = dom_nav(value, path)
    assert found
    if isinstance(expected, float):
        assert reparsed == expected or (
            math.isnan(reparsed) and math.isnan(expected)
        )
    else:
        assert reparsed == expected
    if kind == core.STR:
        assert sval == expected


@settings(max_examples=400, deadline=None)
@given(value=json_values, path=paths, pre=ws, post=ws)
def test_find_scalar_matches_find(value, path, pre, post):
    """The loads-based fast path must agree with the streaming scan on
    every document (container values compared by reparse: the fast path
    yields parsed dict/list, the streaming path a raw slice)."""
    s = pre + json.dumps(value) + post
    p = tuple(path)
    kind_f, got_f = core.find_scalar(s, p)
    kind_s, got_s = core.find(s, p)
    assert kind_f == kind_s
    if kind_f in (core.ARRAY, core.OBJECT):
        norm_f = json.loads(got_f) if isinstance(got_f, str) else got_f
        assert norm_f == json.loads(got_s)
    elif kind_f == core.FLOAT:
        assert got_f == got_s or (math.isnan(got_f) and math.isnan(got_s))
    else:
        assert got_f == got_s


@settings(max_examples=200, deadline=None)
@given(value=json_values, path=paths)
def test_exists_matches_dom(value, path):
    s = json.dumps(value)
    found, _ = dom_nav(value, path)
    assert core.exists_at(s, tuple(path)) == found


@settings(max_examples=200, deadline=None)
@given(value=json_values)
def test_lengths_and_keys(value):
    s = json.dumps(value)
    if isinstance(value, dict):
        assert core.length_at(s, ()) == len(value)
        assert core.keys_at(s, ()) == list(value.keys())
        assert core.items_at(s, ()) is None
    elif isinstance(value, list):
        assert core.length_at(s, ()) == len(value)
        assert core.keys_at(s, ()) is None
        items = core.items_at(s, ())
        assert [json.loads(i) for i in items] == [
            x if x == x else x for x in value
        ] or all(
            (json.loads(i) == x)
            or (isinstance(x, float) and math.isnan(x) and math.isnan(json.loads(i)))
            for i, x in zip(items, value)
        )
    else:
        assert core.length_at(s, ()) is None
        assert core.keys_at(s, ()) is None


@settings(max_examples=300, deadline=None)
@given(junk=st.text(max_size=30), path=paths)
def test_never_raises_on_garbage(junk, path):
    """The never-throw contract against arbitrary non-JSON text."""
    core.find(junk, tuple(path))
    core.find_scalar(junk, tuple(path))
    core.find_raw(junk, tuple(path))
    core.exists_at(junk, tuple(path))
    core.length_at(junk, tuple(path))
    core.keys_at(junk, tuple(path))
    core.items_at(junk, tuple(path))


@settings(max_examples=200, deadline=None)
@given(
    junk=st.text(alphabet='{}[]",:0123456789.eE+- \n\ttrufalsn', max_size=40),
    path=paths,
)
def test_never_raises_on_json_shaped_garbage(junk, path):
    """Same, but biased toward almost-JSON byte soup (the hard cases)."""
    core.find(junk, tuple(path))
    core.find_scalar(junk, tuple(path))
    core.exists_at(junk, tuple(path))
    core.length_at(junk, tuple(path))
    core.keys_at(junk, tuple(path))
    core.items_at(junk, tuple(path))


@settings(max_examples=400, deadline=None)
@given(value=json_values, path=paths, pre=ws, post=ws)
def test_make_find_scalar_matches_find_scalar(value, path, pre, post):
    """The constant-path specialization must agree with per-row
    find_scalar on every (document, path) pair — same kinds, same
    values, same fallback decisions."""
    s = pre + json.dumps(value) + post
    p = tuple(path)
    fs = core.make_find_scalar(p)
    kind_c, got_c = fs(s)
    kind_r, got_r = core.find_scalar(s, p)
    assert kind_c == kind_r
    if kind_c == core.FLOAT:
        assert got_c == got_r or (math.isnan(got_c) and math.isnan(got_r))
    else:
        assert got_c == got_r


@settings(max_examples=200, deadline=None)
@given(junk=st.text(alphabet='{}[]",:0123456789.eE+- \n\ttrufalsn', max_size=40), path=paths)
def test_make_find_scalar_never_raises(junk, path):
    core.make_find_scalar(tuple(path))(junk)
    core.make_find_scalar(tuple(path))(None)


# -------------------------------------------- batch-vectorized guards
# (round-17 optimization: kernels._fast_mask + core.make_fast_walk)

from datafusion_functions_json_spark.functions import kernels  # noqa: E402

_BATCH_KERNELS = [
    kernels.kernel_json_get_str,
    kernels.kernel_json_get_int,
    kernels.kernel_json_get_float,
    kernels.kernel_json_get_bool,
    kernels.kernel_json_contains,
    kernels.kernel_json_is_null_fused,
]


def _run_batch_both_ways(kernel, docs, path, monkey):
    """Kernel output with the batch-vectorized guard vs with the mask
    disabled (per-row guard path) — must be identical row for row."""
    fast = kernel(docs, kernels.repeat_path(path))
    monkey.setattr(kernels, "_fast_mask", lambda *a, **k: None)
    try:
        slow = kernel(docs, kernels.repeat_path(path))
    finally:
        monkey.undo()
    return fast, slow


@settings(max_examples=150, deadline=None)
@given(
    values=st.lists(json_values, max_size=6),
    path=paths,
    pre=ws,
    post=ws,
)
def test_batch_mask_path_matches_per_row(values, path, pre, post):
    """Every scalar kernel must give row-identical results whether the
    textual guards run batch-vectorized (pyarrow mask) or per row."""
    import pytest

    monkey = pytest.MonkeyPatch()
    docs = [pre + json.dumps(v) + post for v in values] + [None]
    p = tuple(path)
    for kernel in _BATCH_KERNELS:
        fast, slow = _run_batch_both_ways(kernel, docs, p, monkey)
        assert list(fast) == list(slow), kernel.__name__


def test_batch_mask_big_int_proofs():
    """The check_big=False kernels must be unobservably equal on
    integers outside i64 — the documented proof cases (orjson exact int
    within u64, lossy float outside) — and the check_big=True kernel
    (is_null_fused) must still see the big-int null arm."""
    import pytest

    monkey = pytest.MonkeyPatch()
    docs = [
        '{"k": 9223372036854775807}',    # i64 max
        '{"k": 9223372036854775808}',    # i64 max + 1 (u64 range)
        '{"k": 18446744073709551615}',   # u64 max
        '{"k": 18446744073709551616}',   # u64 max + 1 (lossy float)
        '{"k": -9223372036854775808}',   # i64 min
        '{"k": -9223372036854775809}',   # i64 min - 1 (lossy float)
        '{"k": 1.5}',
        '{"k": "9223372036854775808"}',  # string: untouched by parser
        None,
    ]
    for kernel in _BATCH_KERNELS:
        fast, slow = _run_batch_both_ways(kernel, docs, ("k",), monkey)
        assert list(fast) == list(slow), kernel.__name__
    # the distinction-observing kernel: big ints land in the null arm
    assert kernels.kernel_json_is_null_fused(
        docs[:6], kernels.repeat_path(("k",))
    ) == [False, True, True, True, False, True]


def test_batch_mask_duplicate_keys_and_escapes():
    """Mask-fail rows (duplicate path keys, escapes) must keep the
    streaming first-match semantics through the batch path."""
    docs = [
        '{"k": 1, "k": 2}',              # duplicate: first match wins
        '{"a": {"k": 1}, "k": 2}',       # needle appears twice, nested
        '{"\\u006b": 3}',                # escaped key spelling of "k"
        '{"k": "a\\"b"}',                # escaped quote in value
        '{"k": 7}',
    ]
    assert kernels.kernel_json_get_int(
        docs, kernels.repeat_path(("k",))
    ) == [1, 2, 3, None, 7]
    assert kernels.kernel_json_get_str(
        docs, kernels.repeat_path(("k",))
    ) == [None, None, None, 'a"b', None]


# ------------------------------------------- per-batch dictionary shortcut
# (kernels._dict_encode and the pc.take scatter in udfs._eval_literal —
# the Arrow analog of the reference's dictionary-array evaluation,
# src/common.rs:310-327)

import pyarrow as pa  # noqa: E402

from datafusion_functions_json_spark.functions import udfs  # noqa: E402


def _dedup_eval(kernel, docs, path, min_rows):
    pre = kernels._dict_encode(docs, min_rows=min_rows)
    assert pre is not None
    dvals, idx = pre
    # the appended None slot makes the kernel compute the null row itself
    assert dvals[-1] is None
    out_d = kernel(dvals, kernels.repeat_path(path))
    return pa.array(out_d, from_pandas=True).take(idx).to_pylist()


@settings(max_examples=100, deadline=None)
@given(
    values=st.lists(json_values, min_size=1, max_size=5),
    path=paths,
    pre=ws,
    post=ws,
)
def test_dict_shortcut_matches_direct(spark, values, path, pre, post):
    """Every literal-path UDF body must be row-identical whether its
    kernel runs per row or on the batch's distinct documents with the
    typed result scattered back — including null rows, duplicate-key
    docs, escapes and big ints (whatever hypothesis generates), because
    the kernels are pure. (``spark``: building a UDF needs a session.)"""
    pool = [pre + json.dumps(v) + post for v in values] + [None]
    docs = [pool[i % len(pool)] for i in range(1024)]  # force repetition
    batch = pa.array(docs, pa.string())
    assert kernels._dict_encode(batch) is not None  # the shortcut runs
    p = tuple(path)
    for fn in udfs._KERNELS:
        got = udfs.literal_path_udf(fn, p).func(batch)
        direct = udfs._to_arrow(fn, udfs._KERNELS[fn](docs, kernels.repeat_path(p)))
        assert got.equals(direct), fn


def test_dict_shortcut_gates():
    """The shortcut must decline: small batches, mostly-distinct heads,
    and head-fooling sorted inputs (the encode-level 2-rows-per-distinct
    bail); and must accept a genuinely repetitive batch."""
    rep = ['{"k": %d}' % (i % 5) for i in range(4096)]
    assert kernels._dict_encode(rep) is not None
    # under min_rows
    assert kernels._dict_encode(rep[:100]) is None
    # mostly-distinct head
    uniq = ['{"k": %d}' % i for i in range(4096)]
    assert kernels._dict_encode(uniq) is None
    # repetitive head, distinct tail: caught by the full-encode gate
    sneaky = ['{"k": 0}'] * 300 + ['{"k": %d}' % i for i in range(3796)]
    assert kernels._dict_encode(sneaky) is None
    # non-string batches decline instead of raising
    assert kernels._dict_encode([1, 2, 3] * 2000) is None


def test_dict_shortcut_all_null_batch():
    """A batch of only nulls: every row maps to the appended None slot."""
    docs = [None] * 2048
    out = _dedup_eval(
        kernels.kernel_json_contains, docs, ("k",), min_rows=16
    )
    assert out == [False] * 2048
    out = _dedup_eval(kernels.kernel_json_get_str, docs, ("k",), min_rows=16)
    assert out == [None] * 2048


# ----------------------------------------------------------- sql rewriter

_SQL_ALPHABET = (
    "abc_019 ->>?(),'\"`:.*\n\t" + "select from where and j :: int text"
)


@settings(max_examples=300, deadline=None)
@given(junk=st.text(alphabet=_SQL_ALPHABET, max_size=80))
def test_rewrite_sql_never_crashes_on_garbage(junk):
    """The jsonf.sql pre-processor must either rewrite or raise the
    documented plan-shaped ValueError — never an unhandled exception —
    on arbitrary operator-soup input, and must be a no-op on text with
    no JSON operators at all."""
    from datafusion_functions_json_spark.sql import rewrite_sql

    try:
        rewrite_sql(junk)
    except ValueError:
        pass  # documented plan errors (NULL/typed path, arity, ...)


@settings(max_examples=200, deadline=None)
@given(junk=st.text(alphabet="abc_019 (),'.=<>!%+-*/\n\t", max_size=80))
def test_rewrite_sql_identity_without_operators(junk):
    # no -> / ->> / ? / registered-function names => byte-identical output.
    # The alphabet contains '-' and '>', so the generator CAN assemble a
    # real `->` operator (hypothesis found '0->0', which the rewriter
    # correctly rewrites) — assume it away; the identity contract only
    # covers operator-free text.
    from hypothesis import assume

    from datafusion_functions_json_spark.sql import rewrite_sql

    assume("->" not in junk)
    assert rewrite_sql(junk) == junk


@settings(max_examples=300, deadline=None)
@given(
    txt=st.text(
        alphabet="ab z09 .#'…!-\n\t()…el{}\"?s",
        max_size=60,
    )
)
def test_pretoken_pattern_portable(txt):
    """BPE_PRETOKEN_PATTERN must behave identically under Python's `re`
    (PCRE-family, the Java-regex stand-in) and under RE2 semantics via
    DuckDB — pinning the claim that the pattern sits in the shared
    subset both engines segment identically."""
    import re

    import duckdb

    from spark_pipeline_ops.operators.text import (
        BPE_PRETOKEN_PATTERN,
    )

    py = len(re.findall(BPE_PRETOKEN_PATTERN, txt))
    con = _pretoken_con()
    duck = con.execute(
        "select len(regexp_extract_all(?, ?))", [txt, BPE_PRETOKEN_PATTERN]
    ).fetchone()[0]
    assert py == duck, txt


def _pretoken_con():
    global _PRETOKEN_CON
    try:
        return _PRETOKEN_CON
    except NameError:
        import duckdb

        _PRETOKEN_CON = duckdb.connect()
        return _PRETOKEN_CON


@settings(max_examples=200, deadline=None)
@given(
    txt=st.text(
        alphabet="aA zZ09 é Àñ.,;—'…#\n\t!-",
        max_size=50,
    )
)
def test_normalize_text_portable(txt):
    """normalize_text's fold→lower→punct→ws chain must produce identical
    strings under DuckDB's translate/lower/regexp_replace — the oracle
    twin's exact recipe."""
    from spark_pipeline_ops.operators.text import (
        ACCENT_FOLD_DST,
        ACCENT_FOLD_SRC,
    )

    con = _pretoken_con()
    duck = con.execute(
        "select trim(regexp_replace(regexp_replace(lower(translate(?, ?, ?)),"
        " '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))",
        [txt, ACCENT_FOLD_SRC, ACCENT_FOLD_DST],
    ).fetchone()[0]
    # python recomputation of the same chain (re module ~ Java regex)
    import re

    py = txt.translate(str.maketrans(ACCENT_FOLD_SRC, ACCENT_FOLD_DST)).lower()
    py = re.sub(r"[^a-z0-9\s]", " ", py)
    py = re.sub(r"\s+", " ", py).strip()
    assert py == duck, repr(txt)


@settings(max_examples=200, deadline=None)
@given(txt=st.text(alphabet="ab c.!? d\n\te…", max_size=60))
def test_sentence_pattern_portable(txt):
    """The sentence-extraction pattern must segment identically under
    Python re (Java-regex stand-in) and DuckDB/RE2 — the oracle twin's
    engine."""
    import re

    pat = r"[^.!?]+[.!?]*"
    # both engines' trim() strips SPACES only (not \n/\t) — mirror that
    py = [m.strip(" ") for m in re.findall(pat, txt)]
    py = [x for x in py if x]
    con = _pretoken_con()
    duck = con.execute(
        "select list_filter(list_transform(regexp_extract_all(?, ?), "
        "x -> trim(x)), x -> x != '')",
        [txt, pat],
    ).fetchone()[0]
    assert py == duck, repr(txt)
