"""Unit tests for the pure-Python path engine — no Spark needed.

Mirrors the reference's kernel-level tests (reference: tests/main.rs:
689-857 invoke below the planner) plus the null-taxonomy truth table
(SURVEY.md §7.5: key-missing vs value-is-json-null vs invalid-json).
"""

import json
import math

from datafusion_functions_json_spark.functions import core, kernels
from datafusion_functions_json_spark.functions.core import (
    ARRAY,
    BOOL,
    FLOAT,
    INT,
    MISSING,
    NULL,
    OBJECT,
    STR,
)


class TestFind:
    def test_string(self):
        assert core.find(' {"foo": "abc"} ', ("foo",)) == (STR, "abc")

    def test_nested_array_raw(self):
        assert core.find(' {"foo": [1]} ', ("foo",)) == (ARRAY, "[1]")

    def test_empty_object_raw(self):
        assert core.find(' {"foo": {}} ', ("foo",)) == (OBJECT, "{}")

    def test_json_null(self):
        assert core.find(' {"foo": null} ', ("foo",)) == (NULL, None)

    def test_missing_key(self):
        assert core.find(' {"bar": true} ', ("foo",)) == (MISSING, None)

    def test_top_level_array_key_lookup_misses(self):
        assert core.find(' ["foo"] ', ("foo",)) == (MISSING, None)

    def test_invalid_json(self):
        assert core.find("is not json", ("foo",)) == (MISSING, None)

    def test_array_index(self):
        assert core.find(' ["foo"] ', (0,)) == (STR, "foo")

    def test_array_index_oob(self):
        assert core.find("[1, 2]", (2,)) == (MISSING, None)

    def test_negative_index_missing(self):
        # reference: src/common.rs:90-97 (negative => JsonPath::None)
        assert core.find("[1, 2]", (-1,)) == (MISSING, None)

    def test_deep_path(self):
        assert core.find('{"a": {"b": [4.2e-1, 2]}}', ("a", "b", 0)) == (FLOAT, 0.42)

    def test_int_vs_float(self):
        assert core.find('{"a": 1}', ("a",)) == (INT, 1)
        assert core.find('{"a": 1.0}', ("a",)) == (FLOAT, 1.0)
        assert core.find('{"a": 1e2}', ("a",)) == (FLOAT, 100.0)

    def test_bool(self):
        assert core.find('{"a": true}', ("a",)) == (BOOL, True)
        assert core.find('{"a": false}', ("a",)) == (BOOL, False)

    def test_big_int_preserved_by_core(self):
        # kernels decide overflow policy; core reports the value
        assert core.find('{"a": 18446744073709551615}', ("a",)) == (
            INT,
            18446744073709551615,
        )

    def test_escaped_key_and_value(self):
        assert core.find('{"a\\"b": "x\\"y"}', ('a"b',)) == (STR, 'x"y')

    def test_unicode(self):
        assert core.find('{"k": "héllo ✨"}', ("k",)) == (STR, "héllo ✨")

    def test_duplicate_keys_first_wins(self):
        assert core.find('{"a": 1, "a": 2}', ("a",)) == (INT, 1)

    def test_null_input(self):
        assert core.find(None, ("a",)) == (MISSING, None)

    def test_empty_path_returns_root(self):
        assert core.find("[1, 2]", ()) == (ARRAY, "[1, 2]")

    def test_trailing_garbage_streaming(self):
        # streaming: the value is found before the garbage is reached
        assert core.find('{"foo": 1} not json anymore', ("foo",)) == (INT, 1)

    def test_none_path_elem(self):
        assert core.find('{"a": 1}', (None,)) == (MISSING, None)

    def test_scalar_traversal_misses(self):
        assert core.find('{"a": "str"}', ("a", "b")) == (MISSING, None)

    def test_object_raw_slice_preserves_spacing(self):
        assert core.find('{"a": { "b" : 1 }}', ("a",)) == (OBJECT, '{ "b" : 1 }')


def _scalar_kernels(s, path):
    """What the scalar getters give for one document: json_get_int,
    json_get_str and json_contains through the kernels."""
    p = kernels.repeat_path(path)
    return (
        kernels.kernel_json_get_int([s], p)[0],
        kernels.kernel_json_get_str([s], p)[0],
        kernels.kernel_json_contains([s], p)[0],
    )


class TestFindScalar:
    """Documents where a whole-document parse (last key wins, strict about
    trailing text) would diverge from the streaming first-match scan that
    every kernel reads through."""

    def test_duplicate_keys_first_wins(self):
        assert core.find('{"a": 1, "a": 2}', ("a",)) == (INT, 1)
        assert _scalar_kernels('{"a": 1, "a": 2}', ("a",)) == (1, None, True)

    def test_duplicate_keys_nested(self):
        s = '{"o": {"a": 1, "a": 2}}'
        assert core.find(s, ("o", "a")) == (INT, 1)
        assert _scalar_kernels(s, ("o", "a")) == (1, None, True)

    def test_escaped_duplicate_key_first_wins(self):
        # 'a' decodes to 'a': a duplicate the raw text does not show
        s = '{"\\u0061": 1, "a": 2}'
        assert core.find(s, ("a",)) == (INT, 1)
        assert _scalar_kernels(s, ("a",)) == (1, None, True)

    def test_dup_key_lookalike_in_string_value_is_safe(self):
        s = '{"t": "\\"a\\"", "a": 7}'
        assert core.find(s, ("a",)) == (INT, 7)
        assert _scalar_kernels(s, ("t",)) == (None, '"a"', True)

    def test_trailing_garbage_streaming(self):
        # the scan stops at the value; trailing junk is never read
        assert core.find('{"foo": 1} junk', ("foo",)) == (INT, 1)
        assert _scalar_kernels('{"foo": 1} junk', ("foo",)) == (1, None, True)

    def test_invalid_tail_after_value(self):
        assert core.find('{"foo": 1, "bad', ("foo",)) == (INT, 1)
        assert _scalar_kernels('{"foo": 1, "bad', ("bad",)) == (
            None, None, False)

    def test_containers_return_parsed(self):
        # containers come back as raw slices, which parse to the value
        kind, v = core.find('{"a": [1, 2]}', ("a",))
        assert kind == ARRAY and json.loads(v) == [1, 2]
        kind, v = core.find('{"a": {"b": 1}}', ("a",))
        assert kind == OBJECT and json.loads(v) == {"b": 1}
        assert _scalar_kernels('{"a": [1, 2]}', ("a",)) == (None, None, True)

    def test_scalars_and_null(self):
        assert core.find('{"a": null}', ("a",)) == (core.NULL, None)
        assert core.find('{"a": "x"}', ("a",)) == (STR, "x")
        assert core.find('{"a": 4.2e-1}', ("a",)) == (FLOAT, 0.42)
        assert core.find("{}", ("a",)) == (MISSING, None)
        assert _scalar_kernels('{"a": null}', ("a",)) == (None, None, True)
        assert _scalar_kernels("{}", ("a",)) == (None, None, False)

    def test_bigint_beyond_i64_stays_int(self):
        # ints keep full precision: the union builder's BigInt null arm
        # needs to see an int, and json_get_float's cast must be exact
        for v in (-9223372036854775809, 18446744073709551616,
                  9223372036854775807):
            assert core.find('{"k": %d}' % v, ("k",)) == (INT, v)
        p = kernels.repeat_path(("k",))
        docs = ['{"k": 9223372036854775807}', '{"k": 18446744073709551616}']
        assert kernels.kernel_json_get_int(docs, p) == [
            9223372036854775807, None]
        assert kernels.kernel_json_get_float(docs, p) == [
            9223372036854775807.0, 18446744073709551616.0]

    def test_path_guards(self):
        assert core.find('{"a": [1]}', ("a", True)) == (MISSING, None)
        assert core.find('{"a": [1]}', ("a", -1)) == (MISSING, None)
        assert core.find('{"a": [1]}', (None,)) == (MISSING, None)
        assert core.find(None, ("a",)) == (MISSING, None)
        assert _scalar_kernels(None, ("a",)) == (None, None, False)


class TestFindRaw:
    def test_float_verbatim(self):
        # reference: tests/main.rs:507-512 — raw text fidelity
        assert core.find_raw('{"a": 4.2e-1}', ("a",)) == (FLOAT, "4.2e-1", None)

    def test_string_stays_quoted(self):
        kind, raw, sval = core.find_raw('{"a": "x\\"y"}', ("a",))
        assert (kind, raw, sval) == (STR, '"x\\"y"', 'x"y')

    def test_null_literal_text(self):
        assert core.find_raw('{"a": null}', ("a",)) == (NULL, "null", None)

    def test_missing(self):
        assert core.find_raw("{}", ("a",)) == (MISSING, None, None)


class TestExists:
    def test_present_null_is_true(self):
        # reference: tests/main.rs:21-43
        assert core.exists_at('{"foo": null}', ("foo",)) is True

    def test_missing_false(self):
        assert core.exists_at('{"foo": 1}', ("bar",)) is False

    def test_array_bounds(self):
        # reference: tests/main.rs:46-54
        assert core.exists_at("[1, 2]", (1,)) is True
        assert core.exists_at("[1, 2]", (2,)) is False

    def test_invalid_json_false(self):
        assert core.exists_at("is not json", ("foo",)) is False


class TestLength:
    def test_array(self):
        assert core.length_at("[1, 2, 3]", ()) == 3

    def test_object(self):
        assert core.length_at('{"a": 1, "b": 2}', ()) == 2

    def test_empty(self):
        assert core.length_at("[]", ()) == 0
        assert core.length_at("{}", ()) == 0

    def test_scalar_none(self):
        assert core.length_at('"str"', ()) is None
        assert core.length_at("123", ()) is None

    def test_with_path(self):
        assert core.length_at('{"a": [1, [1, 2]]}', ("a",)) == 2
        assert core.length_at('{"a": [1, [1, 2]]}', ("a", 1)) == 2

    def test_missing(self):
        assert core.length_at("{}", ("a",)) is None


class TestKeys:
    def test_document_order(self):
        assert core.keys_at('{"b": 1, "a": 2, "c": 3}', ()) == ["b", "a", "c"]

    def test_non_object_none(self):
        assert core.keys_at("[1]", ()) is None
        assert core.keys_at('"s"', ()) is None

    def test_nested_path(self):
        # reference: tests/main.rs:2086-2175
        assert core.keys_at('{"a": {"x": 1, "y": 2}}', ("a",)) == ["x", "y"]


class TestItems:
    def test_mixed_array_raw_elements(self):
        # reference: tests/main.rs:103-163
        assert core.items_at('["hello", 42, true, null, 3.14]', ()) == [
            '"hello"',
            "42",
            "true",
            "null",
            "3.14",
        ]

    def test_nested_containers_raw(self):
        assert core.items_at('[[1, 2], {"a": 1}]', ()) == ["[1, 2]", '{"a": 1}']

    def test_non_array_none(self):
        assert core.items_at('{"a": 1}', ()) is None


class TestRustParsers:
    def test_int(self):
        # reference: tests/main.rs:318-343
        assert core.parse_int_like_rust("123") == 123
        assert core.parse_int_like_rust("-17") == -17
        assert core.parse_int_like_rust("+5") == 5
        assert core.parse_int_like_rust("1.5") is None
        assert core.parse_int_like_rust("1e2") is None
        assert core.parse_int_like_rust(" 1") is None
        assert core.parse_int_like_rust("") is None
        assert core.parse_int_like_rust("9223372036854775808") is None  # i64+1

    def test_float(self):
        assert core.parse_float_like_rust("1.5") == 1.5
        assert core.parse_float_like_rust("123") == 123.0
        assert core.parse_float_like_rust("4.2e-1") == 0.42
        assert math.isnan(core.parse_float_like_rust("NaN"))
        assert core.parse_float_like_rust("inf") == float("inf")
        assert core.parse_float_like_rust(" 1.5") is None
        assert core.parse_float_like_rust("1_000") is None
        assert core.parse_float_like_rust("abc") is None

    def test_bool(self):
        assert core.parse_bool_like_rust("true") is True
        assert core.parse_bool_like_rust("false") is False
        assert core.parse_bool_like_rust("True") is None
        assert core.parse_bool_like_rust("1") is None


class TestCanonicalText:
    def test_all_kinds(self):
        f = core.json_dumps_canonical
        assert f(NULL, None) is None
        assert f(BOOL, True) == "true"
        assert f(INT, 1) == "1"
        assert f(FLOAT, 1.5) == "1.5"
        assert f(STR, 'a"b\n') == '"a\\"b\\n"'
        assert f(ARRAY, "[1, 2]") == "[1, 2]"
        assert f(OBJECT, '{"a": 1}') == '{"a": 1}'


class TestNonFiniteTokensRejected:
    """jiter parity (closed round 5): bare NaN/Infinity/-Infinity tokens
    make the document INVALID JSON — Python's tolerant default would
    parse them as floats, the reference's parser errors and every getter
    yields null/false for the row."""

    CASES = ['{"k": NaN}', '{"k": Infinity}', '{"k": -Infinity}', "[NaN]", "NaN"]

    def test_all_parse_arms_reject(self):
        for s in self.CASES:
            assert core.find(s, ("k",)) == (MISSING, None), s
            assert core.exists_at(s, ("k",)) is False, s
            assert core.length_at(s, ()) is None, s

    def test_skipping_past_a_bad_token_rejects(self):
        # navigating to "b" must SKIP the NaN value -> lexes it -> invalid
        assert core.find('{"a": NaN, "b": 1}', ("b",)) == (MISSING, None)

    def test_lazy_scan_before_bad_token_still_finds(self):
        # jiter is lazy: a value located BEFORE the bad token resolves
        # without ever lexing it — both tiers agree
        assert core.find('{"b": 1, "a": NaN}', ("b",)) == (INT, 1)

    def test_string_nan_values_unaffected(self):
        # "NaN" as a STRING value is valid JSON; the float STRING
        # coercion (parse_float_like_rust) still accepts it
        assert core.find('{"k": "NaN"}', ("k",)) == (STR, "NaN")
        import math

        assert math.isnan(core.parse_float_like_rust("NaN"))


class TestDeepNesting:
    def test_kernels_return_on_a_100k_deep_document(self):
        # a document nested far past the recursion limit; run in a
        # subprocess so a crash fails this test instead of the suite
        import os
        import subprocess
        import sys

        code = (
            "import itertools\n"
            "from datafusion_functions_json_spark.functions import core, kernels\n"
            "deep = '{\"a\":' * 100_000 + '1' + '}' * 100_000\n"
            "print(kernels.kernel_json_get_int(\n"
            "    [deep, '{\"b\": 3}'], itertools.repeat(('b',))))\n"
            "print(core.find(deep, ('b',)))\n"
            "print(kernels.kernel_json_length([deep], itertools.repeat(())))\n"
        )
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        proc = subprocess.run(
            [sys.executable, "-c", code],
            capture_output=True,
            text=True,
            timeout=120,
            cwd=repo,
        )
        assert proc.returncode == 0, (proc.returncode, proc.stderr[-2000:])
        assert proc.stdout.splitlines() == [
            "[None, 3]",
            f"({MISSING}, None)",
            "[None]",
        ]
