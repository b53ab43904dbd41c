"""The JVM exact tier (functions/jvm_tier.py over
jvm_extension/src/jsonsparkext/JsonFinder.java) pinned to the Python
kernels value for value: strings compared exactly, floats bit for bit,
union structs member by member.

The Python kernels are the specification. The differential runs every
tier function over key, int-index and empty paths on seeded
``perfbench/corpus.py`` corpora (imported, not changed) and on the edge
rows the parity tests pin: duplicate and escaped keys, ``1e400``, ``-0``,
integers outside i64/u64 and beyond the double range, numeric strings,
lone surrogates, invalid documents, trailing garbage, and nesting at
depth 100, at depth >= 1000 and at depth 100,000. A disagreement is a bug
in the Java port;
no row is ever dropped to make it pass.
"""

import importlib.util
import math
import os
import random
import re
import shutil
import struct
import sys
import weakref

import pytest
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

import datafusion_functions_json_spark as jsonf
from datafusion_functions_json_spark import union as union_mod
from datafusion_functions_json_spark.functions import core, jvm_tier, udfs
from datafusion_functions_json_spark.functions.signatures import SIGNATURES

from test_perfbench_python_tier import _Ctx

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    shutil.which("javac") is None,
    reason="no JDK: the JVM tier falls back to the Python kernels",
)

FNS = sorted(fn for fn, s in SIGNATURES.items() if s.path)  # every function at a path


def _perfbench(name):
    spec = importlib.util.spec_from_file_location(
        f"perfbench_{name}", os.path.join(REPO, "perfbench", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # its dataclasses resolve their module
    spec.loader.exec_module(mod)
    return mod


def _deep_obj(n):
    return '{"a":' * n + "1" + "}" * n


def _deep_arr(n):
    return "[" * n + "1" + "]" * n


EDGE_DOCS = [
    # the reference fixture rows (FIXTURES.md §1)
    ' {"foo": "abc"} ', ' {"foo": [1]} ', ' {"foo": {}} ', ' {"foo": null} ',
    ' {"bar": true} ', ' ["foo"] ', "is not json",
    # duplicate and escaped keys: first match wins, keys compare unescaped
    '{"k": 1, "k": 2}', '{"k": {"a": 1}, "k": {"a": 2}}',
    '{"\\u006b": 3, "k": 4}', '{"k\\"q": 5, "k": 6}', '{"a\\nb": "x\\ty"}',
    '{"k": "\\ud83d\\ude00 \\u00e9\\/\\\\"}', '{"k": "café \U0001f600"}',
    '{"k": 1, "k": "x"} ', '{"a": {"k": 1}, "k": [7, 8]}',
    # numbers
    '{"k": 1e400}', '{"k": -1e400}', '{"k": 1e-400}', '{"k": -0}',
    '{"k": -0.0}', '{"k": 0}', '{"k": 4.2e-1}', '{"k": 1E+2}', '{"k": 5.0}',
    '{"k": 1.}', '{"k": 01}', '{"k": -}', '{"k": 1e}', '{"k": 1e+}',
    '{"k": 9223372036854775807}', '{"k": 9223372036854775808}',
    '{"k": -9223372036854775808}', '{"k": -9223372036854775809}',
    '{"k": 18446744073709551615}', '{"k": 18446744073709551616}',
    '{"k": 123456789012345678901234567890}',
    '{"k": -123456789012345678901234567890.5e3}',
    '{"k": 9007199254740993}', '{"k": 0.1e-5}',
    # numeric and boolean strings
    '{"k": "123"}', '{"k": "+7"}', '{"k": "-0"}', '{"k": "1.5"}',
    '{"k": " 1"}', '{"k": "1 "}', '{"k": "1e2"}', '{"k": "1_000"}',
    '{"k": "0x10"}', '{"k": "inf"}', '{"k": "-Infinity"}', '{"k": "NaN"}',
    '{"k": "1d"}', '{"k": "1f"}', '{"k": ".5"}', '{"k": "5."}',
    '{"k": "\\u0661\\u0662"}', '{"k": "99999999999999999999"}',
    '{"k": "true"}', '{"k": "false"}', '{"k": "True"}', '{"k": "1\\u00a0"}',
    '{"k": ""}', '{"k": "+"}', '{"k": "1e999"}',
    # invalid documents and trailing garbage
    "", "   ", "{", '{"k":', '{"k": 1', '{"k": 1} trailing', '{"k": 1,}',
    '{"j": [1,], "k": 2}', '{"k": 2, "j": [1,]}', '{"k": NaN}',
    '{"k": Infinity}', '{"k": -Infinity}', '{"k": nul}', '{"k": tru}',
    '{"k": "a\x01b"}', '{"k": "\\x"}', '{"k": "\\u12"}', "[1, 2",
    '{"k" 1}', "{'k': 1}", '\ufeff{"k": 1}', '{"k": [1, 2} ', "null", "true",
    "42", '"str"', "[]", "{}", '{"k": [] }', '{"k": {}}',
    # containers
    '{"k": [1, "x", null, true, {"a": [2]}]}', "[[1, 2], [3]]",
    '{"k": {"a": 1,  "b": [1, 2]}}', '[{"a": 1}, {"a": 2}]',
    # nesting at depth 100, at depth >= 1000 and at 100,000
    _deep_obj(100), _deep_arr(100), _deep_obj(1000), _deep_arr(1000),
    _deep_obj(2500), _deep_arr(2500), _deep_obj(100_000),
    '{"deep": ' + _deep_arr(1000) + ', "k": 5}',
    '{"k": 5, "deep": ' + _deep_arr(1000) + "}",
    '{"k": ' + _deep_arr(1000) + "}", '{"k": ' + _deep_arr(100) + "}",
    '{"deep": ' + _deep_arr(1000) + ', "k": 0.5}',
    # integers beyond the double range: +-inf as a float
    '{"k": 1' + "0" * 400 + "}", '{"k": -1' + "0" * 400 + "}",
    '{"k": [1' + "0" * 309 + ", 2]}",
    # lone surrogates in a value, in a key, in a skipped value; a pair
    '{"k": "x\\ud800y"}', '{"k": "\\udc00"}', '{"k": "\\ude00\\ud83d"}',
    '{"\\ud800": 1, "k": 2}', '{"k": {"\\udbff": 1, "a": 2}}',
    '{"s": "\\ud800", "k": 3}', '{"k": ["\\ud800", 4]}',
    '{"k": "\\ud83d\\ude00"}', '{"k": {"\\ud83d\\ude00": 5}}',
    # canonical text: floats as repr, strings as json.dumps writes them
    '{"k": 1e16}', '{"k": 1e15}', '{"k": 1e-5}', '{"k": 0.0001}',
    '{"k": 123.456}', '{"k": 5e-324}', '{"k": 1.7976931348623157e308}',
    '{"k": 6.6332621121664288E16}', '{"k": 0.30000000000000004}',
    '{"k": 2.5e-7}', '{"k": -1.5e300}', '{"k": 100.0}',
    '{"k": "a\\u0001b\\u001f\\u007f\\"q\\\\\\/\\b\\f\\n\\r\\t"}',
    '{"k": "\\u2028\\u00e9 \u00e9"}',
    None,
]

EDGE_PATHS = [
    (), ("k",), ("foo",), ("k", 0), ("k", 4, "a"), ("k", "a"), (0,), (1,),
    (0, 1), (0, "a"), ("a",), ("a", "a"), ("a", "k"), ("deep",),
    ("deep", 0), ("k", -1), ('k"q',), ("a\nb",), ("",),
    ("a",) * 100, ("a",) * 1000,
    # in the 1000-deep documents, the value 961 and 960 containers deep:
    # one past the depth limit on both tiers, and the deepest one found
    ("a",) * 39, ("a",) * 40,
]

# the perfbench corpora: the templates' key paths plus index paths
CORPUS_PATHS = [
    (), ("id",), ("kind",), ("ok",), ("user",), ("user", "age"),
    ("user", "score"), ("user", "name"), ("user", "tags"),
    ("user", "address", "city"), ("user", "address", "geo", "lat"),
    ("event", "value"), ("event", "ts"), ("event", "items"),
    ("flags", "beta"), ("a.b",), ("note",), ("config", "opt_3"),
    ("user", "tags", 0), ("event", "items", 0, "qty"), ("event", "items", 1),
    ("event", "value", 0), (0,), ("event", "items", -1),
]


def _same(a, b) -> bool:
    """Equal values: floats bit for bit, strings exactly, structs and
    lists member by member."""
    if a is None or b is None:
        return a is b
    if type(a) is not type(b):
        return False
    if isinstance(a, float):
        return struct.pack("<d", a) == struct.pack("<d", b)
    if isinstance(a, (Row, list)):
        return len(a) == len(b) and all(map(_same, a, b))
    return a == b


# literal-path SQL calls over the edge rows, and the API names of the
# SQL aliases among them
SQL_CALLS = [
    ("json_get_int", ("k", 0, "a")), ("json_get_str", ("k",)),
    ("json_get_float", ("k",)), ("json_get_bool", ("k",)),
    ("json_get_json", ("kk", "k")), ("json_as_text", ("k",)),
    ("json_contains", ("k",)), ("json_length", ()), ("json_len", ("k",)),
    ("json_get", ("k",)), ("json_get", ("k", 0)),
    ("json_get_array", ("k",)), ("json_object_keys", ()),
    ("json_keys", ("k",)),
]
SQL_ALIASES = {"json_len": "json_length", "json_keys": "json_object_keys"}


def _sql_call(fn, path):
    args = ["j"] + [f"'{p}'" if isinstance(p, str) else str(p) for p in path]
    return f"{fn}({', '.join(args)})"


def _python_call(fn, path, col):
    """``fn`` at ``path`` on the Python tier, as the API builds it."""
    return udfs.literal_path_udf(fn, tuple(path))(col)


def _tiers(spark, docs, calls):
    """Every ``(fn, path)`` of ``calls`` over ``docs`` (texts, or a frame
    of ``(i, j)`` rows) on both tiers in one query: the JVM tier, and the
    Python tier's own Arrow UDF, which runs the kernels in Spark's Python
    workers exactly as a fallback call does. Returns ``(jvm, python)``,
    one list of values per call."""
    df = docs if isinstance(docs, DataFrame) else spark.createDataFrame(
        list(enumerate(docs)), "i long, j string")
    jvm = [jvm_tier.call(fn, F.col("j"), p) for fn, p in calls]
    py = [_python_call(fn, p, F.col("j")) for fn, p in calls]
    cols = [c.alias(f"c{k}") for k, c in enumerate(jvm + py)]
    rows = sorted(df.select("i", *cols).collect(), key=lambda r: r.i)
    values = [[r[f"c{k}"] for r in rows] for k in range(len(cols))]
    return values[: len(calls)], values[len(calls):]


def _diff(spark, docs, paths):
    calls = [(fn, p) for fn in FNS for p in paths]
    jvm, py = _tiers(spark, docs, calls)
    bad = [
        (fn, path[:4], (doc or "")[:60], g, w)
        for (fn, path), got, want in zip(calls, jvm, py)
        for doc, g, w in zip(docs, got, want)
        if not _same(g, w)
    ]
    assert not bad, f"{len(bad)} mismatches, first: {bad[:10]}"


@pytest.fixture(scope="module")
def tier(spark):
    if jvm_tier.load(spark.sparkContext) is None:
        pytest.fail("the JVM tier did not load although a JDK is present")


class TestDifferential:
    def test_edge_rows(self, spark, tier):
        _diff(spark, EDGE_DOCS, EDGE_PATHS)

    def test_unique_corpus(self, spark, tier):
        corpus = _perfbench("corpus")
        day = corpus.generate(corpus.SHAPES["unique"], 1)[0]
        _diff(spark, day.texts[:3000], CORPUS_PATHS)

    def test_repeated_corpus(self, spark, tier):
        corpus = _perfbench("corpus")
        days = corpus.generate(corpus.SHAPES["repeated"], 2)
        docs = [t for d in days for t in d.texts]
        _diff(spark, docs, CORPUS_PATHS + [("config", "opt_7")])

    def test_sql_surface(self, spark, tier):
        jsonf.register_all(spark)
        docs = EDGE_DOCS[:-1] + ['{"k": [{"a": 3}], "kk": {"k": 2}}']
        spark.createDataFrame([(d,) for d in docs], "j string") \
            .createOrReplaceTempView("jvm_tier_edge")
        calls = SQL_CALLS
        select = ", ".join(_sql_call(fn, path) for fn, path in calls)
        q = spark.sql(f"SELECT j, {select} FROM jvm_tier_edge")
        assert "EvalPython" not in q._jdf.queryExecution().executedPlan().toString()
        rows = q.collect()
        _, py = _tiers(spark, [r.j for r in rows],
                       [(SQL_ALIASES.get(fn, fn), p) for fn, p in calls])
        for k, (fn, _) in enumerate(calls):
            bad = [(r.j[:40], r[k + 1], w) for r, w in zip(rows, py[k])
                   if not _same(r[k + 1], w)]
            assert not bad, (fn, bad[:5])

    def test_sql_union_consumers(self, spark, tier):
        # json_union_to_text over the JVM json_get struct, and json_is_null
        # as the plain Catalyst null test, against the same composition on
        # the Python kernels
        jsonf.register_all(spark)
        docs = EDGE_DOCS[:-1]
        spark.createDataFrame([(d,) for d in docs], "j string") \
            .createOrReplaceTempView("jvm_tier_union")
        q = spark.sql(
            "SELECT j, json_union_to_text(json_get(j, 'k')) AS t,"
            " json_is_null(json_get(j, 'k')) AS n,"
            " json_union_to_text(json_from_scalar(length(j))) AS s"
            " FROM jvm_tier_union"
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "json_is_null" not in plan  # no UDF: a Catalyst null test
        assert "EvalPython" not in plan  # json_from_scalar is Catalyst too
        rows = q.collect()
        u = _python_call("json_get", ("k",), F.col("j"))
        py = spark.createDataFrame([(r.j,) for r in rows], "j string").select(
            udfs.union_to_text_udf()(u).alias("t"),
            union_mod.json_is_null(u).alias("n"),
        ).collect()
        assert [(r.t, r.n) for r in rows] == [(r.t, r.n) for r in py]
        assert [r.s for r in rows] == [str(len(r.j)) for r in rows]

    def test_union_to_text_over_structs(self, spark, tier):
        # any union-struct column: json_get results (null arm included),
        # json_from_scalar values and hand-built rows, NULL structs too
        docs = EDGE_DOCS + ['{"k": 1.5}', '{"k": -0.0}', '{"k": 1e22}']
        df = spark.createDataFrame(list(enumerate(docs)), "i long, j string")
        u = jsonf.json_get("j", "k")
        f = jsonf.json_from_scalar(F.col("i") / 7)
        built = F.struct(
            (F.col("i") % 9 - 1).cast("tinyint").alias("type_id"),
            (F.col("i") % 3 == 0).alias("bool"),
            F.when(F.col("i") % 4 > 0, F.col("i") * 11).alias("int"),
            F.when(F.col("i") % 5 > 0, F.col("i") / 3).alias("float"),
            F.when(F.col("i") % 6 > 0, F.concat(F.lit('q"\\\n'), "j")).alias("str"),
            F.lit("[1]").alias("array"), F.lit(None).cast("string").alias("object"),
        )
        wider = F.when(F.col("i") % 2 == 0, built)  # NULL structs
        structs = [u, f, built, wider]
        out = df.select("i", *(
            c.alias(f"c{k}") for k, c in enumerate(
                [jvm_tier.call("json_union_to_text", x) for x in structs]
                + [udfs.union_to_text_udf()(x) for x in structs]
            )
        ))
        bad = [(r.i, k, r[f"c{k}"], r[f"c{k + 4}"])
               for r in out.collect() for k in range(4)
               if not _same(r[f"c{k}"], r[f"c{k + 4}"])]
        assert not bad, f"{len(bad)} mismatches, first: {bad[:10]}"

    def test_multi(self, spark, tier, monkeypatch):
        corpus = _perfbench("corpus")
        day = corpus.generate(corpus.SHAPES["unique"], 3)[0]
        docs = EDGE_DOCS + day.texts[:1000]
        fields = {
            "id": ("int", "id"), "age": ("int", "user", "age"),
            "score": ("float", "user", "score"),
            "name": ("str", "user", "name"), "beta": ("bool", "flags", "beta"),
            "value": ("text", "event", "value"), "k": ("text", "k"),
            "ki": ("int", "k"), "kf": ("float", "k"), "kb": ("bool", "k"),
            "n": ("length",), "nk": ("length", "k"), "has": ("exists", "k"),
            "root": ("exists",),
            "qty": ("int", "event", "items", 0, "qty"),
            "ut": ("union_text", "k"), "un": ("union_isnull", "k"),
            "vt": ("union_text", "event", "value"),
            "vn": ("union_isnull", "event", "value"),
        }
        df = spark.createDataFrame(list(enumerate(docs)), "i long, j string")
        jvm = jsonf.json_extract_multi("j", fields)
        monkeypatch.setattr(jvm_tier, "load", lambda sc: None)
        py = jsonf.json_extract_multi("j", fields)
        out = df.select("i", jvm.alias("jvm"), py.alias("py"))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1  # the Python column only
        bad = []
        for r in out.collect():
            for name in fields:
                if not _same(r.jvm[name], r.py[name]):
                    bad.append((name, (docs[r.i] or "")[:60], r.jvm[name], r.py[name]))
        assert not bad, f"{len(bad)} mismatches, first: {bad[:10]}"


# invalid UTF-8, as it reaches a string column through CAST(binary AS
# STRING): both tiers read each bad sequence as U+FFFD, the JVM through
# UTF8String.toString and the Python bodies through kernels._repair_utf8
BAD_UTF8_HEX = [
    "7B2261223A317D80",  # {"a":1} then 0x80
    "7B2261223A2280FF227D",  # {"a":"<80 FF>"}
    "7B2280223A317D",  # {"<80>":1}
    "7B2261223A2263C3A980E282227D",  # {"a":"cé<80><E2 82>"}
    "7B2278223A22C0AFEDA080F4908080222C2261223A327D",  # overlong, surrogate, > U+10FFFF
    "5B80",  # [<80>
    "7B2261223A22EDA0EDBFBF78EDA0A0A0227D",  # truncated and whole surrogates
    None,
]
BAD_UTF8_PATHS = [(), ("a",), (0,)]


def _bad_utf8(spark):
    return spark.createDataFrame(
        list(enumerate(BAD_UTF8_HEX)), "i long, h string"
    ).selectExpr("i", "cast(unhex(h) as string) AS j")


class TestBadUtf8:
    """Bad UTF-8 never fails a task, and both tiers give the same rows."""

    def test_getters(self, spark, tier):
        calls = [(fn, p) for fn in FNS for p in BAD_UTF8_PATHS]
        jvm, py = _tiers(spark, _bad_utf8(spark), calls)
        bad = [(fn, path, i, g, w)
               for (fn, path), got, want in zip(calls, jvm, py)
               for i, (g, w) in enumerate(zip(got, want)) if not _same(g, w)]
        assert not bad, f"{len(bad)} mismatches, first: {bad[:10]}"
        pinned = [jvm[calls.index(c)][:3] for c in (
            ("json_get_int", ("a",)), ("json_get_str", ("a",)),
            ("json_get_json", ("a",)), ("json_length", ()))]
        assert list(zip(*pinned)) == [
            (1, None, "1", 1),
            (None, "\ufffd\ufffd", '"\ufffd\ufffd"', 1),
            (None, None, None, 1),
        ]

    def test_sql(self, spark, tier, monkeypatch):
        _bad_utf8(spark).createOrReplaceTempView("bad_utf8")
        q = ("SELECT i, json_get_int(j, 'a'), json_get_str(j, 'a'),"
             " json_get_json(j, 'a'), json_length(j), json_as_text(j, 'x'),"
             " json_object_keys(j), json_get_json(j, 0),"
             " json_union_to_text(json_get(j, 'a')),"
             " json_union_to_text(json_from_scalar(j)) FROM bad_utf8")
        jsonf.register_all(spark)
        got = sorted(spark.sql(q).collect())
        monkeypatch.setattr(jvm_tier, "load", lambda sc: None)
        try:
            jsonf.register_all(spark)
            plan = spark.sql(q)._jdf.queryExecution().executedPlan().toString()
            assert "ArrowEvalPython" in plan
            want = sorted(spark.sql(q).collect())
        finally:
            monkeypatch.undo()
            jsonf.register_all(spark)
        assert got == want

    def test_multi(self, spark, tier, monkeypatch):
        fields = {"a": ("int", "a"), "s": ("str", "a"), "t": ("text", "a"),
                  "x": ("text", "x"), "n": ("length",), "e": ("exists", "a"),
                  "u": ("union_text", "a")}
        df = _bad_utf8(spark)
        jvm = jsonf.json_extract_multi("j", fields)
        monkeypatch.setattr(jvm_tier, "load", lambda sc: None)
        py = jsonf.json_extract_multi("j", fields)
        rows = df.select("i", jvm.alias("jvm"), py.alias("py")).collect()
        assert len(rows) == len(BAD_UTF8_HEX)
        bad = [(r.i, r.jvm, r.py) for r in rows if not _same(r.jvm, r.py)]
        assert not bad, bad


    def test_key_column(self, spark, tier, monkeypatch):
        # a path key holding invalid UTF-8 reads as U+FFFD on both tiers,
        # whether the keys are constant in the batch (kc) or vary (kv)
        spark.createDataFrame(
            [(i, '{"\ufffd":1,"a":2}', "61" if i % 2 else "80")
             for i in range(4)],
            "i long, j string, h string",
        ).coalesce(1).selectExpr(
            "i", "j", "cast(unhex('80') as string) AS kc",
            "cast(unhex(h) as string) AS kv",
        ).createOrReplaceTempView("bad_utf8_keys")
        q = "SELECT i, json_get_int(j, kc), json_get_int(j, kv) FROM bad_utf8_keys"
        jsonf.register_all(spark)
        got = sorted(spark.sql(q).collect())
        monkeypatch.setattr(jvm_tier, "load", lambda sc: None)
        try:
            jsonf.register_all(spark)
            plan = spark.sql(q)._jdf.queryExecution().executedPlan().toString()
            assert "ArrowEvalPython" in plan
            want = sorted(spark.sql(q).collect())
        finally:
            monkeypatch.undo()
            jsonf.register_all(spark)
        assert [tuple(r) for r in got] == [
            (0, 1, 1), (1, 1, 2), (2, 1, 1), (3, 1, 2)]
        assert got == want


class TestRouting:
    def test_api_surfaces_have_no_python_eval(self, spark, tier):
        df = spark.createDataFrame([('{"a": {"b": [5]}}',)], "j string")
        c = jsonf.col("j")
        out = df.select(
            jsonf.json_get_int("j", "a", "b", 0),
            c["a"]["b"][0].cast("bigint"),
            c.as_text("a"),
            c.contains("a"),
            jsonf.json_length(c["a"], "b"),
            jsonf.json_extract_multi("j", {"x": ("int", "a", "b", 0)}),
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan
        assert tuple(out.collect()[0])[:5] == (5, 5, '{"b": [5]}', True, 1)

    def test_union_family_has_no_python_eval(self, spark, tier):
        df = spark.createDataFrame(
            [('{"a": {"b": [5, null]}, "c": 2.5}',)], "j string")
        c = jsonf.col("j")
        v = jsonf.json_get("j", "a")
        out = df.select(
            v.alias("v"),
            c["a"]["b"].alias("chain"),
            jsonf.json_get(v, "b", 1).alias("nested"),
            jsonf.json_get_array(c["a"], "b").alias("arr"),
            jsonf.json_object_keys("j").alias("keys"),
            jsonf.json_union_to_text(c["c"]).alias("fused_text"),
            jsonf.json_is_null(c["a"]["b"][1]).alias("fused_null"),
            jsonf.json_union_to_text(F.col("v")).alias("text"),
            jsonf.json_extract_multi(
                "j", {"t": ("union_text", "a", "b"), "n": ("union_isnull", "x")}
            ).alias("m"),
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan
        r = out.collect()[0]
        assert r.v == Row(type_id=6, bool=None, int=None, float=None, str=None,
                          array=None, object='{"b": [5, null]}')
        assert (r.chain.type_id, r.chain.array) == (5, "[5, null]")
        assert r.nested is None
        assert (r.arr, r.keys) == (["5", "null"], ["a", "c"])
        assert (r.fused_text, r.fused_null) == ("2.5", True)
        assert r.text == '{"b": [5, null]}'
        assert (r.m.t, r.m.n) == ("[5, null]", True)

    def test_column_paths_run_on_the_tier(self, spark, tier):
        # API column paths, cast elision over one included, are tier calls
        df = spark.createDataFrame(
            [(0, '{"a": [[1, 2]], "b": "7"}', "a"), (1, '{"b": "7"}', "b"),
             (2, "[3]", None)],
            "i long, j string, k string",
        )
        out = df.select(
            "i",
            jsonf.json_get_int("j", F.col("k")).alias("n"),
            jsonf.json_get("j", F.col("k")).alias("u"),
            jsonf.json_get_array("j", F.col("k")).alias("a"),
            jsonf.col("j").get(F.col("k")).cast("string").alias("s"),
            jsonf.json_length(jsonf.json_get("j", F.col("k")), 0).alias("len"),
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan
        rows = [(r.n, jsonf.format_union_value(r.u), r.a, r.s, r.len)
                for r in sorted(out.collect())]
        assert rows == [
            (None, "{array=[[1, 2]]}", ["[1, 2]"], None, 2),
            (7, "{str=7}", None, "7", None),
            (None, "{null=}", None, None, None),
        ]

    def test_sql_column_keys_run_on_the_tier(self, spark, tier):
        jsonf.register_all(spark)
        spark.createDataFrame(
            [('{"a": 1, "b": 2}', "b"), ("[7]", None)], "j string, k string"
        ).createOrReplaceTempView("jvm_tier_keys")
        q = spark.sql("SELECT json_get_int(j, k) AS v FROM jvm_tier_keys")
        assert "EvalPython" not in q._jdf.queryExecution().executedPlan().toString()
        assert [r.v for r in q.collect()] == [2, None]
        q = spark.sql("SELECT json_get_int(j, 0) AS v FROM jvm_tier_keys")
        assert "EvalPython" not in q._jdf.queryExecution().executedPlan().toString()
        assert [r.v for r in q.collect()] == [None, 7]

    def test_sql_union_struct_document_runs_on_the_tier(self, spark, tier):
        jsonf.register_all(spark)
        q = spark.sql(
            """SELECT json_get_int(json_get('{"a": {"b": 3}}', 'a'), 'b') AS v"""
        )
        assert "EvalPython" not in q._jdf.queryExecution().executedPlan().toString()
        assert q.collect()[0].v == 3

    def test_sql_argument_errors_at_analysis(self, spark, tier):
        # the reference's plan-time errors, raised by spark.sql() itself
        jsonf.register_all(spark)
        df = spark.createDataFrame(
            [('{"a": {"b": 1}}', "a", "b", 1.5, True)],
            "j string, k1 string, k2 string, d double, b boolean",
        )
        df.createOrReplaceTempView("jvm_tier_bad_args")
        arg = ("Unexpected argument type to '{}' at position {}, expected "
               "string or int, got {}.")
        cases = {
            "json_get_str(j, null)": arg.format("json_get_str", 2, "Null"),
            "json_get_int(j, d)": arg.format("json_get_int", 2, "Float64"),
            "json_get_int(j, b)": arg.format("json_get_int", 2, "Boolean"),
            "json_len(j, 'a', 1.5)": arg.format(
                "json_length", 3, "Decimal128(2, 1)"),
            "json_get(j, k1, k2)": "More than 1 path element is not "
                                   "supported when querying JSON using an array.",
            "json_get_str(j, 'a', k2)": "More than 1 path element",
            "json_contains(j)": "The 'json_contains' function requires 2 or "
                                "more arguments.",
            "json_from_scalar(date'2020-01-01')":
                "Unsupported type for json_from_scalar: Date32.",
            "json_union_to_text(j)": "Unexpected argument type to "
                                     "'json_union_to_text' at position 1",
            "json_is_null(j)": "Unexpected argument type to 'json_is_null' "
                               "at position 1",
            "json_union_to_text(named_struct('a', 1))":
                "Unexpected argument type to 'json_union_to_text' at position "
                "1, expected a JSON union, got Struct<a:int>.",
            "json_get_int(cast(d as bigint), 'a')":
                "Unexpected argument type to 'json_get_int' at position 1, "
                "expected a string, got Int64.",
        }
        for call, message in cases.items():
            with pytest.raises(Exception) as err:
                spark.sql(f"SELECT {call} FROM jvm_tier_bad_args")
            assert message in str(err.value), (call, str(err.value)[:300])
        # the API spellings raise the same message when select() analyzes
        # the query, before any job runs
        api = {
            "json_union_to_text(named_struct('a', 1))":
                lambda: jsonf.json_union_to_text(F.struct(F.lit(1).alias("a"))),
            "json_get_int(cast(d as bigint), 'a')":
                lambda: jsonf.json_get_int(F.col("d").cast("bigint"), "a"),
        }
        for call, build in api.items():
            with pytest.raises(Exception) as err:
                df.select(build())
            assert cases[call] in str(err.value), (call, str(err.value)[:300])

    def test_constant_path_columns_raise_on_the_tier(self, spark, tier):
        # two path columns, each constant within the only partition: a
        # literal to a per-batch check, but not foldable to the analyzer
        jsonf.register_all(spark)
        spark.createDataFrame(
            [('{"a": {"b": 1}}', "a", "b")] * 3, "j string, k1 string, k2 string"
        ).coalesce(1).createOrReplaceTempView("jvm_tier_constant_keys")
        with pytest.raises(Exception, match="More than 1 path element"):
            spark.sql("SELECT json_get_int(j, k1, k2) FROM jvm_tier_constant_keys")

    def test_compatibility_spellings_run_on_the_exact_tier(self, spark, tier):
        # register_all(auto_tier=True), the <name>_exact SQL names and
        # json_profile=JsonProfile() are accepted spellings of the plain
        # calls: the same plans on the exact tier and the same rows
        templates = _perfbench("templates")
        corpus = _perfbench("corpus")
        docs = corpus.generate(corpus.SHAPES["unique"], 1)[0].texts[:500]
        spark.createDataFrame(
            [(0, d) for d in docs + EDGE_DOCS], "day int, j string"
        ).createOrReplaceTempView("docs")
        queries = [templates._NATIVE_SQL, templates._REGISTER_SQL]
        fields = {"ver": ("int", "ver"), "kind": ("str", "kind"), "ok": ("bool", "ok")}
        df = spark.table("docs")

        def run(register, queries, multi):
            register()
            outs = [spark.sql(q.format(day=0)) for q in queries]
            outs.append(df.select(multi.alias("m")).select("m.*"))
            for out in outs:
                plan = out._jdf.queryExecution().toString()
                assert "try_variant_get" not in plan and "EvalPython" not in plan
            return [out.collect() for out in outs]

        try:
            want = run(
                lambda: jsonf.register_all(spark),
                [q.replace("_exact(", "(") for q in queries],
                jsonf.json_extract_multi("j", fields),
            )
            got = run(
                lambda: jsonf.register_all(spark, auto_tier=True),
                queries,
                jsonf.json_extract_multi(
                    "j", fields, json_profile=jsonf.JsonProfile()
                ),
            )
        finally:
            jsonf.register_all(spark)
        assert got == want
        assert want[0][0][0] > 0  # the corpus rows do hold the keys

    def test_loader_off_uses_python_kernels(self, spark, python_tier):
        df = spark.createDataFrame([('{"a": 1}',), (None,)], "j string")
        out = df.select(jsonf.json_get_int("j", "a"), jsonf.json_contains("j", "a"))
        assert "ArrowEvalPython" in out._jdf.queryExecution().executedPlan().toString()
        assert [tuple(r) for r in out.collect()] == [(1, True), (None, False)]

    def test_loader_off_union_family_uses_python_kernels(self, spark, python_tier):
        df = spark.createDataFrame([('{"a": [1, 2.5]}',), (None,)], "j string")
        v = jsonf.json_get("j", "a")
        out = df.select(
            jsonf.json_union_to_text(v), jsonf.json_is_null(v),
            jsonf.json_get_array("j", "a"), jsonf.json_object_keys("j"), v,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" in plan
        assert [tuple(r)[:4] + (r[4] and r[4].type_id,)
                for r in out.collect()] == [
            ("[1, 2.5]", False, ["1", "2.5"], ["a"], 5),
            (None, True, None, None, None),
        ]


# key columns over the edge rows: strings, ints and NULLs
KEY_ROWS = [("k", 0), ("foo", 1), (None, None), ("a", -1), ("kk", 2)]
LONG_PATH = ("a",) * 25  # a long literal path: 26 arguments in all


def _edge_keys_view(spark, name):
    docs = EDGE_DOCS + ['{"k": [{"a": 3}], "kk": {"k": 2}}',
                        '{"a": {"b": 4}}', '{"a": [{"b": 5}]}']
    spark.createDataFrame(
        [(i, d) + KEY_ROWS[i % len(KEY_ROWS)] for i, d in enumerate(docs)],
        "i long, j string, kc string, ki int",
    ).createOrReplaceTempView(name)
    return docs


class TestNoPython:
    """With the tier loaded no call shape of any SQL name or API function
    plans a Python UDF, and each gives the Python tier's rows."""

    SQL = [_sql_call(fn, p) for fn, p in SQL_CALLS] + [
        "json_get_str(j, kc)", "json_get_int(j, ki)", "json_get(j, kc)",
        "json_contains(j, kc)", "json_get_array(j, ki)", "json_len(j, kc)",
        "json_keys(j, kc)", "json_as_text(j, ki)", "json_get_json_exact(j, kc)",
        "json_get_float(j, kc)", "json_get_bool(j, ki)",
        "json_get_int(json_get(j, 'a'), 'b')",
        "json_get_json(json_get(j, 'k'), ki)",
        "json_get_int(json_get(j, kc), 'b')",
        "json_is_null(json_get(j, 'k'))", "json_is_null(json_get(j, kc))",
        "json_union_to_text(json_get(j, kc))",
        "json_union_to_text(json_get(j, 'k'))",
        "json_get_int(j, 'a', cast(null as string))",
        "json_from_scalar(length(j))", "scalar_to_json(kc)",
        "json_from_scalar(ki)", "json_from_scalar(i / 7)",
        "json_from_scalar(cast(if(i % 2 = 0, 'NaN', '-Infinity') as float))",
        "json_from_scalar(i % 2 = 0)", "json_from_scalar(null)",
        "json_from_scalar(cast(i as float))",
        "named_struct('u', json_from_scalar(ki))",
        _sql_call("json_get_str", LONG_PATH),
        _sql_call("json_contains", LONG_PATH),
    ]

    # the Python API's spelling of each call shape that has one: literal
    # paths, long literal paths, key columns, union-struct documents and
    # the fused union consumers over json_get
    API = {
        **{_sql_call(fn, p): (lambda fn=fn, p=p: getattr(jsonf, fn)("j", *p))
           for fn, p in SQL_CALLS + [("json_get_str", LONG_PATH),
                                     ("json_contains", LONG_PATH)]
           if fn not in SQL_ALIASES},
        **{f"{fn}(j, {k})": (lambda fn=fn, k=k: getattr(jsonf, fn)("j", F.col(k)))
           for fn, k in [("json_get_str", "kc"), ("json_get_int", "ki"),
                         ("json_get", "kc"), ("json_contains", "kc"),
                         ("json_get_array", "ki"), ("json_as_text", "ki"),
                         ("json_get_float", "kc"), ("json_get_bool", "ki")]},
        "json_get_json(json_get(j, 'k'), ki)":
            lambda: jsonf.json_get_json(jsonf.json_get("j", "k"), F.col("ki")),
        "json_get_int(json_get(j, kc), 'b')":
            lambda: jsonf.json_get_int(jsonf.json_get("j", F.col("kc")), "b"),
        "json_is_null(json_get(j, 'k'))":
            lambda: jsonf.json_is_null(jsonf.json_get("j", "k")),
        "json_is_null(json_get(j, kc))":
            lambda: jsonf.json_is_null(jsonf.json_get("j", F.col("kc"))),
        "json_from_scalar(ki)": lambda: jsonf.json_from_scalar(F.col("ki")),
        "json_union_to_text(json_get(j, 'k'))":
            lambda: jsonf.json_union_to_text(jsonf.json_get("j", "k")),
        "json_union_to_text(json_get(j, kc))":
            lambda: jsonf.json_union_to_text(jsonf.json_get("j", F.col("kc"))),
    }

    def _sql_rows(self, spark):
        q = spark.sql(f"SELECT i, {', '.join(self.SQL)} FROM no_python_edge")
        plan = q._jdf.queryExecution().executedPlan().toString()
        return sorted(q.collect(), key=lambda r: r.i), plan, q.columns

    def test_sql_names_match_the_python_tier(self, spark, tier, monkeypatch):
        docs = _edge_keys_view(spark, "no_python_edge")
        jsonf.register_all(spark)
        got, plan, got_columns = self._sql_rows(spark)
        assert "EvalPython" not in plan
        # the API builds each call as the SQL name does: the same column
        # name and the same optimized plan
        df = spark.table("no_python_edge")
        for sql, api in self.API.items():
            assert sql in self.SQL
            s, a = spark.sql(f"SELECT {sql} FROM no_python_edge"), df.select(api())
            assert a.columns == s.columns, sql
            assert a._jdf.queryExecution().optimizedPlan().sameResult(
                s._jdf.queryExecution().optimizedPlan()), sql
        monkeypatch.setattr(jvm_tier, "load", lambda sc: None)
        try:
            jsonf.register_all(spark)
            want, plan, want_columns = self._sql_rows(spark)
            assert "ArrowEvalPython" in plan
        finally:
            monkeypatch.undo()
            jsonf.register_all(spark)
        bad = [(self.SQL[k], (docs[g.i] or "")[:40], g[k + 1], w[k + 1])
               for g, w in zip(got, want) for k in range(len(self.SQL))
               if not _same(g[k + 1], w[k + 1])]
        assert not bad, f"{len(bad)} mismatches, first: {bad[:10]}"
        # each call names its column after the call, nested calls and
        # long literal paths included
        assert got_columns == want_columns
        hits = [r[self.SQL.index("json_get_str(j, kc)") + 1] for r in got]
        assert sum(v is not None for v in hits) > 3  # hits, not all misses

    def test_api_matches_the_python_tier(self, spark, tier, monkeypatch):
        docs = _edge_keys_view(spark, "no_python_api_edge")
        df = spark.table("no_python_api_edge")

        def calls():
            return [
                jsonf.json_get_str("j", F.col("kc")),
                jsonf.json_get_int("j", F.col("ki")),
                jsonf.json_contains("j", F.col("kc")),
                jsonf.json_get_array("j", F.col("ki")),
                jsonf.json_get("j", F.col("kc")),
                jsonf.col("j").get(F.col("kc")).cast("bigint"),
                jsonf.json_get_int(jsonf.json_get("j", F.col("kc")), "b"),
                jsonf.json_get_int(jsonf.json_get("j", "a"), "b"),
                # a getter over a stored json_get struct column
                jsonf.json_get_int(F.col("u"), "b"),
                jsonf.json_is_null(jsonf.json_get("j", "k")),
                jsonf.json_from_scalar(F.length("j")),
                jsonf.json_get_str("j", *LONG_PATH),
                jsonf.json_object_keys("j", *LONG_PATH),
            ]

        def rows(cols):
            out = df.select("*", jsonf.json_get("j", "a").alias("u")).select(
                "i", *(c.alias(f"c{k}") for k, c in enumerate(cols)))
            plan = out._jdf.queryExecution().executedPlan().toString()
            return sorted(out.collect(), key=lambda r: r.i), plan

        got, plan = rows(calls())
        assert "EvalPython" not in plan
        monkeypatch.setattr(jvm_tier, "load", lambda sc: None)
        want, plan = rows(calls())
        assert "ArrowEvalPython" in plan
        n = len(calls())
        bad = [(k, (docs[g.i] or "")[:40], g[k + 1], w[k + 1])
               for g, w in zip(got, want) for k in range(n)
               if not _same(g[k + 1], w[k + 1])]
        assert not bad, f"{len(bad)} mismatches, first: {bad[:10]}"

    def test_register_all_registers_no_python_udf(self, spark, tier, monkeypatch):
        from pyspark.sql.udf import UDFRegistration

        def boom(*args, **kwargs):
            raise AssertionError("a Python UDF was built or registered")

        monkeypatch.setattr(UDFRegistration, "register", boom)
        for name in ("path_udf", "union_to_text_udf", "union_is_null_udf",
                     "from_scalar_udf"):
            monkeypatch.setattr(udfs, name, boom)
        jsonf.register_all(spark)
        q = spark.sql("""SELECT json_get_int('{"a": 2}', 'a') AS v""")
        assert q.collect()[0].v == 2


def _plan_calls(df):
    """The tier's calls in ``df``'s executed plan, each as whether
    whole-stage codegen runs it, and the class of each expression there
    that has no generated code of its own (a ScalaUDF, any
    CodegenFallback) or is the former NamedCall wrapper."""
    jvm = df.sparkSession._jvm
    fallback = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback",
        False, df.sparkSession._jsc.getClass().getClassLoader())

    def nodes(plan, staged):
        name = plan.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            yield from nodes(plan.executedPlan(), staged)
            return
        if name.endswith("QueryStageExec"):
            yield from nodes(plan.plan(), staged)
            return
        staged = name == "WholeStageCodegenExec" or staged and name != "InputAdapter"
        yield plan, staged
        kids = plan.children()
        for k in range(kids.size()):
            yield from nodes(kids.apply(k), staged)

    calls, bad = [], []
    for node, staged in nodes(df._jdf.queryExecution().executedPlan(), False):
        roots = node.expressions()
        todo = [roots.apply(k) for k in range(roots.size())]
        while todo:
            e = todo.pop()
            name = e.getClass().getName()
            if name == "jsonsparkext.JsonExactTier$Call":
                calls.append(staged)
            if "ScalaUDF" in name or "NamedCall" in name or fallback.isInstance(e):
                bad.append(name)
            kids = e.children()
            todo += [kids.apply(k) for k in range(kids.size())]
    return calls, bad


class TestCodegen:
    """Each call is a Catalyst expression with generated code of its own:
    no executed plan holds a ScalaUDF or a CodegenFallback expression, and
    every call runs inside whole-stage codegen. Spark's fallback to
    interpreted evaluation is off, so generated code that does not
    compile fails the query."""

    def test_calls_run_in_whole_stage_codegen(self, spark, tier):
        templates, corpus = _perfbench("templates"), _perfbench("corpus")
        docs = corpus.generate(corpus.SHAPES["unique"], 1)[0].texts[:600]
        ctx = _Ctx(spark, spark.createDataFrame(
            [(0, d) for d in docs + EDGE_DOCS], "day int, j string"))
        _edge_keys_view(spark, "codegen_edge")
        jsonf.register_all(spark)
        edge = spark.table("codegen_edge")
        queries = {
            **{t.name: t.build(ctx, 0)
               for t in templates.QUERY_TEMPLATES + [templates.ETL_TEMPLATE]},
            **{sql: spark.sql(f"SELECT {sql} FROM codegen_edge")
               for sql in TestNoPython.SQL},
            **{f"API {sql}": edge.select(api())
               for sql, api in TestNoPython.API.items()},
        }
        before = spark.conf.get("spark.sql.codegen.fallback")
        spark.conf.set("spark.sql.codegen.fallback", "false")
        try:
            found = 0
            for name, df in queries.items():
                df.collect()
                calls, bad = _plan_calls(df)
                assert not bad, (name, bad)
                assert all(calls), (name, calls)
                found += len(calls)
        finally:
            spark.conf.set("spark.sql.codegen.fallback", before)
        assert found > len(queries)


def _static_collections(spark):
    """The size of each static Map or Collection field of every class in
    the tier's jar, by field."""
    import zipfile

    jvm = spark._jvm
    loader = jvm_tier.load(spark.sparkContext).getClass().getClassLoader()
    kinds = [jvm.java.lang.Class.forName(c) for c in
             ("java.util.Map", "java.util.Collection")]
    with zipfile.ZipFile(jvm_tier._build()) as jar:
        classes = [n[:-len(".class")].replace("/", ".")
                   for n in jar.namelist() if n.endswith(".class")]
    sizes = {}
    for name in classes:
        for f in jvm.java.lang.Class.forName(name, False, loader).getDeclaredFields():
            if (jvm.java.lang.reflect.Modifier.isStatic(f.getModifiers())
                    and any(k.isAssignableFrom(f.getType()) for k in kinds)):
                f.setAccessible(True)
                sizes[f"{name}.{f.getName()}"] = f.get(None).size()
    return sizes


def test_per_path_state_is_bounded(spark, tier):
    # calls at 2,000 distinct literal paths, from the API and from SQL,
    # built and analyzed: no static map or collection of the tier grows
    jsonf.register_all(spark)
    df = spark.createDataFrame([('{"k0": 1}',)], "j string")
    df.createOrReplaceTempView("per_path")
    before = _static_collections(spark)
    assert before  # the walk does find the tier's static maps
    for start in range(0, 2000, 250):
        api = [jsonf.json_get_int("j", f"k{k}") for k in range(start, start + 125)]
        df.select(*api)._jdf.queryExecution().analyzed()
        sql = ", ".join(f"json_get_str(j, 'k{k}')"
                        for k in range(start + 125, start + 250))
        spark.sql(f"SELECT {sql} FROM per_path")._jdf.queryExecution().analyzed()
    assert _static_collections(spark) == before


class TestPythonFallback:
    def test_sql_names_match_the_api(self, spark, python_tier, monkeypatch):
        # with the tier off every registered SQL name runs its Python UDF:
        # each call must give the API's Python-tier value, row for row
        docs = EDGE_DOCS + ['{"k": [{"a": 3}], "kk": {"k": 2}}',
                            '{"a": {"b": 4}}', '{"a": [{"b": 5}]}']
        keys = ["k", "foo", None, "a", "kk"]
        spark.createDataFrame(
            [(i, d, keys[i % len(keys)]) for i, d in enumerate(docs)],
            "i long, j string, kc string",
        ).createOrReplaceTempView("python_tier_edge")
        extra_sql = [
            "json_get_str(j, kc)",
            "json_get_int(json_get(j, 'a'), 'b')",
            "json_is_null(json_get(j, 'k'))",
            "json_from_scalar(length(j))",
        ]
        api = [getattr(jsonf, fn)("j", *p) for fn, p in SQL_CALLS] + [
            jsonf.json_get_str("j", F.col("kc")),
            jsonf.json_get_int(jsonf.json_get("j", "a"), "b"),
            jsonf.json_is_null(jsonf.json_get("j", "k")),
            jsonf.json_from_scalar(F.length("j")),
        ]
        sql = [_sql_call(fn, p) for fn, p in SQL_CALLS] + extra_sql
        try:
            jsonf.register_all(spark)
            q = spark.sql(f"SELECT i, {', '.join(sql)} FROM python_tier_edge")
            assert "ArrowEvalPython" in q._jdf.queryExecution().executedPlan().toString()
            got = sorted(q.collect(), key=lambda r: r.i)
        finally:
            monkeypatch.undo()
            jsonf.register_all(spark)
        want = sorted(
            spark.table("python_tier_edge").select(
                "i", *(c.alias(f"c{k}") for k, c in enumerate(api))
            ).collect(),
            key=lambda r: r.i,
        )
        bad = [(sql[k], (docs[g.i] or "")[:40], g[k + 1], w[k + 1])
               for g, w in zip(got, want) for k in range(len(sql))
               if not _same(g[k + 1], w[k + 1])]
        assert not bad, f"{len(bad)} mismatches, first: {bad[:10]}"
        assert [r[-2] for r in got].count(False) > 10  # hits, not all misses
        # and each API column is named as the SQL spelling names it; the
        # API spells the aliases and the nested getter otherwise
        spelled = {"json_len(j, k)": "json_length(j, k)",
                   "json_keys(j, k)": "json_object_keys(j, k)",
                   "json_get_int(json_get(j, a), b)": "json_get_int(j, a, b)"}
        api_columns = spark.table("python_tier_edge").select(*api).columns
        assert [spelled.get(c, c) for c in q.columns[1:]] == api_columns


    def test_index_outside_i64_never_matches(self, spark, python_tier):
        # the tier reads such an index as -1; the API's tier-off call
        # passes it so, and is named so
        df = spark.createDataFrame([('{"k": [1, 2]}',)], "j string")
        out = df.select(*(jsonf.json_get_int("j", "k", i)
                          for i in (2**70, -(2**70), 1)))
        assert out.columns == ["json_get_int(j, k, -1)"] * 2 + [
            "json_get_int(j, k, 1)"]
        assert tuple(out.collect()[0]) == (None, None, 2)

    def test_from_scalar_reads_the_arrow_type(self, spark, python_tier,
                                             monkeypatch):
        # the API and the SQL name share one Python body: the column is
        # named like the SQL spelling, and an unsupported type raises the
        # reference's message with DataFusion's type name
        df = spark.createDataFrame([(7, "2020-01-01")], "i int, d string")
        df = df.selectExpr("i", "cast(d as date) AS d")
        df.createOrReplaceTempView("python_tier_dates")
        u = jsonf.json_from_scalar("i")
        out = df.select(u, jsonf.json_union_to_text(u).alias("t"))
        assert out.columns == ["json_from_scalar(i)", "t"]
        assert out.collect()[0].t == "7"
        message = re.escape("Unsupported type for json_from_scalar: Date32.")
        with pytest.raises(Exception, match=message):
            df.select(jsonf.json_from_scalar("d")).collect()
        try:
            jsonf.register_all(spark)
            with pytest.raises(Exception, match=message):
                spark.sql("SELECT json_from_scalar(d) FROM python_tier_dates"
                          ).collect()
        finally:
            monkeypatch.undo()
            jsonf.register_all(spark)

    def test_sql_json_contains_requires_a_path(self, spark, python_tier,
                                              monkeypatch):
        try:
            jsonf.register_all(spark)
            with pytest.raises(Exception, match="The 'json_contains' "
                               "function requires 2 or more arguments."):
                spark.sql("""SELECT json_contains('{"a": 1}')""").collect()
        finally:
            monkeypatch.undo()
            jsonf.register_all(spark)


class TestBuild:
    def test_jar_is_cached_by_source_hash(self, tier):
        first = jvm_tier._build()
        assert first == jvm_tier._build() and os.path.isfile(first)
        assert os.path.dirname(os.path.dirname(first)) == str(jvm_tier._cache_dir())

    def test_failed_build_falls_back(self, spark, monkeypatch, tmp_path):
        monkeypatch.setattr(jvm_tier, "_EXT_DIR", tmp_path)  # no sources
        monkeypatch.setattr(jvm_tier, "_jar", None)
        monkeypatch.setattr(jvm_tier, "_tiers", weakref.WeakKeyDictionary())
        assert jvm_tier.load(spark.sparkContext) is None
        assert jvm_tier.call("json_get_int", F.col("j"), ("a",)) is None
        df = spark.createDataFrame([('{"a": 3}',)], "j string")
        assert df.select(jsonf.json_get_int("j", "a")).collect()[0][0] == 3


def test_paths_cross_to_java_intact(spark, tier):
    # keys with quotes, escapes and non-ASCII text, and ints out of range
    doc = '{"q\\"k": 1, "\\u00e9\\n": 2, "": 3, "[0]": [4]}'
    paths = [('q"k',), ("é\n",), ("",), ("[0]", 0), ("[0]", 2**70),
             ("[0]", -(2**70))]
    jvm, py = _tiers(spark, [doc], [("json_get_int", p) for p in paths])
    assert [v[0] for v in jvm] == [v[0] for v in py] == [1, 2, 3, 4, None, None]


def _float_texts(spark, values):
    """The JVM tier's float text for each double, through py4j."""
    tier = jvm_tier.load(spark.sparkContext)
    bits = ",".join(
        "%x" % struct.unpack("<Q", struct.pack("<d", v))[0] for v in values
    )
    return tier.formatFloats(bits).split("\n")[:-1]


def test_float_formatter_matches_repr(spark, tier):
    # Python's repr is the canonical float text; JDK 17's Double.toString
    # is not shortest round-trip, so the tier formats floats itself
    rng = random.Random(20261017)
    values = []
    while len(values) < 200_000:  # finite bit patterns, every exponent
        v = struct.unpack("<d", struct.pack("<Q", rng.getrandbits(64)))[0]
        if math.isfinite(v):
            values.append(v)
    values += [  # subnormals
        struct.unpack("<d", struct.pack("<Q", rng.getrandbits(52)))[0]
        for _ in range(5_000)
    ]
    values += [2.0 ** k for k in range(-1074, 1024)]
    values += [-(2.0 ** k) for k in range(-1074, 1024, 7)]
    values += [
        5e-324, 1.7976931348623157e308, 1e16, 1e-5, -0.0, 0.0, 1e15,
        9999999999999998.0, 1e-4, 0.1, 0.3, 0.30000000000000004, 1 / 3,
        6.6332621121664288e16, 2.2250738585072014e-308, 123.456, 1e22,
        1e23, 5e-7, -1.5, 100.0,
    ]
    got = _float_texts(spark, values)
    bad = [(v, g) for v, g in zip(values, got) if g != repr(v)]
    assert len(got) == len(values) and not bad, (
        f"{len(bad)} differ, first: {bad[:10]}"
    )
    assert _float_texts(spark, [math.inf, -math.inf, math.nan]) == ["null"] * 3
    assert [core.json_dumps_canonical(core.FLOAT, v)
            for v in (math.inf, math.nan)] == ["null"] * 2
