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
depth 100 and at depth >= 1000. A disagreement is a bug in the Java port;
no row is ever dropped to make it pass.
"""

import importlib.util
import math
import os
import random
import shutil
import struct
import sys
import weakref

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

import datafusion_functions_json_spark as jsonf
from datafusion_functions_json_spark import union as union_mod
from datafusion_functions_json_spark.functions import core, jvm_tier, udfs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    shutil.which("javac") is None,
    reason="no JDK: the JVM tier falls back to the Python kernels",
)

FNS = sorted(jvm_tier.TIER_FNS)


def _corpus():
    spec = importlib.util.spec_from_file_location(
        "perfbench_corpus", os.path.join(REPO, "perfbench", "corpus.py")
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
    # nesting at depth 100 and at depth >= 1000
    _deep_obj(100), _deep_arr(100), _deep_obj(1000), _deep_arr(1000),
    _deep_obj(2500), _deep_arr(2500),
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


def _python_call(fn, path, col):
    """``fn`` at ``path`` on the Python tier, as the API builds it."""
    out = udfs.literal_path_udf(fn, tuple(path))(col)
    return union_mod.mask_null_arm(out) if fn == "json_get" else out


def _tiers(spark, docs, calls):
    """Every ``(fn, path)`` of ``calls`` over ``docs`` on both tiers in one
    query: the JVM tier, and the Python tier's own Arrow UDF, which runs
    the kernels in Spark's Python workers exactly as a fallback call
    does. Returns ``(jvm, python)``, one list of values per call."""
    df = spark.createDataFrame(list(enumerate(docs)), "i long, j string")
    jvm = [jvm_tier.column(fn, F.col("j"), p) for fn, p in calls]
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
        corpus = _corpus()
        day = corpus.generate(corpus.SHAPES["unique"], 1)[0]
        _diff(spark, day.texts[:3000], CORPUS_PATHS)

    def test_repeated_corpus(self, spark, tier):
        corpus = _corpus()
        days = corpus.generate(corpus.SHAPES["repeated"], 2)
        docs = [t for d in days for t in d.texts]
        _diff(spark, docs, CORPUS_PATHS + [("config", "opt_7")])

    def test_sql_surface(self, spark, tier):
        jsonf.register_all(spark)
        docs = EDGE_DOCS[:-1] + ['{"k": [{"a": 3}], "kk": {"k": 2}}']
        spark.createDataFrame([(d,) for d in docs], "j string") \
            .createOrReplaceTempView("jvm_tier_edge")
        calls = [
            ("json_get_int", ("k", 0, "a")), ("json_get_str", ("k",)),
            ("json_get_float", ("k",)), ("json_get_bool", ("k",)),
            ("json_get_json", ("kk", "k")), ("json_as_text", ("k",)),
            ("json_contains", ()), ("json_length", ()), ("json_len", ("k",)),
            ("json_get", ("k",)), ("json_get", ("k", 0)),
            ("json_get_array", ("k",)), ("json_object_keys", ()),
            ("json_keys", ("k",)),
        ]

        def lit(p):
            return f"'{p}'" if isinstance(p, str) else str(p)

        select = ", ".join(
            f"{fn}({', '.join(['j'] + [lit(p) for p in path])})"
            for fn, path in calls
        )
        q = spark.sql(f"SELECT j, {select} FROM jvm_tier_edge")
        assert "EvalPython" not in q._jdf.queryExecution().executedPlan().toString()
        rows = q.collect()
        alias = {"json_len": "json_length", "json_keys": "json_object_keys"}
        want = [alias.get(fn, fn) for fn, _ in calls]
        _, py = _tiers(spark, [r.j for r in rows],
                       [(fn, p) for fn, (_, p) in zip(want, calls)])
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
        assert plan.count("ArrowEvalPython") == 1  # json_from_scalar only
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
        f = jsonf.json_from_scalar(F.col("i") / 7, "double")
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
                [jvm_tier.union_to_text(x) for x in structs]
                + [udfs.union_to_text_udf()(x) for x in structs]
            )
        ))
        bad = [(r.i, k, r[f"c{k}"], r[f"c{k + 4}"])
               for r in out.collect() for k in range(4)
               if not _same(r[f"c{k}"], r[f"c{k + 4}"])]
        assert not bad, f"{len(bad)} mismatches, first: {bad[:10]}"

    def test_multi(self, spark, tier, monkeypatch):
        corpus = _corpus()
        day = corpus.generate(corpus.SHAPES["unique"], 3)[0]
        docs = EDGE_DOCS + day.texts[:1000]
        fields = {
            "id": ("int", "id"), "age": ("int", "user", "age"),
            "score": ("float", "user", "score"),
            "name": ("str", "user", "name"), "beta": ("bool", "flags", "beta"),
            "value": ("text", "event", "value"), "k": ("text", "k"),
            "ki": ("int", "k"), "kf": ("float", "k"), "kb": ("bool", "k"),
            "n": ("length",), "nk": ("length", "k"), "has": ("exists", "k"),
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

    def test_other_call_shapes_keep_python(self, spark, tier):
        df = spark.createDataFrame([('{"a": 1}', "a")], "j string, k string")
        for col in (
            jsonf.json_get_int("j", F.col("k")),  # column path
            jsonf.json_get("j", F.col("k")),
            jsonf.json_get_array("j", F.col("k")),
        ):
            plan = df.select(col)._jdf.queryExecution().executedPlan().toString()
            assert "ArrowEvalPython" in plan

    def test_sql_fallback_for_non_literal_paths(self, spark, tier):
        jsonf.register_all(spark)
        spark.createDataFrame(
            [('{"a": 1, "b": 2}', "b"), ("[7]", None)], "j string, k string"
        ).createOrReplaceTempView("jvm_tier_keys")
        q = spark.sql("SELECT json_get_int(j, k) AS v FROM jvm_tier_keys")
        assert "ArrowEvalPython" in q._jdf.queryExecution().executedPlan().toString()
        assert [r.v for r in q.collect()] == [2, None]
        q = spark.sql("SELECT json_get_int(j, 0) AS v FROM jvm_tier_keys")
        assert "EvalPython" not in q._jdf.queryExecution().executedPlan().toString()
        assert [r.v for r in q.collect()] == [None, 7]

    def test_sql_union_struct_document_keeps_python(self, spark, tier):
        jsonf.register_all(spark)
        q = spark.sql(
            """SELECT json_get_int(json_get('{"a": {"b": 3}}', 'a'), 'b') AS v"""
        )
        assert "ArrowEvalPython" in q._jdf.queryExecution().executedPlan().toString()
        assert q.collect()[0].v == 3

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
        assert jvm_tier.column("json_get_int", F.col("j"), ("a",)) is None
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
