"""JsonColumn operator surface + the two rewrites it applies before it
builds its column (reference: src/rewrite.rs; plan-shape assertions
mirror reference tests/main.rs:984-1136 which capture EXPLAIN output)."""

import pytest
from pyspark.sql import functions as F

import datafusion_functions_json_spark as jsonf
from datafusion_functions_json_spark.functions import jvm_tier as jsonf_jvm_tier
from datafusion_functions_json_spark.functions.signatures import CAST_ELISION


def physical_plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()  # simple mode: each physical node appears once
    return buf.getvalue()


class TestOperatorSugar:
    def test_arrow_alias(self, test_df):
        jc = jsonf.col("json_data")
        df = test_df.select(jc["foo"])
        assert df.columns == ["json_data -> 'foo'"]

    def test_chained_alias(self, spark):
        df = spark.createDataFrame([('{"a": {"b": [1]}}',)], "j string")
        jc = jsonf.col("j")
        out = df.select(jc["a"]["b"][0])
        assert out.columns == ["j -> 'a' -> 'b' -> 0"]
        assert jsonf.format_union_value(out.collect()[0][0]) == "{int=1}"

    def test_as_text_alias(self, test_df):
        jc = jsonf.col("json_data")
        df = test_df.select(jc.as_text("foo"))
        assert df.columns == ["json_data ->> 'foo'"]

    def test_contains_alias(self, test_df):
        jc = jsonf.col("json_data")
        df = test_df.select(jc.contains("foo"))
        assert df.columns == ["json_data ? 'foo'"]

    def test_operators_bind_and_compare(self, spark):
        # reference: tests/main.rs:1533-1545 — j->'a' = value comparisons
        df = spark.createDataFrame([('{"a": "x"}',), ('{"a": "y"}',)], "j string")
        jc = jsonf.col("j")
        n = df.filter(jc.as_text("a") == "x").count()
        assert n == 1

    def test_column_key_chain_alias(self, spark):
        # a chain that cannot un-nest is named from its lookups, the key
        # column by its name (reference: src/rewrite.rs:146-171)
        df = spark.createDataFrame([('{"k": {"x": 1}}', "k")], "j string, kc string")
        jc = jsonf.col("j")
        for out in (df.select(jc[F.col("kc")]["x"]),
                    df.select(jc.get(F.col("kc"))["x"])):
            assert out.columns == ["j -> kc -> 'x'"]
            assert jsonf.format_union_value(out.collect()[0][0]) == "{int=1}"

    def test_wrapped_union_chain_alias(self, spark):
        # a wrapped union value is named by its call, as SQL names it
        df = spark.createDataFrame([('{"a": 2}',)], "s string")
        out = df.select(jsonf.json_from_scalar(F.col("s"))["a"])
        assert out.columns == ["json_from_scalar(s) -> 'a'"]
        assert out.collect()[0][0] is None  # a string arm has no members


@pytest.mark.usefixtures("python_tier")
class TestOperatorSugarPythonTier(TestOperatorSugar):
    """The operator sugar on the Python kernels."""


def _column_chain(c):
    """perfbench's column_chain aggregates (perfbench/templates.py), over
    the chain spelling ``c`` (a JsonColumn) or, with ``c`` None, the
    direct one."""
    if c is None:
        city = jsonf.json_get_str("j", "user", "address", "city")
        qty = jsonf.json_get_int("j", "event", "items", 0, "qty")
        lat = jsonf.json_get_float("j", "user", "address", "geo", "lat")
    else:
        city = c["user"]["address"]["city"].cast("string")
        qty = c["event"]["items"][0]["qty"].cast("bigint")
        lat = c["user"]["address"]["geo"]["lat"].cast("double")
    return F.count_distinct(city), F.sum(qty), F.sum(lat)


class TestBuildOnce:
    """A JsonColumn builds its column once, on first use: the steps of a
    chain that un-nests or elides its cast build nothing."""

    def test_column_chain_builds_one_call_per_expression(self, spark, monkeypatch):
        from pyspark.sql.classic.column import Column

        if jsonf_jvm_tier.load(spark.sparkContext) is None:
            pytest.skip("JVM exact tier unavailable")
        calls, aliases = [], []
        call, alias = jsonf_jvm_tier.call, Column.alias
        monkeypatch.setattr(jsonf_jvm_tier, "call", lambda *a, **k: (
            calls.append(a[0]), call(*a, **k))[1])
        monkeypatch.setattr(Column, "alias", lambda self, *a, **k: (
            aliases.append(a), alias(self, *a, **k))[1])
        df = spark.createDataFrame([], "j string")
        df.agg(*_column_chain(jsonf.col("j")))
        assert calls == ["json_get_str", "json_get_int", "json_get_float"]
        assert aliases == []

    @pytest.mark.parametrize("python", [False, True], ids=["jvm", "python"])
    def test_chain_plans_like_direct_spelling(self, spark, request, python):
        if python:
            request.getfixturevalue("python_tier")
        elif jsonf_jvm_tier.load(spark.sparkContext) is None:
            pytest.skip("JVM exact tier unavailable")
        df = spark.createDataFrame(
            [('{"user": {"address": {"city": "x", "geo": {"lat": 1.5}}}, '
              '"event": {"items": [{"qty": 2}]}}',)], "j string")
        chain = df.agg(*_column_chain(jsonf.col("j")))
        direct = df.agg(*_column_chain(None))
        assert chain.columns == direct.columns
        assert chain._jdf.queryExecution().optimizedPlan().sameResult(
            direct._jdf.queryExecution().optimizedPlan())
        assert chain.collect() == direct.collect() == [(1, 2, 1.5)]


class TestCallUnnesting:
    def test_literal_chain_single_udf(self, spark, python_tier):
        # reference: tests/main.rs:1047-1056 — nested get flattens to one
        # call => ONE python UDF in the physical plan
        df = spark.createDataFrame([('{"a": {"b": 1}}',)], "j string")
        jc = jsonf.col("j")
        plan = physical_plan(df.select(jc["a"]["b"]))
        assert plan.count("ArrowEvalPython") == 1
        assert plan.count("json_get") == 1

    def test_literal_chain_single_udf_jvm_tier(self, spark):
        # the same flattened chain on the JVM exact tier: one json_get
        # call and no Python hop
        if jsonf_jvm_tier.load(spark.sparkContext) is None:
            pytest.skip("JVM exact tier unavailable")
        df = spark.createDataFrame([('{"a": {"b": 1}}',)], "j string")
        out = df.select(jsonf.col("j")["a"]["b"].alias("v"))
        plan = physical_plan(out)
        assert "EvalPython" not in plan
        assert plan.count("json_get") == 1
        assert out.collect()[0].v.int == 1

    def test_column_key_blocks_flattening(self, spark, python_tier):
        # reference: tests/main.rs:1126-1136 — non-literal path must NOT
        # flatten; two UDF evaluations remain
        df = spark.createDataFrame([('{"a": {"b": 1}}', "a")], "j string, k string")
        jc = jsonf.col("j")
        inner = jc.get(F.col("k"))
        plan = physical_plan(df.select(jsonf.json_get(inner, "b")))
        # two dependent UDF evaluations: the outer call reads the inner
        # one's struct, so Spark chains both in one Python hop
        assert plan.count("ArrowEvalPython") == 1
        assert "json_get(json_get(j#" in plan

    def test_column_key_blocks_flattening_jvm_tier(self, spark):
        # on the JVM exact tier both the column-key inner call and the
        # outer literal-path json_get run in the executor, and the two
        # calls are still not flattened into one
        if jsonf_jvm_tier.load(spark.sparkContext) is None:
            pytest.skip("JVM exact tier unavailable")
        df = spark.createDataFrame([('{"a": {"b": 1}}', "a")], "j string, k string")
        inner = jsonf.col("j").get(F.col("k"))
        out = df.select(jsonf.json_get(inner, "b").alias("v"))
        plan = physical_plan(out)
        assert "EvalPython" not in plan
        # the outer call reads the inner one's union struct itself, so
        # each call prints once
        assert "json_get(json_get(j#" in plan
        assert plan.count("json_get(") == 2
        assert out.collect()[0].v.int == 1

    @pytest.mark.parametrize("python", [False, True], ids=["jvm", "python"])
    def test_literal_steps_un_nest_over_a_column_key_call(self, spark, request,
                                                          python):
        # the outer literal steps extend the path of any literal-path
        # json_get, its document a call or a column (reference:
        # src/rewrite.rs:74-83): json_get(json_get(j, kc), 'x', 'c')
        if python:
            request.getfixturevalue("python_tier")
        elif jsonf_jvm_tier.load(spark.sparkContext) is None:
            pytest.skip("JVM exact tier unavailable")
        df = spark.createDataFrame(
            [('{"k": {"x": {"c": 5}}}', "k"), ('{"k": {"x": [1]}}', "k"),
             ('{"y": {"x": {"c": 6}}}', "y"), ('{"y": 1}', None)],
            "j string, kc string")
        inner = jsonf.json_get("j", F.col("kc"))
        chain = df.select(jsonf.json_get(inner, "x")["c"])
        direct = df.select(jsonf.json_get(inner, "x", "c"))
        assert chain._jdf.queryExecution().optimizedPlan().sameResult(
            direct._jdf.queryExecution().optimizedPlan())
        # two calls, each printed once; 7 before un-nesting
        plan = chain._jdf.queryExecution().executedPlan().toString()
        assert plan.count("json_get(") == 2
        assert chain.columns == ["j -> kc -> 'x' -> 'c'"]
        rows = [jsonf.format_union_value(r[0]) if r[0] else None
                for r in chain.collect()]
        assert rows == ["{int=5}", None, "{int=6}", None]

    def test_typed_getter_after_chain_flattens(self, spark, python_tier):
        df = spark.createDataFrame([('{"a": {"b": 2}}',)], "j string")
        jc = jsonf.col("j")
        out = df.select(jc["a"].get_int("b").alias("v"))
        plan = physical_plan(out)
        # json_get_int over the flattened path — union never materialized
        assert plan.count("ArrowEvalPython") == 1
        assert "json_get_int" in plan
        assert out.collect()[0].v == 2

    def test_typed_getter_after_chain_flattens_jvm_tier(self, spark):
        # the same flattened getter on the JVM exact tier: no Python hop
        if jsonf_jvm_tier.load(spark.sparkContext) is None:
            pytest.skip("JVM exact tier unavailable")
        df = spark.createDataFrame([('{"a": {"b": 2}}',)], "j string")
        out = df.select(jsonf.col("j")["a"].get_int("b").alias("v"))
        plan = physical_plan(out)
        assert "EvalPython" not in plan
        assert plan.count("json_get_int") == 1
        assert out.collect()[0].v == 2


class TestCastElision:
    def test_cast_to_bigint(self, spark):
        # reference: tests/main.rs:1316-1326
        df = spark.createDataFrame([('{"a": 7}',)], "j string")
        jc = jsonf.col("j")
        out = df.select(jc["a"].cast("bigint").alias("v"))
        plan = physical_plan(out)
        assert "json_get_int" in plan
        assert plan.count("json_get(") == 0  # union getter gone
        assert out.collect()[0].v == 7

    def test_cast_to_string_uses_get_str(self, spark):
        df = spark.createDataFrame([('{"a": "s"}',)], "j string")
        jc = jsonf.col("j")
        out = df.select(jc["a"].cast("string").alias("v"))
        assert "json_get_str" in physical_plan(out)
        assert out.collect()[0].v == "s"

    def test_cast_to_double_and_bool(self, spark):
        df = spark.createDataFrame([('{"a": 1.5, "b": true}',)], "j string")
        jc = jsonf.col("j")
        r = df.select(
            jc["a"].cast("double").alias("f"), jc["b"].cast("boolean").alias("b")
        ).collect()[0]
        assert (r.f, r.b) == (1.5, True)

    def test_unknown_cast_falls_through(self, spark):
        df = spark.createDataFrame([('{"a": 1}',)], "j string")
        jc = jsonf.col("j")
        # cast to a non-elidable type: stays a real struct cast; Spark will
        # reject struct->date at analysis, proving no elision happened
        import pyspark.errors

        try:
            df.select(jc["a"].cast("date")).collect()
            raised = False
        except pyspark.errors.exceptions.base.PySparkException:
            raised = True
        assert raised


@pytest.mark.usefixtures("python_tier")
class TestCastElisionPythonTier(TestCastElision):
    """Cast elision on the Python kernels."""


_CAST_DOCS = [
    '{"a": 3}', '{"a": -2.75}', '{"a": "abc"}', '{"a": true}',
    '{"a": null}', '{"a": [1]}', "{}", "not json",
]


@pytest.mark.parametrize("tier", ["jvm", "python"])
@pytest.mark.parametrize(
    "spelling", sorted(CAST_ELISION) + ["decimal(10,2)", "varchar(10)"]
)
def test_api_and_sql_casts_agree(spark, request, monkeypatch, tier, spelling):
    # one row per spelling of the one cast-elision map: the API's cast
    # and SQL's give the same values (the API keeps a width SQL drops:
    # .cast("int") is INT where ::int is BIGINT, equal as values)
    if tier == "python":
        request.getfixturevalue("python_tier")
    df = spark.createDataFrame(list(enumerate(_CAST_DOCS)), "id int, j string")
    df.createOrReplaceTempView("cast_docs")
    jsonf.register_all(spark)
    try:
        api = df.orderBy("id").select(jsonf.col("j")["a"].cast(spelling))
        sql = jsonf.sql(
            spark,
            f"select cast(j->'a' as {spelling}) from cast_docs order by id",
        )
        assert [r[0] for r in api.collect()] == [r[0] for r in sql.collect()]
    finally:
        monkeypatch.undo()
        jsonf.register_all(spark)


class TestDeterminismPushdown:
    def test_filter_pushes_below_projection(self, spark, tmp_path):
        # Catalyst stand-in for the reference's leaf-ward placement hint
        # (src/json_get.rs:61-77): our UDFs are deterministic, so a
        # partition filter on a plain column still prunes at the scan.
        p = str(tmp_path / "t.parquet")
        spark.createDataFrame(
            [(i, '{"a": %d}' % i) for i in range(10)], "id long, j string"
        ).write.mode("overwrite").parquet(p)
        df = spark.read.parquet(p)
        out = df.filter(F.col("id") == 3).select(jsonf.json_get_int("j", "a"))
        plan = physical_plan(out)
        assert "PushedFilters: [IsNotNull(id), EqualTo(id,3)]" in plan


class TestCastElisionReviewFixes:
    def test_datatype_instances_match_string_targets(self, spark):
        import datafusion_functions_json_spark as jsonf
        from pyspark.sql import types as T

        df = spark.createDataFrame([('{"a": 7}',)], "j string")
        jc = jsonf.col("j")
        for s_name, inst, want in [
            ("int", T.IntegerType(), "int"),
            ("smallint", T.ShortType(), "smallint"),
            ("tinyint", T.ByteType(), "tinyint"),
            ("bigint", T.LongType(), "bigint"),
            ("float", T.FloatType(), "float"),
            ("double", T.DoubleType(), "double"),
        ]:
            a = df.select(jc["a"].cast(s_name).alias("x")).schema["x"].dataType
            b = df.select(jc["a"].cast(inst).alias("x")).schema["x"].dataType
            assert a.simpleString() == b.simpleString() == want, (s_name, a, b)

    def test_column_key_cast_elides_to_typed_getter(self, spark):
        import datafusion_functions_json_spark as jsonf
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [('{"a": 7, "b": 8}', "a"), ('{"a": 7, "b": 8}', "b")],
            "j string, k string",
        )
        out = df.select(
            jsonf.col("j")[F.col("k")].cast("bigint").alias("v")
        )
        assert out.schema["v"].dataType.simpleString() == "bigint"
        assert [r.v for r in out.collect()] == [7, 8]


@pytest.mark.usefixtures("python_tier")
class TestCastElisionReviewFixesPythonTier(TestCastElisionReviewFixes):
    """The same fixes on the Python kernels."""
