"""JsonColumn operator surface + the two eager rewrites (reference:
src/rewrite.rs; plan-shape assertions mirror reference tests/main.rs:
984-1136 which capture EXPLAIN output)."""

import pytest
from pyspark.sql import functions as F

import datafusion_functions_json_spark as jsonf
from datafusion_functions_json_spark.functions import jvm_tier as jsonf_jvm_tier


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
        # two dependent UDF evaluations -> two ArrowEvalPython nodes
        assert plan.count("ArrowEvalPython") == 2

    def test_column_key_blocks_flattening_jvm_tier(self, spark):
        # on the JVM exact tier the outer literal-path json_get runs in the
        # executor; the column-key inner call stays a Python UDF, and the
        # two calls are still not flattened into one
        if jsonf_jvm_tier.load(spark.sparkContext) is None:
            pytest.skip("JVM exact tier unavailable")
        df = spark.createDataFrame([('{"a": {"b": 1}}', "a")], "j string, k string")
        inner = jsonf.col("j").get(F.col("k"))
        out = df.select(jsonf.json_get(inner, "b").alias("v"))
        plan = physical_plan(out)
        assert plan.count("ArrowEvalPython") == 1
        assert plan.count("json_get(") == 2
        assert out.collect()[0].v.int == 1

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
