"""Second-pass port of reference behaviors (reference: tests/main.rs) not
covered by test_functions/test_union/test_column: json_get_array matrix,
no-path root access, nested-JSON-string non-traversal, equality filters,
CTE/unnest composition, lookup literal/column matrix, from_scalar edge
values, non-finite float flattening."""

import pytest
from pyspark.sql import functions as F

import datafusion_functions_json_spark as jsonf


class TestJsonGetArrayMatrix:
    # reference: tests/main.rs:94-166
    def test_array_elem_via_index(self, spark):
        df = spark.createDataFrame([('{"a": [1, 2, 3]}',)], "j string")
        assert (
            jsonf.format_union_value(
                df.select(jsonf.json_get("j", "a", 1).alias("v")).collect()[0].v
            )
            == "{int=2}"
        )

    def test_basic_numbers(self, spark):
        df = spark.createDataFrame([("[1, 2, 3]",)], "j string")
        assert df.select(jsonf.json_get_array("j").alias("v")).collect()[0].v == [
            "1",
            "2",
            "3",
        ]

    def test_nested_objects(self, spark):
        df = spark.createDataFrame([('[{"a": 1}, {"b": 2}]',)], "j string")
        assert df.select(jsonf.json_get_array("j").alias("v")).collect()[0].v == [
            '{"a": 1}',
            '{"b": 2}',
        ]

    def test_nested_arrays(self, spark):
        df = spark.createDataFrame([("[[1, 2], [3, 4]]",)], "j string")
        assert df.select(jsonf.json_get_array("j").alias("v")).collect()[0].v == [
            "[1, 2]",
            "[3, 4]",
        ]

    def test_empty(self, spark):
        df = spark.createDataFrame([("[]",)], "j string")
        assert df.select(jsonf.json_get_array("j").alias("v")).collect()[0].v == []

    def test_invalid_json(self, spark):
        df = spark.createDataFrame([("invalid",)], "j string")
        assert df.select(jsonf.json_get_array("j").alias("v")).collect()[0].v is None

    def test_with_path(self, spark):
        # reference: tests/main.rs:157-165
        df = spark.createDataFrame([('{"a": {"b": [1, 2]}}',)], "j string")
        assert (
            df.select(jsonf.json_get_array("j", "a", "b").alias("v")).collect()[0].v
            == ["1", "2"]
        )


class TestRootAndNoPath:
    def test_json_get_no_path(self, spark):
        # reference: tests/main.rs:301-311 — json_get(json) returns the root
        df = spark.createDataFrame([("123",), ('"str"',), ("[1]",)], "j string")
        vals = [
            jsonf.format_union_value(r.v)
            for r in df.select(jsonf.json_get("j").alias("v")).collect()
        ]
        assert vals == ["{int=123}", "{str=str}", "{array=[1]}"]

    def test_json_get_str_top_level_string_doc(self, spark):
        df = spark.createDataFrame([('"lone string"',)], "j string")
        assert (
            df.select(jsonf.json_get_str("j").alias("v")).collect()[0].v
            == "lone string"
        )


class TestNestedJsonString:
    # reference: tests/main.rs:878-894 — a STRING value whose content looks
    # like JSON is NOT traversable and ->> returns it unquoted as-is
    def test_as_text_returns_inner_string(self, spark):
        df = spark.createDataFrame([('{"a": "{\\"x\\": 1}"}',)], "j string")
        assert (
            df.select(jsonf.json_as_text("j", "a").alias("v")).collect()[0].v
            == '{"x": 1}'
        )

    def test_traversal_into_string_misses(self, spark):
        df = spark.createDataFrame([('{"a": "{\\"x\\": 1}"}',)], "j string")
        assert (
            df.select(jsonf.json_get_int("j", "a", "x").alias("v")).collect()[0].v
            is None
        )


class TestEqualityAndFilters:
    def test_json_get_str_equals(self, test_df):
        # reference: tests/main.rs:252-271
        got = {
            r.name: r.eq
            for r in test_df.select(
                "name", (jsonf.json_get_str("json_data", "foo") == "abc").alias("eq")
            ).collect()
        }
        assert got["object_foo"] is True
        assert got["object_bar"] is None  # NULL = 'abc' -> NULL

    def test_cast_equals(self, spark):
        # reference: tests/main.rs:208-228 — json_get(...)::int = 1
        df = spark.createDataFrame(
            [('{"a": 1}',), ('{"a": 2}',), ('{"a": "x"}',)], "j string"
        )
        jc = jsonf.col("j")
        n = df.filter(jc["a"].cast("bigint") == 1).count()
        assert n == 1


class TestComposition:
    def test_cte(self, spark, test_df):
        # reference: tests/main.rs:937-1000 — WITH over json functions
        jsonf.register_all(spark)
        rows = spark.sql(
            """
            with t as (select name, json_get_str(json_data, 'foo') v from test)
            select name, v from t where v is not null
            """
        ).collect()
        assert [(r.name, r.v) for r in rows] == [("object_foo", "abc")]

    def test_unnest_analog(self, spark):
        # reference: tests/main.rs:1003-1093 — unnest => explode
        df = spark.createDataFrame(
            [('{"a": [1, 2]}',), ('{"a": [3]}',)], "j string"
        )
        out = (
            df.select(F.explode(jsonf.json_get_array("j", "a")).alias("e"))
            .select(F.col("e").cast("int").alias("n"))
            .orderBy("n")
            .collect()
        )
        assert [r.n for r in out] == [1, 2, 3]


class TestLookupMatrix:
    # reference: tests/main.rs:2178-2259 — literal and column keys against
    # assorted document shapes
    DOCS = [
        ('{"foo": 42}', "foo", 0),
        ('{"foo": "x"}', "bar", 1),
        ("[4, 5, 6]", "foo", 1),
        ("null", "foo", 0),
        ('{"foo": null}', "foo", 0),
    ]

    def test_matrix(self, spark):
        df = spark.createDataFrame(self.DOCS, "j string, sk string, ik bigint")
        rows = df.select(
            jsonf.json_as_text("j", "foo").alias("lit_text"),
            jsonf.json_as_text("j", F.col("sk")).alias("col_text"),
            jsonf.json_as_text("j", F.col("ik")).alias("idx_text"),
            jsonf.json_contains("j", F.col("sk")).alias("col_has"),
        ).collect()
        got = [(r.lit_text, r.col_text, r.idx_text, r.col_has) for r in rows]
        assert got == [
            ("42", "42", None, True),
            ("x", None, None, False),
            (None, None, "5", False),
            (None, None, None, False),
            (None, None, None, True),  # present-null: contains true, text NULL
        ]


class TestFromScalarEdges:
    # reference: tests/main.rs:2447-2615
    def _lift(self, spark, sql_expr):
        df = spark.createDataFrame([(1,)], "x int").select(
            F.expr(sql_expr).alias("v")
        )
        return jsonf.format_union_value(
            df.select(jsonf.json_from_scalar("v").alias("u"))
            .collect()[0]
            .u
        )

    def test_int64_bounds(self, spark):
        assert self._lift(spark, "cast(-9223372036854775808 as bigint)") == (
            "{int=-9223372036854775808}"
        )
        assert self._lift(spark, "cast(9223372036854775807 as bigint)") == (
            "{int=9223372036854775807}"
        )

    def test_small_int_coercion(self, spark):
        # Int8/Int16/Int32 all coerce into the i64 arm
        assert self._lift(spark, "cast(42 as tinyint)") == "{int=42}"
        assert self._lift(spark, "cast(42 as smallint)") == "{int=42}"
        assert self._lift(spark, "cast(42 as int)") == "{int=42}"

    def test_empty_string(self, spark):
        assert self._lift(spark, "''") == "{str=}"

    def test_typed_nulls(self, spark):
        assert self._lift(spark, "cast(null as boolean)") == "{null=}"
        assert self._lift(spark, "cast(null as double)") == "{null=}"
        assert self._lift(spark, "cast(null as string)") == "{null=}"

    def test_float32_coercion(self, spark):
        assert self._lift(spark, "cast(3.5 as float)") == "{float=3.5}"

    def test_nonfinite_floats_in_float_arm(self, spark):
        assert self._lift(spark, "double('Infinity')") == "{float=inf}"
        assert self._lift(spark, "double('-Infinity')") == "{float=-inf}"
        assert self._lift(spark, "double('NaN')") == "{float=NaN}"

    def test_nonfinite_to_text_is_json_null_text(self, spark):
        # serde_json writes non-finite floats as null (reference float arm)
        df = spark.createDataFrame([(1,)], "x int")
        r = df.select(
            jsonf.json_union_to_text(
                jsonf.json_from_scalar(F.expr("double('Infinity')"))
            ).alias("t")
        ).collect()[0]
        assert r.t == "null"


class TestSqlFromScalar:
    def test_sql_surface(self, spark):
        jsonf.register_all(spark)
        df = spark.createDataFrame([(7, "hi", True, 1.5)], "i long, s string, b boolean, f double")
        df.createOrReplaceTempView("sc")
        r = spark.sql(
            """
            select json_union_to_text(json_from_scalar(i)) i,
                   json_union_to_text(scalar_to_json(s)) s,
                   json_union_to_text(json_from_scalar(b)) b,
                   json_union_to_text(json_from_scalar(f)) f
            from sc
            """
        ).collect()[0]
        assert (r.i, r.s, r.b, r.f) == ("7", '"hi"', "true", "1.5")
