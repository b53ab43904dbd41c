"""End-to-end Spark tests for the 13 functions — a 1:1 port of the
reference's golden-table behaviors (reference: tests/main.rs; SURVEY.md §5
strategy t1). Each test runs against local-mode Spark over the reference
fixture tables (conftest.py).
"""

import pytest
from pyspark.sql import functions as F

import datafusion_functions_json_spark as jsonf


def rows_by_name(df, *cols):
    out = {}
    for r in df.collect():
        out[r["name"]] = tuple(r[c] for c in cols) if len(cols) > 1 else r[cols[0]]
    return out


class TestJsonGet:
    def test_union_members(self, test_df):
        # reference: tests/main.rs json_get golden tables
        got = rows_by_name(
            test_df.select(
                "name", jsonf.json_get("json_data", "foo").alias("v")
            ).withColumn("v", F.col("v"))
        , "v")
        disp = {k: jsonf.format_union_value(v) for k, v in got.items()}
        assert disp == {
            "object_foo": "{str=abc}",
            "object_foo_array": "{array=[1]}",
            "object_foo_obj": "{object={}}",
            "object_foo_null": "{null=}",
            "object_bar": "{null=}",
            "list_foo": "{null=}",
            "invalid_json": "{null=}",
        }

    def test_is_null_parity(self, test_df):
        # reference: tests/main.rs:1612-1729 — union null arm IS NULL
        got = rows_by_name(
            test_df.select(
                "name", jsonf.json_get("json_data", "foo").isNull().alias("n")
            ),
            "n",
        )
        assert got == {
            "object_foo": False,
            "object_foo_array": False,
            "object_foo_obj": False,
            "object_foo_null": True,
            "object_bar": True,
            "list_foo": True,
            "invalid_json": True,
        }

    def test_int_float_distinction(self, spark):
        df = spark.createDataFrame(
            [('{"a": 1}',), ('{"a": 1.0}',), ('{"a": 9999999999999999999}',)],
            "j string",
        )
        vals = [
            jsonf.format_union_value(r.v)
            for r in df.select(jsonf.json_get("j", "a").alias("v")).collect()
        ]
        # big int beyond i64 -> null arm (documented deviation: the
        # reference panics, src/json_get.rs:147)
        assert vals == ["{int=1}", "{float=1}", "{null=}"]

    def test_index_path(self, spark):
        df = spark.createDataFrame([('["a", "b", "c"]',)], "j string")
        assert (
            df.select(jsonf.json_get("j", 1).alias("v")).collect()[0].v["str"] == "b"
        )


class TestJsonGetStr:
    def test_only_strings(self, test_df):
        got = rows_by_name(
            test_df.select("name", jsonf.json_get_str("json_data", "foo").alias("v")),
            "v",
        )
        assert got == {
            "object_foo": "abc",
            "object_foo_array": None,
            "object_foo_obj": None,
            "object_foo_null": None,
            "object_bar": None,
            "list_foo": None,
            "invalid_json": None,
        }

    def test_column_keys(self, other_df):
        # reference: tests/main.rs:413-436 — per-row lookup keys
        rows = other_df.select(
            jsonf.json_get_int("json_data", F.col("str_key")).alias("a"),
            jsonf.json_get_int("json_data", F.col("int_key")).alias("b"),
        ).collect()
        assert [(r.a, r.b) for r in rows] == [
            (42, None),
            (None, None),
            (None, 42),
            (None, None),
        ]


class TestJsonGetInt:
    def test_string_coercion(self, spark):
        # reference: tests/main.rs:318-343
        df = spark.createDataFrame(
            [
                ('{"a": 123}',),
                ('{"a": "123"}',),
                ('{"a": "1.5"}',),
                ('{"a": 1.5}',),
                ('{"a": true}',),
                ('{"a": null}',),
                ('{"a": [1]}',),
                ('{"a": 9223372036854775808}',),
            ],
            "j string",
        )
        vals = [r.v for r in df.select(jsonf.json_get_int("j", "a").alias("v")).collect()]
        assert vals == [123, 123, None, None, None, None, None, None]


class TestJsonGetFloat:
    def test_coercions(self, spark):
        df = spark.createDataFrame(
            [
                ('{"a": 1.5}',),
                ('{"a": 2}',),
                ('{"a": "3.25"}',),
                ('{"a": "abc"}',),
                ('{"a": true}',),
                ('{"a": null}',),
            ],
            "j string",
        )
        vals = [
            r.v for r in df.select(jsonf.json_get_float("j", "a").alias("v")).collect()
        ]
        assert vals == [1.5, 2.0, 3.25, None, None, None]


class TestJsonGetBool:
    def test_strict(self, spark):
        df = spark.createDataFrame(
            [
                ('{"a": true}',),
                ('{"a": false}',),
                ('{"a": "true"}',),
                ('{"a": "True"}',),
                ('{"a": 1}',),
                ('{"a": null}',),
            ],
            "j string",
        )
        vals = [
            r.v for r in df.select(jsonf.json_get_bool("j", "a").alias("v")).collect()
        ]
        assert vals == [True, False, True, None, None, None]


class TestJsonGetJson:
    def test_raw_text(self, test_df):
        # reference: tests/main.rs:486-512
        got = rows_by_name(
            test_df.select("name", jsonf.json_get_json("json_data", "foo").alias("v")),
            "v",
        )
        assert got == {
            "object_foo": '"abc"',  # strings stay quoted
            "object_foo_array": "[1]",
            "object_foo_obj": "{}",
            "object_foo_null": "null",  # literal null text, not SQL NULL
            "object_bar": None,
            "list_foo": None,
            "invalid_json": None,
        }

    def test_float_verbatim(self, spark):
        df = spark.createDataFrame([('{"x": 4.2e-1}',)], "j string")
        assert (
            df.select(jsonf.json_get_json("j", "x").alias("v")).collect()[0].v
            == "4.2e-1"
        )


class TestJsonGetArray:
    def test_raw_elements(self, spark):
        # reference: tests/main.rs:103-163
        df = spark.createDataFrame(
            [('["hello", 42, true, null, 3.14]',), ('{"a": 1}',), ("17",)],
            "j string",
        )
        vals = [r.v for r in df.select(jsonf.json_get_array("j").alias("v")).collect()]
        assert vals[0] == ['"hello"', "42", "true", "null", "3.14"]
        assert vals[1] is None
        assert vals[2] is None

    def test_composes_with_explode(self, spark):
        df = spark.createDataFrame([('{"xs": [1, 2, 3]}',)], "j string")
        n = (
            df.select(F.explode(jsonf.json_get_array("j", "xs")).alias("x"))
            .count()
        )
        assert n == 3


class TestJsonAsText:
    def test_postgres_arrow_semantics(self, test_df):
        # reference: src/json_as_text.rs:101-112
        got = rows_by_name(
            test_df.select("name", jsonf.json_as_text("json_data", "foo").alias("v")),
            "v",
        )
        assert got == {
            "object_foo": "abc",  # unquoted
            "object_foo_array": "[1]",
            "object_foo_obj": "{}",
            "object_foo_null": None,  # json null -> SQL NULL
            "object_bar": None,
            "list_foo": None,
            "invalid_json": None,
        }


class TestJsonContains:
    def test_existence(self, test_df):
        # reference: tests/main.rs:21-43
        got = rows_by_name(
            test_df.select("name", jsonf.json_contains("json_data", "foo").alias("v")),
            "v",
        )
        assert got == {
            "object_foo": True,
            "object_foo_array": True,
            "object_foo_obj": True,
            "object_foo_null": True,  # present-null => true
            "object_bar": False,
            "list_foo": False,
            "invalid_json": False,
        }

    def test_array_bounds(self, spark):
        # reference: tests/main.rs:46-54
        df = spark.createDataFrame([("[1, 2]",)], "j string")
        r = df.select(
            jsonf.json_contains("j", 0).alias("a"),
            jsonf.json_contains("j", 2).alias("b"),
        ).collect()[0]
        assert (r.a, r.b) == (True, False)

    def test_requires_path(self):
        with pytest.raises(ValueError, match="requires 2 or more"):
            jsonf.json_contains("j")

    def test_filter_composition(self, test_df):
        # reference: tests/main.rs:570-576 — WHERE json_contains(...)
        n = test_df.filter(jsonf.json_contains("json_data", "foo")).count()
        assert n == 4


class TestJsonLength:
    def test_lengths(self, test_df):
        # reference: tests/main.rs:524-557
        got = rows_by_name(
            test_df.select("name", jsonf.json_length("json_data").alias("v")), "v"
        )
        assert got == {
            "object_foo": 1,
            "object_foo_array": 1,
            "object_foo_obj": 1,
            "object_foo_null": 1,
            "object_bar": 1,
            "list_foo": 1,
            "invalid_json": None,
        }

    def test_with_path(self, spark):
        # reference: tests/main.rs:656-679
        df = spark.createDataFrame([('{"a": [1, [1, 2]], "b": "str"}',)], "j string")
        r = df.select(
            jsonf.json_length("j", "a").alias("a"),
            jsonf.json_length("j", "a", 1).alias("a1"),
            jsonf.json_length("j", "b").alias("b"),
        ).collect()[0]
        assert (r.a, r.a1, r.b) == (2, 2, None)


class TestJsonObjectKeys:
    def test_keys(self, test_df):
        got = rows_by_name(
            test_df.select("name", jsonf.json_object_keys("json_data").alias("v")),
            "v",
        )
        assert got["object_foo"] == ["foo"]
        assert got["object_bar"] == ["bar"]
        assert got["list_foo"] is None
        assert got["invalid_json"] is None

    def test_nested_path(self, spark):
        # reference: tests/main.rs:2086-2175
        df = spark.createDataFrame([('{"a": {"x": 1, "y": 2}}',)], "j string")
        assert (
            df.select(jsonf.json_object_keys("j", "a").alias("v")).collect()[0].v
            == ["x", "y"]
        )


class TestNestedLookups:
    def test_union_continues_lookup(self, more_nested_df):
        # reference: tests/main.rs:1106-1123 — nested column-keyed gets
        rows = more_nested_df.select(
            jsonf.json_get_array(
                jsonf.json_get(
                    jsonf.json_get("json_data", F.col("str_key1")),
                    F.col("str_key2"),
                )
            ).alias("v")
        ).collect()
        assert [r.v for r in rows] == [["0"], None, None]

    def test_scalar_member_nested_lookup_misses(self, spark):
        # lookup into a scalar union member yields null (reference:
        # src/common_union.rs:49-57)
        df = spark.createDataFrame([('{"a": "str"}',)], "j string")
        u = jsonf.json_get("j", "a")
        assert df.select(jsonf.json_get(u, "b").isNull().alias("n")).collect()[0].n


class TestErrorParity:
    def test_null_literal_path(self):
        # reference: tests/main.rs:291-298
        with pytest.raises(ValueError, match="expected string or int, got Null"):
            jsonf.json_get_str("j", None)

    def test_multi_column_path(self):
        # reference: src/common.rs:129-133, tests/main.rs:1096-1103
        with pytest.raises(ValueError, match="More than 1 path element"):
            jsonf.json_get("j", "a", F.col("k"))

    def test_bad_path_type(self):
        with pytest.raises(ValueError, match="expected string or int"):
            jsonf.json_get("j", 1.5)

    def test_union_equals_raises_without_cast(self, spark, test_df):
        # reference: tests/main.rs test_json_get_equals — comparing the
        # raw union to a string is a plan error; ::string works (cast
        # elision rewrites it to json_get_str, covered in test_column)
        import pyspark.errors

        with pytest.raises(pyspark.errors.AnalysisException):
            test_df.select(
                (jsonf.json_get("json_data", "foo") == F.lit("abc")).alias("x")
            ).collect()

    def test_no_args_sql(self, spark, test_df):
        # reference: tests/main.rs test_no_args — json_len() with no
        # arguments must be rejected, not return garbage. The JVM tier's
        # builder rejects it at analysis; the Python UDFs (tier off) at
        # execution (PythonException from the missing positional arg).
        # The jsonf.sql surface has no operator form that can produce a
        # zero-arg call.
        jsonf.register_all(spark)
        with pytest.raises(Exception, match="json_len|positional argument"):
            spark.sql("select json_len()").collect()

    def test_from_scalar_arg_count_sql(self, spark, test_df):
        # reference: tests/main.rs:2643-2660 — json_from_scalar() and
        # json_from_scalar(1, 2) are both rejected. Raw spark.sql rejects
        # at analysis on the JVM tier, at execution on the Python UDFs
        # (python arity error); the jsonf.sql surface rejects at rewrite
        # time (test_sql_operators), like test_no_args_sql above.
        jsonf.register_all(spark)
        with pytest.raises(Exception, match="json_from_scalar|positional argument"):
            spark.sql("select json_from_scalar()").collect()
        with pytest.raises(Exception, match="json_from_scalar|positional argument"):
            spark.sql("select json_from_scalar(1, 2)").collect()


class TestNegativeNumberDeviation:
    """DELIBERATE divergence from the reference, pinned: the reference's
    jiter match arms omit Peek::Minus so negative JSON numbers yield NULL
    there (src/json_get_int.rs:109, src/json_get_float.rs:110); we return
    the value — saner, and what the DuckDB oracle does. Documented in
    kernels.py and SURVEY.md §2.1."""

    def test_negative_numbers_returned(self, spark):
        df = spark.createDataFrame(
            [('{"k": -5, "f": -2.5}',)], "j string"
        )
        r = df.select(
            jsonf.json_get_int("j", "k").alias("i"),
            jsonf.json_get_float("j", "f").alias("f"),
            jsonf.json_get("j", "k").alias("u"),
        ).collect()[0]
        assert (r.i, r.f, (r.u.type_id, r.u.int)) == (-5, -2.5, (2, -5))

    def test_cast_elision_path_hits_divergent_kernel(self, spark):
        # cast elision funnels jc['k'].cast('bigint') into json_get_int
        df = spark.createDataFrame([('{"k": -7}',)], "j string")
        jc = jsonf.col("j")
        r = df.select(jc["k"].cast("bigint").alias("b")).collect()[0]
        assert r.b == -7


class TestProvenanceInvariance:
    """Spark analog of the reference's 5-encoding matrix (reference:
    tests/utils/mod.rs:258-268): results must not depend on how the JSON
    column arrived — in-memory, parquet round-trip, or post-shuffle."""

    def _probe(self, df):
        return sorted(
            (repr(r.s), repr(r.c), repr(r.l))
            for r in df.select(
                jsonf.json_get_str("json_data", "foo").alias("s"),
                jsonf.json_contains("json_data", "foo").alias("c"),
                jsonf.json_length("json_data").alias("l"),
            ).collect()
        )

    def test_invariance(self, spark, test_df, tmp_path):
        base = self._probe(test_df)
        pq = str(tmp_path / "test.parquet")
        test_df.write.mode("overwrite").parquet(pq)
        assert self._probe(spark.read.parquet(pq)) == base
        assert self._probe(test_df.repartition(3, "name")) == base


class TestAggregationComposition:
    def test_count_over_json_predicate(self, test_df):
        # reference: tests/main.rs:560-614
        got = (
            test_df.groupBy(jsonf.json_contains("json_data", "foo").alias("has"))
            .agg(F.count("*").alias("n"))
            .orderBy("has")
            .collect()
        )
        assert [(r.has, r.n) for r in got] == [(False, 3), (True, 4)]


class TestReviewFindingsRound7e:
    """Regression pins for the functions-layer review batch."""

    def test_non_string_document_never_throws(self, spark):
        # find_scalar's textual guards ran before any type check: an int
        # column fed to a getter raised TypeError and killed the task
        from datafusion_functions_json_spark.functions import core

        assert core.find_scalar(5, ("a",)) == (core.MISSING, None)
        assert core.find_scalar(True, ("a",)) == (core.MISSING, None)
        df = spark.createDataFrame([(1,)], "i bigint")
        got = df.select(
            jsonf.json_get_int(F.col("i").cast("string"), "a").alias("v")
        ).collect()
        assert got[0].v is None

    def test_boolean_column_key_rejected(self, spark):
        # BOOLEAN and DOUBLE key columns fail the reference's argument
        # check (src/common.rs:106-141), with the SQL surface's message
        df = spark.createDataFrame(
            [("[5, 6, 7]", True, 1.9)], "j string, b boolean, d double"
        )
        for key, name in (("b", "Boolean"), ("d", "Float64")):
            for fn in (jsonf.json_get_str, jsonf.json_get_int):
                msg = (
                    f"Unexpected argument type to '{fn.__name__}' at "
                    f"position 2, expected string or int, got {name}\\."
                )
                with pytest.raises(Exception, match=msg):
                    df.select(fn("j", F.col(key))).collect()

    def test_union_to_text_rejects_text_mode_jsoncolumn(self, spark):
        jc = jsonf.col("j")
        with pytest.raises(TypeError, match="union struct"):
            jsonf.json_union_to_text(jc)
        with pytest.raises(TypeError, match="union struct"):
            jsonf.json_is_null(jc)

    def test_from_scalar_unsupported_type_errors(self, spark):
        df = spark.createDataFrame([("2024-01-01",)], "d string").select(
            F.col("d").cast("date").alias("d")
        )
        with pytest.raises(Exception, match="json_from_scalar"):
            df.select(jsonf.json_from_scalar(F.col("d"))).collect()

    def test_sql_rewrite_negative_index_runs(self, spark):
        import datafusion_functions_json_spark as jf

        jf.register_all(spark)
        spark.createDataFrame([('["a","b"]',)], "j string").createOrReplaceTempView(
            "neg_idx_t"
        )
        row = jf.sql(spark, "select j -> -1 from neg_idx_t").collect()[0]
        assert row[0] is None  # negative index -> NULL (reference jiter)

    def test_sql_rewrite_decimal_cast_runs(self, spark):
        import datafusion_functions_json_spark as jf

        jf.register_all(spark)
        spark.createDataFrame([('{"a": 1.5}',)], "j string").createOrReplaceTempView(
            "dec_t"
        )
        out = jf.sql(spark, "select (j->'a')::decimal(10,2) as v from dec_t")
        assert out.schema["v"].dataType.simpleString() == "decimal(10,2)"
        assert str(out.collect()[0].v) == "1.50"

    def test_sql_rewrite_paren_lambda_untouched(self, spark):
        import datafusion_functions_json_spark as jf

        row = jf.sql(
            spark,
            "select zip_with(array(1,2), array(3,4), (x, y) -> 'z') as v",
        ).collect()[0]
        assert row.v == ["z", "z"]

    def test_sql_cast_key_constant_folds(self, spark):
        import datafusion_functions_json_spark as jf

        jf.register_all(spark)
        spark.createDataFrame([('[10, 20]',)], "j string").createOrReplaceTempView(
            "fold_t"
        )
        # ('0'::int) is array index 0, not object key '0'
        row = jf.sql(spark, "select j->('0'::int) as v from fold_t").collect()[0]
        assert row.v.int == 10


class TestPlanQuality:
    """The scale claims from README: pruning and pushdown reach the
    parquet scan THROUGH our pandas UDFs."""

    def test_column_pruning_through_udf(self, spark, tmp_path):
        from spark_pipeline_ops.plans import explain_str

        p = str(tmp_path / "wide.parquet")
        spark.createDataFrame(
            [(1, '{"k": 1}', "x", 2.0)], "id long, j string, unused string, also double"
        ).write.mode("overwrite").parquet(p)
        df = spark.read.parquet(p)
        plan = explain_str(df.select("id", jsonf.json_get_int("j", "k")))
        assert "ReadSchema: struct<id:bigint,j:string>" in plan

    def test_predicate_pushdown_past_udf_projection(self, spark, tmp_path):
        from spark_pipeline_ops.plans import has_pushed_filter

        p = str(tmp_path / "t2.parquet")
        spark.createDataFrame(
            [(i, '{"k": %d}' % i) for i in range(20)], "id long, j string"
        ).write.mode("overwrite").parquet(p)
        df = spark.read.parquet(p)
        q = df.select("id", jsonf.json_get_int("j", "k").alias("k")).filter(
            F.col("id") > 5
        )
        assert has_pushed_filter(q, "GreaterThan(id,5)")
