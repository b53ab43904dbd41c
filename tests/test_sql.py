"""SQL-registered surface (reference: src/lib.rs:69-96 register_all) —
named functions replace the ->/->>/? operators (SURVEY.md §2.2)."""

import pytest

import datafusion_functions_json_spark as jsonf


@pytest.fixture(scope="module", autouse=True)
def registered(spark):
    jsonf.register_all(spark)


class TestSqlSurface:
    def test_basic_query(self, spark, test_df):
        rows = spark.sql(
            """
            select name,
                   json_get_str(json_data, 'foo')  as s,
                   json_as_text(json_data, 'foo')  as t,
                   json_contains(json_data, 'foo') as c,
                   json_length(json_data)          as l
            from test order by name
            """
        ).collect()
        got = {r.name: (r.s, r.t, r.c, r.l) for r in rows}
        assert got["object_foo"] == ("abc", "abc", True, 1)
        assert got["object_foo_null"] == (None, None, True, 1)
        assert got["invalid_json"] == (None, None, False, None)

    def test_aliases(self, spark, test_df):
        r = spark.sql(
            "select json_len(json_data) a, json_keys(json_data) b from test "
            "where name = 'object_foo'"
        ).collect()[0]
        assert (r.a, r.b) == (1, ["foo"])

    def test_union_in_sql(self, spark, test_df):
        rows = spark.sql(
            """
            select name,
                   json_union_to_text(json_get(json_data, 'foo')) as t,
                   json_is_null(json_get(json_data, 'foo'))       as n
            from test order by name
            """
        ).collect()
        got = {r.name: (r.t, r.n) for r in rows}
        assert got["object_foo"] == ('"abc"', False)
        assert got["object_foo_null"] == (None, True)
        assert got["object_bar"] == (None, True)

    def test_where_and_group_by(self, spark, test_df):
        # reference: tests/main.rs:560-614
        rows = spark.sql(
            """
            select json_contains(json_data, 'foo') as has, count(*) as n
            from test group by 1 order by 1
            """
        ).collect()
        assert [(r.has, r.n) for r in rows] == [(False, 3), (True, 4)]

    def test_column_keys_from_sql(self, spark, other_df):
        # reference: tests/main.rs:413-436
        rows = spark.sql(
            """
            select json_get_int(json_data, str_key) a,
                   json_get_int(json_data, int_key) b
            from other
            """
        ).collect()
        assert [(r.a, r.b) for r in rows] == [
            (42, None),
            (None, None),
            (None, 42),
            (None, None),
        ]

    def test_nested_union_input_sql(self, spark):
        # reference: union-typed first argument continues the lookup
        # (nested call in SQL, no un-nesting rewrite available there)
        df = spark.createDataFrame(
            [('{"a": {"b": 7}}',), ('{"a": "scalar"}',)], "j string"
        )
        df.createOrReplaceTempView("nested_u")
        rows = spark.sql(
            """
            select json_union_to_text(json_get(json_get(j, 'a'), 'b')) v,
                   json_is_null(json_get(json_get(j, 'a'), 'b')) n
            from nested_u
            """
        ).collect()
        assert [(r.v, r.n) for r in rows] == [("7", False), (None, True)]

    def test_multi_literal_path_sql(self, spark):
        df = spark.createDataFrame(
            [('{"a": {"b": [9]}}',), ('{"k": 5} trailing',), ('{"":5}',)],
            "j string",
        )
        df.createOrReplaceTempView("deep")
        rows = spark.sql(
            "select json_get_int(j, 'a', 'b', 0L) v, json_get_int(j, 'k') k, "
            "json_get_int(j, '') e from deep"
        ).collect()
        # text after the value is never looked at; '' is a key like any other
        assert [(r.v, r.k, r.e) for r in rows] == [
            (9, None, None), (None, 5, None), (None, None, 5)
        ]
        assert [
            r.v for r in jsonf.sql(spark, "select j->>'' as v from deep").collect()
        ] == [None, None, "5"]
        # every getter takes a multi-element literal path
        for fn in (
            "json_get_str", "json_get_int", "json_get_float", "json_get_bool",
            "json_get_json", "json_get_array", "json_as_text", "json_contains",
        ):
            spark.sql(f"select {fn}(j, 'a', 'b') from deep").collect()


class TestSqlPlanErrors:
    """The reference's argument checks, enforced on the registered SQL
    surface from the argument types: at analysis by the JVM tier's
    builders, per Arrow batch by the Python UDFs when the tier is off
    (reference: tests/main.rs:291-298, src/common.rs:106-141)."""

    def test_null_literal_path_raises(self, spark, test_df):
        # reference tests/main.rs:291-298 — untyped NULL literal path is
        # rejected with the planning message (Spark's NullType on the JVM
        # tier, Arrow's `null` type on the Python UDFs: both identify the
        # VOID literal exactly).
        with pytest.raises(Exception, match=r"Unexpected argument type to 'json_get_str' at position 2, expected string or int, got Null\."):
            spark.sql("select json_get_str(json_data, null) from test").collect()

    def test_typed_null_path_is_not_an_error(self, spark, test_df):
        # cast(null as string) has DataType Utf8 in the reference too:
        # planning passes, lookup yields NULL rows (ScalarValue::Utf8(None)
        # => JsonPath::None, reference src/common.rs:120-127).
        rows = spark.sql(
            "select json_get_str(json_data, cast(null as string)) v from test"
        ).collect()
        assert all(r.v is None for r in rows)

    def test_non_string_int_path_raises(self, spark, test_df):
        with pytest.raises(Exception, match="expected string or int"):
            spark.sql("select json_get_str(json_data, 1.5) from test").collect()
        # DOUBLE and BOOLEAN key columns: the same rule and message as the
        # Python API
        spark.createDataFrame(
            [("[5, 6, 7]", 1.9, True)], "j string, d double, b boolean"
        ).createOrReplaceTempView("typed_keys")
        for key, name in (("d", "Float64"), ("b", "Boolean")):
            msg = (
                "Unexpected argument type to 'json_get_int' at position 2, "
                f"expected string or int, got {name}\\."
            )
            with pytest.raises(Exception, match=msg):
                spark.sql(f"select json_get_int(j, {key}) from typed_keys").collect()

    def test_multi_path_with_column_raises(self, spark):
        # reference tests/main.rs:1095-1103 test_multiple_lookup_arrays.
        # Single partition so the varying key columns share one Arrow batch
        # when the Python UDFs run (their detection is batch-local; a 1-row
        # batch can't prove column-ness); the JVM tier raises at analysis.
        df = spark.createDataFrame(
            [('{"a":{"aa":"x"}}', "a", "aa"), ('{"b":{"bb":"y"}}', "b", "bb")],
            "j string, k1 string, k2 string",
        ).coalesce(1)
        df.createOrReplaceTempView("multi_col_path")
        with pytest.raises(Exception, match="More than 1 path element is not supported when querying JSON using an array\\."):
            spark.sql("select json_get_str(j, k1, k2) from multi_col_path").collect()

    def test_nested_get_is_the_sanctioned_alternative(self, spark):
        # reference tests/main.rs:1105+ test_json_get_union_array_nested —
        # chaining single-column lookups stays legal.
        df = spark.createDataFrame(
            [('{"a":{"aa":"x"}}', "a", "aa"), ('{"b":{"bb":"y"}}', "b", "bb")],
            "j string, k1 string, k2 string",
        ).coalesce(1)
        df.createOrReplaceTempView("nested_col_path")
        rows = spark.sql(
            "select json_union_to_text(json_get(json_get(j, k1), k2)) v "
            "from nested_col_path"
        ).collect()
        assert sorted(r.v for r in rows) == ['"x"', '"y"']

    def test_single_column_path_still_per_row(self, spark, other_df):
        # one column path element remains fully supported (reference
        # src/common.rs:113-118 split_first array arm).
        rows = spark.sql(
            "select json_get_int(json_data, str_key) v from other"
        ).collect()
        assert any(r.v is not None for r in rows)


class TestRegisterPipeline:
    """The SQL-UDF pipeline surface must be value-identical to the
    Column API over the shared testdata."""

    def test_equivalent_to_column_api(self, spark):
        from pyspark.sql import functions as F

        from spark_pipeline_ops.operators import text
        from spark_pipeline_ops.register import register_pipeline
        from spark_pipeline_ops.sources import load_table

        register_pipeline(spark)
        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        docs.createOrReplaceTempView("_rp_docs")
        sql_out = spark.sql(
            "select doc_id, text_token_count(text) tc, "
            "text_pretoken_count(text) pc, text_normalize(text) nz, "
            "text_lang_id(text) li, text_quality_score(text) qs "
            "from _rp_docs"
        )
        col_out = docs.select(
            "doc_id",
            text.token_count("text").alias("tc"),
            text.pretoken_count("text").alias("pc"),
            text.normalize_text("text").alias("nz"),
            text.lang_id("text").alias("li"),
            F.round(text.quality_score("text"), 6).alias("qs"),
        )
        a = {r.doc_id: r[1:] for r in sql_out.collect()}
        b = {r.doc_id: r[1:] for r in col_out.collect()}
        assert a == b

    def test_inlined_no_python(self, spark):
        from spark_pipeline_ops.register import register_pipeline

        register_pipeline(spark)
        df = spark.sql(
            "select text_lang_id('the cat is on the mat and it is fine') as l"
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert df.collect()[0].l == "en"

    def test_canonical_url_sql_matches_column_api(self, spark):
        from spark_pipeline_ops.operators import text
        from spark_pipeline_ops.register import register_pipeline

        register_pipeline(spark)
        urls = [
            "HTTPS://WWW.Ex.COM:443/Path/?utm_source=x&b=2&a=1#f",
            "HTTP://Host.ORG:80/q/deep?z=1&referrer=keep#t",
            "https://a.com/A?ref=x&Ref=keepcase",
            "https://a.com:8443/?utm_a=1&gclid=2",
            "WWW.Ex.com/p",
            "http://a.com:443/x",
            "\thttp://A.com/p#f\nleftover",
            "",
        ]
        df = spark.createDataFrame(
            [(i, u) for i, u in enumerate(urls)], "i long, u string"
        )
        df.createOrReplaceTempView("_rp_urls")
        a = {
            r.i: r.c
            for r in spark.sql(
                "select i, text_canonical_url(u) c from _rp_urls"
            ).collect()
        }
        b = {
            r.i: r.c
            for r in df.select(
                "i", text.canonical_url("u").alias("c")
            ).collect()
        }
        assert a == b
        assert a[0] == "https://ex.com/Path?a=1&b=2"


class TestFromScalarNullParity:
    def test_sql_is_null_matches_python_api(self, spark):
        # typed NULL input: the SQL surface must produce a WHOLE-struct
        # NULL (IS NULL true), matching the Python API and the reference
        import datafusion_functions_json_spark as jsonf

        jsonf.register_all(spark)
        spark.createDataFrame(
            [(7,), (None,)], "i bigint"
        ).createOrReplaceTempView("fs_null_t")
        rows = spark.sql(
            "select json_from_scalar(i) is null as isn, "
            "json_union_to_text(json_from_scalar(i)) as txt "
            "from fs_null_t order by isn"
        ).collect()
        assert [(r.isn, r.txt) for r in rows] == [(False, "7"), (True, None)]
