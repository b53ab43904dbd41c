"""Round-9 parity pass: exact-name pins for reference behaviors whose
coverage previously lived under differently-named tests (reference:
tests/main.rs) — nested-call union collapse, column-keyed double
nesting, all-NULL input columns (the Arrow NullArray tests' Spark
analog), and CTE/unnest composition through the SQL surface.

Adjudicated N/A here (physical encodings Spark doesn't have — the
reference re-encodes its JSON column as Utf8/LargeUtf8/Utf8View/dict
and asserts invariance; Spark has ONE string type, and the analogous
provenance-invariance axis is pinned in test_functions.py):
test_json_get_utf8, test_json_get_large_utf8, test_json_contains_large,
test_json_contains_large_vec, test_json_contains_large_both,
test_json_contains_large_params, test_json_contains_large_both_params.
The reference's DataFusion plan-shape tests (test_plan_json_get_cte,
test_plan_json_get_unnest, test_plan_json_get_int_unnest,
test_plan_json_get_union_array_nested) assert ExprPlanner rewrite
output; the Spark twins of those guarantees are the rewriter/plan
asserts in test_sql_operators.py and test_functions.py::TestPlanQuality.
"""

from __future__ import annotations

from pyspark.sql import functions as F

import datafusion_functions_json_spark as jsonf
from datafusion_functions_json_spark.union import TYPE_ID_INT


class TestNestedUnionCollapse:
    def test_json_get_nested_collapsed(self, test_df):
        # reference: tests/main.rs:894-930 — json_get(json_get(j,'foo'), 0)
        # over the 7-row matrix: only object_foo_array reaches an int;
        # every other row's nested get lands on the null arm (reference
        # displays {null=}; this port's null arm is a whole-struct NULL,
        # the round-5 adjudicated mapping)
        rows = (
            test_df.select(
                "name",
                jsonf.json_get(jsonf.json_get("json_data", "foo"), 0).alias(
                    "v"
                ),
            )
            .orderBy("name")
            .collect()
        )
        got = {r.name: r.v for r in rows}
        assert got["object_foo_array"].type_id == TYPE_ID_INT
        assert got["object_foo_array"].int == 1
        for name in (
            "object_foo",
            "object_foo_obj",
            "object_foo_null",
            "object_bar",
            "list_foo",
            "invalid_json",
        ):
            assert got[name] is None, name

    def test_json_get_union_scalar(self, spark):
        # reference: tests/main.rs:860-875
        r = spark.range(1).select(
            jsonf.json_get(
                jsonf.json_get(F.lit('{"x": {"y": 1}}'), "x"), "y"
            ).alias("v")
        ).collect()[0]
        assert r.v.type_id == TYPE_ID_INT and r.v.int == 1

    def test_json_get_union_array_skip_double_nested(self, more_nested_df):
        # reference: tests/main.rs:1139-1156 — COLUMN keys at every level:
        # json_get_int(json_get(json_get(j, k1), k2), int_key)
        rows = more_nested_df.select(
            jsonf.json_get_int(
                jsonf.json_get(
                    jsonf.json_get("json_data", F.col("str_key1")),
                    F.col("str_key2"),
                ),
                F.col("int_key"),
            ).alias("v")
        ).collect()
        assert [r.v for r in rows] == [0, None, None]


class TestNullArrayInputs:
    """The reference's Arrow NullArray unit tests (tests/main.rs:790-858)
    invoke the UDFs over a DataType::Null input column; the Spark analog
    is an all-NULL string column — every getter must yield NULL rows,
    never a task failure."""

    def _null_df(self, spark, n=4):
        return spark.range(n).select(
            F.lit(None).cast("string").alias("j"),
            F.concat(F.lit("k"), F.col("id").cast("string")).alias("p"),
        )

    def test_json_get_null_array_union_return(self, spark):
        # reference: tests/main.rs:822-858 (literal path over null array)
        rows = self._null_df(spark).select(
            jsonf.json_get("j", "a").alias("v")
        ).collect()
        assert [r.v for r in rows] == [None] * 4

    def test_json_get_int_null_array_array_path(self, spark):
        # reference: tests/main.rs:790-820 (COLUMN path over null array)
        rows = self._null_df(spark, 2).select(
            jsonf.json_get_int("j", F.col("p")).alias("v")
        ).collect()
        assert [r.v for r in rows] == [None, None]

    def test_json_as_text_null_array_scalar_path(self, spark):
        # reference: tests/main.rs (json_as_text over a null array)
        rows = self._null_df(spark).select(
            jsonf.json_as_text("j", "a").alias("v")
        ).collect()
        assert [r.v for r in rows] == [None] * 4


class TestSqlComposition:
    def test_json_get_cte(self, spark, test_df):
        # reference: tests/main.rs — json_get inside a CTE through the
        # registered SQL surface
        jsonf.register_all(spark)
        rows = jsonf.sql(
            spark,
            "with t as (select name, json_data from test) "
            "select name, json_get_str(json_data, 'foo') v from t "
            "order by name",
        ).collect()
        got = {r.name: r.v for r in rows}
        assert got["object_foo"] == "abc"
        assert got["invalid_json"] is None

    def test_json_get_unnest(self, spark, test_df):
        # reference: tests/main.rs — unnest(json ->> array) composition;
        # Spark's unnest is explode over json_get_array
        jsonf.register_all(spark)
        rows = jsonf.sql(
            spark,
            "select name, elem from test "
            "lateral view explode(json_get_array(json_data, 'foo')) "
            "e as elem",
        ).collect()
        assert [(r.name, r.elem) for r in rows] == [("object_foo_array", "1")]

    def test_json_get_int_unnest(self, spark, test_df):
        # reference: tests/main.rs — getter applied to unnested elements
        jsonf.register_all(spark)
        rows = jsonf.sql(
            spark,
            "select json_get_int(elem, 'not_a_key') n, elem from test "
            "lateral view explode(json_get_array(json_data, 'foo')) "
            "e as elem",
        ).collect()
        assert [(r.n, r.elem) for r in rows] == [(None, "1")]
