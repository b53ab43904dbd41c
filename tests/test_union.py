"""Union struct: json_from_scalar, json_union_to_text, json_is_null,
parquet round-trip (the reference needed json_union_to_text because Arrow
unions can't hit Parquet — our struct just works; reference:
src/json_union_to_text.rs:25-27)."""

import pytest
from pyspark.sql import functions as F

import datafusion_functions_json_spark as jsonf


class TestFromScalar:
    def test_int_column(self, spark):
        # reference: src/json_from_scalar.rs:135-221 (works on columns)
        df = spark.createDataFrame([(1,), (2,), (None,)], "x bigint")
        rows = df.select(jsonf.json_from_scalar("x").alias("u")).collect()
        assert jsonf.format_union_value(rows[0].u) == "{int=1}"
        assert jsonf.format_union_value(rows[2].u) == "{null=}"  # typed NULL

    def test_string_and_bool_and_float(self, spark):
        df = spark.createDataFrame([("abc", True, 1.5)], "s string, b boolean, f double")
        r = df.select(
            jsonf.json_from_scalar("s").alias("s"),
            jsonf.json_from_scalar("b").alias("b"),
            jsonf.json_from_scalar("f").alias("f"),
        ).collect()[0]
        assert jsonf.format_union_value(r.s) == "{str=abc}"
        assert jsonf.format_union_value(r.b) == "{bool=true}"
        assert jsonf.format_union_value(r.f) == "{float=1.5}"

    def test_explicit_dtype(self, spark):
        df = spark.createDataFrame([(3,)], "x int")
        r = df.select(jsonf.json_from_scalar("x", dtype="int").alias("u")).collect()[0]
        assert jsonf.format_union_value(r.u) == "{int=3}"

    def test_round_trip_to_text(self, spark):
        # reference: tests/main.rs:2446-2577 (scalar -> union -> text)
        df = spark.createDataFrame([(42, "he\"llo", 2.5, True)], "i long, s string, f double, b boolean")
        r = df.select(
            jsonf.json_union_to_text(jsonf.json_from_scalar("i")).alias("i"),
            jsonf.json_union_to_text(jsonf.json_from_scalar("s")).alias("s"),
            jsonf.json_union_to_text(jsonf.json_from_scalar("f")).alias("f"),
            jsonf.json_union_to_text(jsonf.json_from_scalar("b")).alias("b"),
        ).collect()[0]
        assert (r.i, r.s, r.f, r.b) == ("42", '"he\\"llo"', "2.5", "true")


class TestUnionToText:
    def test_all_members(self, spark):
        # reference: src/json_union_to_text.rs:127-158
        df = spark.createDataFrame(
            [
                ('{"v": "foo\\"bar\\n"}',),
                ('{"v": 123}',),
                ('{"v": 1.5}',),
                ('{"v": true}',),
                ('{"v": [1, 2]}',),
                ('{"v": {"a": 1}}',),
                ('{"v": null}',),
                ('{"x": 0}',),
            ],
            "j string",
        )
        vals = [
            r.t
            for r in df.select(
                jsonf.json_union_to_text(jsonf.json_get("j", "v")).alias("t")
            ).collect()
        ]
        assert vals == [
            '"foo\\"bar\\n"',
            "123",
            "1.5",
            "true",
            "[1, 2]",  # raw passthrough
            '{"a": 1}',
            None,  # null member -> SQL NULL
            None,  # missing -> SQL NULL
        ]

    def test_float_canonicalization(self, spark):
        # serde_json-style shortest-roundtrip, not Spark's '1.0E10'
        df = spark.createDataFrame([('{"v": 1e10}',)], "j string")
        assert (
            df.select(
                jsonf.json_union_to_text(jsonf.json_get("j", "v")).alias("t")
            ).collect()[0].t
            == "10000000000.0"
        )

    def test_null_struct_masks_its_members(self):
        # a NULL struct row may carry member values (Arrow keeps the
        # children of a null parent slot); the text must still be NULL
        import pyarrow as pa

        from datafusion_functions_json_spark.functions import udfs

        kids = [
            pa.array([2, 2], pa.int8()), pa.array([None, None], pa.bool_()),
            pa.array([7, 7], pa.int64()), pa.array([None, None], pa.float64()),
            pa.array([None, None], pa.string()),
            pa.array([None, None], pa.string()),
            pa.array([None, None], pa.string()),
        ]
        u = pa.StructArray.from_arrays(
            kids, names=list(udfs.UNION_FIELDS),
            mask=pa.array([False, True]),
        )
        assert udfs.union_to_text_udf().func(u).to_pylist() == ["7", None]

    def test_outer_join_miss_is_null_text(self, spark):
        left = spark.createDataFrame([(1,), (2,)], "id int")
        right = spark.createDataFrame([(1, '{"v": 5}')], "id int, j string")
        joined = left.join(
            right.select("id", jsonf.json_get("j", "v").alias("u")), "id", "left"
        )
        out = joined.select("id", jsonf.json_union_to_text(F.col("u")))
        assert sorted(tuple(r) for r in out.collect()) == [(1, "5"), (2, None)]


class TestIsNull:
    def test_three_null_sources(self, spark):
        # SURVEY.md §7.5 null taxonomy: missing / json-null / invalid all
        # collapse to union-null (reference: tests/main.rs:1612-1729)
        df = spark.createDataFrame(
            [('{"a": null}',), ('{"b": 1}',), ("nope",), ('{"a": 1}',)], "j string"
        )
        vals = [
            r.n
            for r in df.select(
                jsonf.json_is_null(jsonf.json_get("j", "a")).alias("n")
            ).collect()
        ]
        assert vals == [True, True, True, False]


class TestNullMaskingInvariant:
    """Port of the reference's dictionary null-masking property
    (reference: tests/main.rs:1781-1845 check_for_null_dictionary_values:
    no non-null key may point to a null value). Spark analog: a json_get
    result row is either a WHOLE-STRUCT NULL (null arm, masked by
    mask_null_arm) or carries type_id 1-6 with exactly the active member
    populated — never a present struct with type_id 0/NULL, never a
    populated inactive member."""

    _ACTIVE = {1: "bool", 2: "int", 3: "float", 4: "str", 5: "array", 6: "object"}

    def test_invariant_over_edge_docs(self, spark):
        docs = [
            '{"k": 1}',
            '{"k": -5}',
            '{"k": 4.2e-1}',
            '{"k": "s"}',
            '{"k": true}',
            '{"k": false}',
            '{"k": null}',
            '{"k": [1, null]}',
            '{"k": {"a": 1}}',
            '{"k": 99999999999999999999999999}',  # big int -> null arm
            '{"other": 1}',
            "{bad json",
            "",
            None,
        ]
        df = spark.createDataFrame([(d,) for d in docs], "j string")
        rows = df.select(jsonf.json_get("j", "k").alias("u")).collect()
        assert len(rows) == len(docs)
        for r in rows:
            u = r.u
            if u is None:
                continue  # null arm, correctly masked
            d = u.asDict()
            assert d["type_id"] in self._ACTIVE, d
            active = self._ACTIVE[d["type_id"]]
            assert d[active] is not None, d
            for member in set(self._ACTIVE.values()) - {active}:
                assert d[member] is None, d


class TestParquetRoundTrip:
    def test_union_struct_survives_parquet(self, spark, tmp_path):
        df = spark.createDataFrame(
            [('{"a": 1}',), ('{"a": "s"}',), ('{"a": null}',)], "j string"
        )
        out = df.select(jsonf.json_get("j", "a").alias("u"))
        p = str(tmp_path / "u.parquet")
        out.write.mode("overwrite").parquet(p)
        back = spark.read.parquet(p)
        texts = sorted(
            (r.t or "~null")
            for r in back.select(jsonf.json_union_to_text("u").alias("t")).collect()
        )
        assert texts == ['"s"', "1", "~null"]
