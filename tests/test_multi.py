"""json_extract_multi: fused N-field extraction must be bit-identical to
N single-field calls (including the malformed-JSON fallback path)."""

import pytest
from pyspark.sql import functions as F

import datafusion_functions_json_spark as jsonf


FIELDS = {
    "s": ("str", "foo"),
    "i": ("int", "foo"),
    "f": ("float", "foo"),
    "b": ("bool", "foo"),
    "t": ("text", "foo"),
    "n": ("length",),
    "e": ("exists", "foo"),
}


def singles(df):
    return df.select(
        "name",
        jsonf.json_get_str("json_data", "foo").alias("s"),
        jsonf.json_get_int("json_data", "foo").alias("i"),
        jsonf.json_get_float("json_data", "foo").alias("f"),
        jsonf.json_get_bool("json_data", "foo").alias("b"),
        jsonf.json_as_text("json_data", "foo").alias("t"),
        jsonf.json_length("json_data").alias("n"),
        jsonf.json_contains("json_data", "foo").alias("e"),
    ).collect()


def fused(df):
    u = jsonf.json_extract_multi("json_data", FIELDS).alias("u")
    return df.select("name", u).select("name", "u.*").collect()


class TestMultiEquivalence:
    def test_fixture_matrix(self, test_df):
        a = {r.name: tuple(r)[1:] for r in singles(test_df)}
        b = {r.name: tuple(r)[1:] for r in fused(test_df)}
        assert a == b

    def test_edge_docs(self, spark):
        rows = [
            (str(i), j)
            for i, j in enumerate(
                [
                    '{"foo": "123"}',
                    '{"foo": "1.5"}',
                    '{"foo": 1.5}',
                    '{"foo": 9223372036854775808}',
                    '{"foo": true} trailing garbage',  # strict-parse fallback
                    '{"foo": [1, {"x": 2}]}',
                    "",
                    None,
                ]
            )
        ]
        df = spark.createDataFrame(rows, "name string, json_data string")
        a = {r.name: tuple(r)[1:] for r in singles(df)}
        b = {r.name: tuple(r)[1:] for r in fused(df)}
        assert a == b

    def test_duplicate_keys_first_wins(self, spark):
        # reference linear scan takes the first match; the DOM fast path
        # must agree (object_pairs_hook)
        df = spark.createDataFrame(
            [('{"foo": 1, "foo": 2}',)], "json_data string"
        )
        r = (
            df.select(
                jsonf.json_extract_multi(
                    "json_data", {"i": ("int", "foo")}
                ).alias("u"),
                jsonf.json_get_int("json_data", "foo").alias("single"),
            )
            .select("u.i", "single")
            .collect()[0]
        )
        assert (r.i, r.single) == (1, 1)

    def test_raw_container_text_fidelity(self, spark):
        # text kind on a container must preserve raw bytes (spacing)
        df = spark.createDataFrame([('{"foo": [1,  2]}',)], "json_data string")
        r = df.select(
            jsonf.json_extract_multi("json_data", {"t": ("text", "foo")}).alias("u")
        ).select("u.*").collect()[0]
        assert r.t == "[1,  2]"

    def test_raw_float_text_fidelity(self, spark):
        # text kind on a FLOAT must return the VERBATIM slice, not a
        # reserialization: 4.2e-1 stays '4.2e-1', never '0.42'
        # (reference: src/json_as_text.rs raw-slice arm,
        # tests/main.rs:507-512); int 0 spelled '-0' likewise
        df = spark.createDataFrame(
            [('{"f": 4.2e-1, "g": 1.0, "z": -0, "i": 5}',)],
            "json_data string",
        )
        r = (
            df.select(
                jsonf.json_extract_multi(
                    "json_data",
                    {
                        "f": ("text", "f"),
                        "g": ("text", "g"),
                        "z": ("text", "z"),
                        "i": ("text", "i"),
                    },
                ).alias("u")
            )
            .select("u.*")
            .collect()[0]
        )
        assert r.f == "4.2e-1"
        assert r.g == "1.0"
        assert r.z == "-0"
        assert r.i == "5"

    def test_union_kinds_match_unfused(self, spark):
        # union_text/union_isnull must equal the two-step
        # json_union_to_text(json_get(...)) / json_is_null(json_get(...))
        docs = [
            '{"k": 1}',
            '{"k": "s"}',
            '{"k": true}',
            '{"k": 4.2e-1}',
            '{"k": null}',
            '{"k": [1, {"x": 2}]}',
            '{"k": { "a" : 1 }}',
            '{"k": 99999999999999999999999999}',  # beyond i64 -> null arm
            '{"other": 1}',
            "{invalid",
            None,
        ]
        df = spark.createDataFrame([(d,) for d in docs], "j string")
        fused = (
            df.select(
                jsonf.json_extract_multi(
                    "j",
                    {"t": ("union_text", "k"), "n": ("union_isnull", "k")},
                ).alias("u")
            )
            .select("u.*")
            .collect()
        )
        u = jsonf.json_get("j", "k")
        unfused = df.select(
            jsonf.json_union_to_text(u).alias("t"),
            jsonf.json_is_null(u).alias("n"),
        ).collect()
        assert [tuple(r) for r in fused] == [tuple(r) for r in unfused]

    def test_single_arrow_eval(self, spark, python_tier):
        from spark_pipeline_ops.plans import arrow_eval_count

        df = spark.createDataFrame([('{"a": 1, "b": "x"}',)], "j string")
        out = df.select(
            jsonf.json_extract_multi(
                "j", {"a": ("int", "a"), "b": ("str", "b"), "n": ("length",)}
            ).alias("u")
        )
        assert arrow_eval_count(out) == 1

    def test_no_arrow_eval_on_jvm_exact_tier(self, spark):
        from datafusion_functions_json_spark.functions import jvm_tier
        from spark_pipeline_ops.plans import arrow_eval_count

        if jvm_tier.load(spark.sparkContext) is None:
            pytest.skip("JVM exact tier unavailable")
        df = spark.createDataFrame([('{"a": 1, "b": "x"}',)], "j string")
        out = df.select(
            jsonf.json_extract_multi(
                "j", {"a": ("int", "a"), "b": ("str", "b"), "n": ("length",)}
            ).alias("u")
        )
        assert arrow_eval_count(out) == 0
        assert out.collect()[0].u == (1, "x", 2)

    def test_deep_paths(self, spark):
        df = spark.createDataFrame([('{"a": {"b": [10, 20]}}',)], "j string")
        r = (
            df.select(
                jsonf.json_extract_multi(
                    "j",
                    {
                        "x": ("int", "a", "b", 1),
                        "has": ("exists", "a", "b", 5),
                        "len": ("length", "a", "b"),
                    },
                ).alias("u")
            )
            .select("u.*")
            .collect()[0]
        )
        assert (r.x, r.has, r.len) == (20, False, 2)

    def test_jvm_exact_tier_matches_python_kernels(self, spark, monkeypatch):
        # the call on the JVM exact tier: no Python hop, and the same rows
        # as the Python kernels
        from datafusion_functions_json_spark.functions import jvm_tier

        if jvm_tier.load(spark.sparkContext) is None:
            pytest.skip("JVM exact tier unavailable")
        docs = [
            ('{"a": 1, "b": "x", "c": [1, 2], "f": 0.5}',),
            ('{"a": null}',),
            ("not json",),
            (None,),
        ]
        fields = {
            "i": ("int", "a"),
            "s": ("str", "b"),
            "n": ("length", "c"),
            "e": ("exists", "a"),
        }
        df = spark.createDataFrame(docs, "j string")
        out = df.select(
            jsonf.json_extract_multi("j", fields).alias("u")
        ).select("u.*")
        assert "EvalPython" not in out._jdf.queryExecution().executedPlan().toString()
        with monkeypatch.context() as m:
            m.setattr(jvm_tier, "load", lambda sc: None)
            py = df.select(
                jsonf.json_extract_multi("j", fields).alias("u")
            ).select("u.*")
        assert "ArrowEvalPython" in py._jdf.queryExecution().executedPlan().toString()
        assert out.collect() == py.collect()

    def test_length_counts_members_like_json_length(self, spark, python_tier):
        # duplicate members and nesting past the finder's depth limit:
        # the fused length must equal json_length, which a parsed dict or
        # list cannot tell
        deep = "[" * 1000 + "]" * 1000
        df = spark.createDataFrame(
            [('{"k": 1, "k": 2}',), ('{"c": {"x": 1, "x": 2}}',), (deep,)],
            "j string",
        )
        out = df.select(
            jsonf.json_extract_multi(
                "j", {"n": ("length",), "c": ("length", "c")}
            ).alias("u"),
            jsonf.json_length("j").alias("n"),
            jsonf.json_length("j", "c").alias("c"),
        ).collect()
        assert [(r.u.n, r.u.c) for r in out] == [(r.n, r.c) for r in out]
        assert [(r.n, r.c) for r in out] == [(2, None), (1, 2), (None, None)]


@pytest.fixture(params=["jvm", "python"])
def either_tier(request, spark):
    """Each test runs on the JVM exact tier, then with it forced off."""
    from datafusion_functions_json_spark.functions import jvm_tier

    if request.param == "python":
        request.getfixturevalue("python_tier")
    elif jvm_tier.load(spark.sparkContext) is None:
        pytest.skip("JVM exact tier unavailable")
    return request.param


class TestOnBothTiers:
    def test_field_names_need_no_quoting(self, spark, either_tier):
        # the UDF's return type is no DDL text that a backtick would
        # break, and a dot must not be read as a nested field
        df = spark.createDataFrame([('{"a": 7, "b": "x"}',)], "j string")
        u = jsonf.json_extract_multi(
            "j", {"a`b": ("int", "a"), "c.d": ("str", "b")}
        ).alias("u")
        out = df.select(u).select("u.*")
        assert out.columns == ["a`b", "c.d"]
        assert [tuple(r) for r in out.collect()] == [(7, "x")]

    def test_union_struct_document(self, spark, either_tier):
        # a json_get value is read through its container text, as the
        # single-field calls read it
        df = spark.createDataFrame(
            [(0, '{"a":{"b":1,"c":"x"}}'), (1, '{"a":5}'), (2, None)],
            "i int, j string",
        )
        u = jsonf.json_extract_multi(
            jsonf.json_get("j", "a"),
            {"b": ("int", "b"), "c": ("str", "c"), "e": ("exists", "b")},
        ).alias("u")
        out = df.select("i", u).orderBy("i").select("u.*").collect()
        assert [tuple(r) for r in out] == [
            (1, "x", True), (None, None, False), (None, None, False)]

    def test_empty_field_map_is_rejected(self, spark, either_tier, monkeypatch):
        # its own error, raised before any UDF or tier call is built
        from datafusion_functions_json_spark.functions import jvm_tier
        from datafusion_functions_json_spark.functions import multi as multi_mod

        built = []
        monkeypatch.setattr(multi_mod.F, "arrow_udf",
                            lambda *args, **kwargs: built.append(args))
        monkeypatch.setattr(jvm_tier, "multi", lambda *args: built.append(args))
        with pytest.raises(ValueError, match="the field map is empty"):
            jsonf.json_extract_multi("j", {})
        assert built == []


def test_one_round_trip_on_the_jvm_tier(spark, monkeypatch):
    # the tier builds the whole struct in one py4j call, and a column
    # name reaches it as the name
    from py4j.clientserver import ClientServerConnection

    from datafusion_functions_json_spark.functions import jvm_tier

    if jvm_tier.load(spark.sparkContext) is None:
        pytest.skip("JVM exact tier unavailable")
    fields = dict(FIELDS, u=("union_text", "foo", 0), z=("union_isnull",))
    sent = []
    send = ClientServerConnection.send_command
    monkeypatch.setattr(ClientServerConnection, "send_command",
                        lambda self, cmd: (sent.append(cmd), send(self, cmd))[1])
    for doc in ("j", F.col("j")):
        sent.clear()
        jsonf.json_extract_multi(doc, fields)
        # "m\nd\n" deletes a garbage-collected proxy, whenever Python
        # collects one
        assert len([c for c in sent if not c.startswith("m\nd\n")]) == 1


def test_field_kinds_match_the_python_tier():
    # the kinds' SQL types come from a table that needs no pyarrow; it
    # must agree with the types the Python tier's UDFs return
    from datafusion_functions_json_spark.functions import jvm_tier, multi, udfs

    assert multi.FIELD_KINDS == {
        kind: udfs.RETURN_TYPES[fn] for kind, fn in jvm_tier.MULTI_KIND_FNS.items()
    }
