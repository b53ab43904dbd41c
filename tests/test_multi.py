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


class TestEvalPerDistinct:
    """eval_per_distinct: the dict-encoding-spirit distinct→evaluate→join
    (reference common.rs:310-327 runs kernels on dictionary VALUES; the
    relational spelling must be byte-identical to per-row evaluation)."""

    DOCS = [
        '{"k": 1, "s": "a"}',
        '{"k": 1, "s": "a"}',      # duplicate doc
        '{"k": 2}',
        "not json",
        "",
        None,
        None,                       # duplicate NULL
        ' {"k": 3, "s": "ws"}',
    ]

    def _df(self, spark):
        return spark.createDataFrame(
            [(i, d) for i, d in enumerate(self.DOCS)], "id int, j string"
        )

    def test_matches_per_row_evaluation(self, spark):
        df = self._df(spark)
        exprs = {
            "k": lambda c: jsonf.json_get_int(c, "k"),
            "s": lambda c: jsonf.json_as_text(c, "s"),
        }
        got = {
            r.id: (r.k, r.s)
            for r in jsonf.eval_per_distinct(df, "j", exprs).collect()
        }
        want = {
            r.id: (r.k, r.s)
            for r in df.select(
                "id",
                jsonf.json_get_int("j", "k").alias("k"),
                jsonf.json_as_text("j", "s").alias("s"),
            ).collect()
        }
        assert got == want  # includes NULL and malformed docs

    def test_column_exprs_and_evaluation_count(self, spark):
        # Column (non-callable) exprs work, and the Python kernel runs
        # over the DISTINCT set only — pinned with an accumulator inside
        # a pandas UDF counting processed rows (local mode: no task
        # retries to inflate it; the persist-free plan evaluates the
        # distinct side once for the single action)
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        df = self._df(spark)
        acc = spark.sparkContext.accumulator(0)

        @pandas_udf("long")
        def counted_extract(s: pd.Series) -> pd.Series:
            acc.add(len(s))
            return pd.Series(
                [len(x) if x is not None else None for x in s],
                dtype="object",
            )

        out = jsonf.eval_per_distinct(
            df, "j", {"n": counted_extract(F.col("j"))}
        )
        rows = {r.id: r.n for r in out.collect()}
        n_distinct = len({d for d in self.DOCS if d is not None})
        assert rows[0] == len(self.DOCS[0])
        assert rows[5] is None  # NULL doc matched null-safely
        # 8 input rows, 5 distinct non-null docs (+1 NULL distinct row)
        assert acc.value <= n_distinct + 1, acc.value

    def test_join_modes_and_validation(self, spark):
        from spark_pipeline_ops.plans import explain_str

        df = self._df(spark)
        exprs = {"k": lambda c: jsonf.json_get_int(c, "k")}
        plan_b = explain_str(
            jsonf.eval_per_distinct(df, "j", exprs, join="broadcast")
        )
        assert "BroadcastHashJoin" in plan_b
        plan_s = explain_str(
            jsonf.eval_per_distinct(df, "j", exprs, join="shuffle")
        )
        assert "ShuffledHashJoin" in plan_s or "SortMergeJoin" in plan_s
        with pytest.raises(ValueError, match="unknown join"):
            jsonf.eval_per_distinct(df, "j", exprs, join="bogus")
        with pytest.raises(ValueError, match="already exist"):
            jsonf.eval_per_distinct(df, "j", {"id": exprs["k"]})
        with pytest.raises(ValueError, match="reserved"):
            jsonf.eval_per_distinct(
                df, "j", {"__dict_eval_doc": exprs["k"]}
            )

    def test_sql_cte_recipe(self, spark):
        # The README's spelling for jsonf.sql / pure-SQL users (VERDICT
        # r13 item 6): DISTINCT subquery -> extract over the distinct
        # side -> null-safe (<=>) join back. Must be byte-identical to
        # the Python API on the same docs, NULL/malformed included.
        from datafusion_functions_json_spark import register_all

        register_all(spark)
        df = self._df(spark)
        df.createOrReplaceTempView("epd_docs")
        out = spark.sql(
            """
            WITH dict AS (
              SELECT __doc,
                     json_get_int(__doc, 'k') AS k,
                     json_as_text(__doc, 's') AS s
              FROM (SELECT DISTINCT j AS __doc FROM epd_docs)
            )
            SELECT t.id, d.k, d.s
            FROM epd_docs t LEFT JOIN dict d ON t.j <=> d.__doc
            """
        )
        got = {r.id: (r.k, r.s) for r in out.collect()}
        want = {
            r.id: (r.k, r.s)
            for r in jsonf.eval_per_distinct(
                df,
                "j",
                {
                    "k": lambda c: jsonf.json_get_int(c, "k"),
                    "s": lambda c: jsonf.json_as_text(c, "s"),
                },
            ).collect()
        }
        assert got == want
        spark.catalog.dropTempView("epd_docs")
