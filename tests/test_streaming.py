"""Structured Streaming composition: our JSON functions are stateless
deterministic scalars, so they run unchanged inside streaming plans
(SURVEY.md §2.4). File source → extract → watermark → windowed agg →
memory sink, with an availableNow trigger for determinism."""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datafusion_functions_json_spark import streaming as js


@pytest.fixture()
def json_dir(tmp_path):
    rows = [
        {"ts": "2024-01-01T00:00:05", "payload": '{"user": "a", "n": 1}'},
        {"ts": "2024-01-01T00:00:15", "payload": '{"user": "a", "n": 2}'},
        {"ts": "2024-01-01T00:01:05", "payload": '{"user": "b", "n": 3}'},
        {"ts": "2024-01-01T00:01:45", "payload": 'not json'},
    ]
    p = tmp_path / "stream_in"
    p.mkdir()
    with open(p / "part-0.jsonl", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return str(p)


SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("payload", T.StringType()),
    ]
)


class TestStreaming:
    def test_extract_and_windowed_counts(self, spark, json_dir):
        stream = spark.readStream.schema(SCHEMA).json(json_dir)
        assert stream.isStreaming

        agg = js.windowed_json_counts(
            stream, "payload", ("user",), ts_col="ts",
            window="1 minute", watermark="2 minutes",
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("wincounts")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.win.start.minute, r._key): r.n
            for r in spark.sql("select * from wincounts").collect()
        }
        # invalid json -> NULL key still counted in its window
        assert got == {(0, "a"): 2, (1, "b"): 1, (1, None): 1}

    def test_sessionize_batch_gap_split(self, spark):
        rows = [
            ("a", 0), ("a", 30), ("a", 700),   # gap > 600 -> two sessions
            ("b", 100),
        ]
        df = spark.createDataFrame(rows, "user string, sec long").select(
            "user", F.col("sec").cast("timestamp").alias("ts")
        )
        got = {
            (r.user, r.session_idx): (r.n_events, r.start_s, r.end_s)
            for r in js.sessionize_batch(df, "user", "ts", gap_seconds=600).collect()
        }
        assert got == {
            ("a", 1): (2, 0, 30),
            ("a", 2): (1, 700, 700),
            ("b", 1): (1, 100, 100),
        }

    def test_sessionize_batch_single_exchange(self, spark):
        from datafusion_functions_json_spark.plans import explain_str

        df = spark.createDataFrame([("a", 0)], "user string, sec long").select(
            "user", F.col("sec").cast("timestamp").alias("ts")
        )
        plan = explain_str(js.sessionize_batch(df, "user", "ts"))
        # both windows + the session agg ride ONE hash exchange on user
        assert plan.count("Exchange hashpartitioning") == 1

    def test_dedup_stream_drops_within_watermark(self, spark, tmp_path):
        rows = [
            {"ts": "2024-01-01T00:00:05", "payload": '{"user": "a", "n": 1}'},
            {"ts": "2024-01-01T00:00:10", "payload": '{"user": "a", "n": 1}'},  # dup key
            {"ts": "2024-01-01T00:00:20", "payload": '{"user": "b", "n": 2}'},
        ]
        p = tmp_path / "dedup_in"
        p.mkdir()
        with open(p / "part-0.jsonl", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

        stream = spark.readStream.schema(SCHEMA).json(str(p))
        extracted = js.extract_json_stream(
            stream, "payload", {"user": ("str", "user")}, ts_col="ts"
        )
        deduped = js.dedup_stream(
            extracted, "user", ts_col="ts", watermark="10 minutes"
        )
        q = (
            deduped.writeStream.format("memory")
            .queryName("dedup_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(
            r.user for r in spark.sql("select * from dedup_out").collect()
        )
        assert got == ["a", "b"]

    def test_sessionize_stateful(self, spark, tmp_path):
        # two users; user a has an in-batch gap > 60s => one CLOSED session
        # emitted; trailing open sessions stay in state
        rows = [
            {"ts": "2024-01-01T00:00:00", "payload": '{"user": "a"}'},
            {"ts": "2024-01-01T00:00:30", "payload": '{"user": "a"}'},
            {"ts": "2024-01-01T00:05:00", "payload": '{"user": "a"}'},  # gap
            {"ts": "2024-01-01T00:00:10", "payload": '{"user": "b"}'},
        ]
        p = tmp_path / "sess_in"
        p.mkdir()
        with open(p / "part-0.jsonl", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

        stream = spark.readStream.schema(SCHEMA).json(str(p))
        sessions = js.sessionize(
            stream, "payload", ("user",), ts_col="ts", gap_seconds=60
        )
        q = (
            sessions.writeStream.format("memory")
            .queryName("sessions")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        # availableNow + ProcessingTimeTimeout keeps scheduling batches to
        # fire pending timeouts — poll for the closed session, then stop
        import time

        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.sql("select * from sessions").count() >= 1:
                break
            time.sleep(1)
        q.stop()
        got = [
            (r.key, r.session_start.isoformat(), r.session_end.isoformat(), r.n_events)
            for r in spark.sql("select * from sessions order by key").collect()
        ]
        assert got == [
            ("a", "2024-01-01T00:00:00", "2024-01-01T00:00:30", 2),
        ]

    def test_sessionize_tws_raises_without_protobuf(self, spark, json_dir):
        # the upfront guard must fire (clear message) when protobuf is
        # absent, instead of crashing the query at stream start
        try:
            import google.protobuf  # noqa: F401
        except ImportError:
            stream = spark.readStream.schema(SCHEMA).json(json_dir)
            with pytest.raises(RuntimeError, match="protobuf"):
                js.sessionize_tws(stream, "payload", ("user",))
        else:
            pytest.skip("protobuf installed; guard not applicable")

    def test_sessionize_tws_stateful(self, spark, tmp_path):
        # same scenario through the Spark 4 transformWithStateInPandas
        # tier — requires the RocksDB state store provider AND the
        # protobuf python package (Spark's TWS state-server protocol)
        pytest.importorskip("google.protobuf")
        rows = [
            {"ts": "2024-01-01T00:00:00", "payload": '{"user": "a"}'},
            {"ts": "2024-01-01T00:00:30", "payload": '{"user": "a"}'},
            {"ts": "2024-01-01T00:05:00", "payload": '{"user": "a"}'},  # gap
            {"ts": "2024-01-01T00:00:10", "payload": '{"user": "b"}'},
        ]
        p = tmp_path / "sess_tws_in"
        p.mkdir()
        with open(p / "part-0.jsonl", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

        prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        try:
            stream = spark.readStream.schema(SCHEMA).json(str(p))
            sessions = js.sessionize_tws(
                stream, "payload", ("user",), ts_col="ts", gap_seconds=60
            )
            q = (
                sessions.writeStream.format("memory")
                .queryName("sessions_tws")
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )
            import time

            deadline = time.time() + 120
            while time.time() < deadline:
                if spark.sql("select * from sessions_tws").count() >= 1:
                    break
                time.sleep(1)
            q.stop()
            got = [
                (r.key, r.session_start.isoformat(), r.session_end.isoformat(), r.n_events)
                for r in spark.sql(
                    "select * from sessions_tws order by key"
                ).collect()
            ]
            assert got[0] == ("a", "2024-01-01T00:00:00", "2024-01-01T00:00:30", 2)
        finally:
            if prev is not None:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", prev
                )
            else:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    def test_extract_json_stream_projection(self, spark, json_dir):
        stream = spark.readStream.schema(SCHEMA).json(json_dir)
        ext = js.extract_json_stream(
            stream, "payload", {"user": ("str", "user"), "n": ("int", "n")}
        )
        q = (
            ext.writeStream.format("memory")
            .queryName("extracted")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql("select user, n from extracted order by n").collect()
        assert [(r.user, r.n) for r in rows] == [
            (None, None),
            ("a", 1),
            ("a", 2),
            ("b", 3),
        ]


class TestEnrichStream:
    def test_stream_static_broadcast_join(self, spark, json_dir):
        stream = spark.readStream.schema(SCHEMA).json(json_dir)
        ex = js.extract_json_stream(
            stream, "payload", {"user": ("str", "user"), "n": ("int", "n")}
        )
        dim = spark.createDataFrame(
            [("a", "alpha"), ("b", "beta")], "user string, tier string"
        )
        out = js.enrich_stream(ex, dim, "user", how="left")
        assert out.isStreaming
        q = (
            out.writeStream.format("memory")
            .queryName("enriched")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.n, r.tier)
            for r in spark.sql("select n, tier from enriched").collect()
        }
        # invalid-json row survives the left join with a null tier
        assert got == {(1, "alpha"), (2, "alpha"), (3, "beta"), (None, None)}

    def test_rejects_right_joins(self, spark, json_dir):
        stream = spark.readStream.schema(SCHEMA).json(json_dir)
        dim = spark.createDataFrame([("a", 1)], "user string, x int")
        with pytest.raises(ValueError):
            js.enrich_stream(stream, dim, "user", how="full")


class TestStreamingCuration:
    def test_extract_quality_dedup_enrich_pipeline(self, spark, tmp_path):
        """The streaming twin of pipeline.curate's cheap stages composed
        end-to-end: JSON extract → token-count quality gate →
        bounded-state exact dedup (dropDuplicatesWithinWatermark) →
        stream-static enrichment — every stage stateless or
        watermark-bounded, so the composed query runs forever on an
        unbounded stream."""
        import json as _json

        from datafusion_functions_json_spark.operators import text as t_ops

        rows = [
            {"ts": "2024-01-01T00:00:01", "payload": _json.dumps(
                {"doc": "d1", "text": "alpha beta gamma delta epsilon zeta"})},
            {"ts": "2024-01-01T00:00:02", "payload": _json.dumps(
                {"doc": "d1", "text": "alpha beta gamma delta epsilon zeta"})},  # dup
            {"ts": "2024-01-01T00:00:03", "payload": _json.dumps(
                {"doc": "d2", "text": "short"})},  # fails gate
            {"ts": "2024-01-01T00:00:04", "payload": _json.dumps(
                {"doc": "d3", "text": "one two three four five six seven"})},
            {"ts": "2024-01-01T00:00:05", "payload": "not json"},  # extract -> nulls
        ]
        p = tmp_path / "cur_in"
        p.mkdir()
        with open(p / "a.jsonl", "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

        stream = spark.readStream.schema(SCHEMA).json(str(p))
        ex = js.extract_json_stream(
            stream, "payload", {"doc": ("str", "doc"), "text": ("str", "text")}
        )
        gated = ex.filter(t_ops.token_count(F.col("text")) >= 5)
        deduped = js.dedup_stream(gated, ["doc"])  # sets its own watermark
        dim = spark.createDataFrame(
            [("d1", "web"), ("d3", "books")], "doc string, source string"
        )
        out = js.enrich_stream(deduped, dim, "doc", how="left")
        q = (
            out.writeStream.format("memory")
            .queryName("curated_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.doc, r.source)
            for r in spark.sql("select doc, source from curated_stream").collect()
        }
        # d1 once (dup dropped), d2 gated out, d3 enriched, junk row
        # null-extracted then gated out
        assert got == {("d1", "web"), ("d3", "books")}


class TestCurateStream:
    CLEAN = (
        "The quick brown fox jumps over the lazy dog to be of use and "
        "share that fine day with friends. " * 3
    )

    def _run(self, spark, tmp_path, docs, name, **kw):
        p = tmp_path / "curate_in"
        p.mkdir(exist_ok=True)
        with open(p / "part-0.jsonl", "w") as f:
            for i, t in docs:
                f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
            ]
        )
        stream = spark.readStream.schema(schema).json(str(p))
        out = js.curate_stream(stream, "text", **kw)
        assert out.isStreaming
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r.doc_id: r for r in spark.sql(f"select * from {name}").collect()}

    def test_stateless_gates_filter_stream(self, spark, tmp_path):
        docs = [
            (1, self.CLEAN),
            (2, "too short"),                        # token floor
            (3, "der hund ist ein tier und das ist gut " * 6),  # lang gate
            (4, self.CLEAN + "\n" + "#" * 80),       # gopher symbol gate
        ]
        got = self._run(spark, tmp_path, docs, "curated")
        assert set(got) == {1}
        assert got[1].lang == "en" and got[1].n_tokens >= 10

    def test_c4_rewrites_text_in_stream(self, spark, tmp_path):
        good = (
            "This is a perfectly good sentence line.\n"
            "Another good long sentence line sits here!\n"
            "A third proper sentence line finishes it.\n"
            "quick brown fox prose with no terminal punctuation at all"
        )
        docs = [(1, good), (2, good + "\nbody { margin: 0; }")]
        got = self._run(
            spark, tmp_path, docs, "curated_c4",
            apply_gopher=False, apply_c4=True,
        )
        # doc 2 trips the brace gate; doc 1's unterminated prose line is
        # dropped from the rewritten text
        assert set(got) == {1}
        assert got[1].text.endswith("finishes it.")
        assert "quick brown fox" not in got[1].text


class TestContaminationAlerts:
    def test_stream_static_minhash_alerts(self, spark, tmp_path):
        from datafusion_functions_json_spark.operators import dedup

        bench_rows = [
            (100, "the secret benchmark question about gravity waves today"),
            (101, "another held out evaluation prompt goes right here now"),
        ]
        bench = spark.createDataFrame(bench_rows, "doc_id bigint, text string")
        idx = dedup.minhash_index(bench, "doc_id", "text")

        p = tmp_path / "alerts_in"
        p.mkdir()
        docs = [
            {"doc_id": 1,
             "text": "the secret benchmark question about gravity waves today!"},
            {"doc_id": 2,
             "text": "totally unrelated cooking recipe with pasta and basil leaves"},
        ]
        with open(p / "part-0.jsonl", "w") as f:
            for d in docs:
                f.write(json.dumps(d) + "\n")
        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
            ]
        )
        stream = spark.readStream.schema(schema).json(str(p))
        alerts = js.contamination_alerts(
            stream, "doc_id", "text", idx, threshold=0.6
        )
        assert alerts.isStreaming
        q = (
            alerts.writeStream.format("memory")
            .queryName("contam_alerts")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("select * from contam_alerts").collect()
        # near-copy of bench 100 alerts (k band collisions allowed);
        # the disjoint doc never appears
        assert {(r.doc_id, r.bench_id) for r in got} == {(1, 100)}
        assert all(r.jaccard >= 0.6 for r in got)

    def test_family_mismatch_raises(self, spark, tmp_path):
        from datafusion_functions_json_spark.operators import dedup

        bench = spark.createDataFrame(
            [(1, "abc def ghi")], "doc_id bigint, text string"
        )
        idx = dedup.minhash_index(bench, "doc_id", "text", num_perm=32)
        schema = T.StructType([T.StructField("doc_id", T.LongType()),
                               T.StructField("text", T.StringType())])
        p = tmp_path / "alerts_in2"; p.mkdir()
        (p / "x.jsonl").write_text('{"doc_id": 1, "text": "abc"}\n')
        stream = spark.readStream.schema(schema).json(str(p))
        with pytest.raises(ValueError):
            js.contamination_alerts(stream, "doc_id", "text", idx, num_perm=64)


class TestDecontaminateStream:
    BENCH = (
        "What is the capital of France Paris is the capital city "
        "and it has been so for many centuries of recorded history."
    )
    CLEAN = (
        "The quick brown fox jumps over the lazy dog and shares a "
        "fine afternoon with friends beside the quiet green river."
    )

    def _bench_df(self, spark):
        return spark.createDataFrame(
            [(100, self.BENCH)], "doc_id long, text string"
        )

    def test_stream_drops_leaking_docs(self, spark, tmp_path):
        # doc 2 embeds a full benchmark sentence (many shared 8-grams);
        # doc 1 shares no 8-gram run with the benchmark
        docs = [
            (1, self.CLEAN),
            (2, "A study guide follows. " + self.BENCH + " End of guide."),
        ]
        p = tmp_path / "decontam_in"
        p.mkdir(exist_ok=True)
        with open(p / "part-0.jsonl", "w") as f:
            for i, t in docs:
                f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
            ]
        )
        stream = spark.readStream.schema(schema).json(str(p))
        out = js.decontaminate_stream(
            stream, "text", self._bench_df(spark), n=8
        )
        assert out.isStreaming
        q = (
            out.writeStream.format("memory")
            .queryName("decontam_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r.doc_id: r
            for r in spark.sql("select * from decontam_stream").collect()
        }
        assert set(got) == {1}
        assert got[1].contaminated_ngrams == 0

    def test_batch_equivalence_with_decontaminate_filter(self, spark):
        # the same plan runs on batch frames; its keep-set must match
        # the batch operator's anti-join keep-set on identical inputs
        from datafusion_functions_json_spark.operators import text as optext

        docs = spark.createDataFrame(
            [
                (1, self.CLEAN),
                (2, "Notes: " + self.BENCH),
                (3, self.BENCH),
                (4, self.CLEAN + " More harmless prose follows it all day."),
            ],
            "doc_id long, text string",
        )
        bench = self._bench_df(spark)
        stream_kept = {
            r.doc_id
            for r in js.decontaminate_stream(docs, "text", bench, n=8).collect()
        }
        batch_kept = {
            r.doc_id
            for r in optext.decontaminate_filter(
                docs, "doc_id", "text", bench, n=8
            ).collect()
        }
        assert stream_kept == batch_kept == {1, 4}

    def test_max_hits_threshold(self, spark):
        docs = spark.createDataFrame(
            [(1, self.CLEAN), (2, "Notes: " + self.BENCH)],
            "doc_id long, text string",
        )
        kept = js.decontaminate_stream(
            docs, "text", self._bench_df(spark), n=8, max_hits=1_000_000
        )
        assert {r.doc_id for r in kept.collect()} == {1, 2}

    def test_benchmark_size_guard(self, spark):
        docs = spark.createDataFrame([(1, self.CLEAN)], "doc_id long, text string")
        with pytest.raises(ValueError, match="driver-side bound"):
            js.decontaminate_stream(
                docs, "text", self._bench_df(spark), n=8, max_benchmark_grams=3
            )


class TestReviewFindingsRound7d:
    """Regression pins for the streaming/column/register review batch."""

    def test_sessionize_tolerates_null_timestamps(self, spark, tmp_path):
        # NaT passes `is not None` and then raises on .timestamp() — a
        # single NULL/garbage ts must not kill the streaming query
        rows = [
            {"ts": "2024-01-01T00:00:00", "payload": '{"user": "a"}'},
            {"ts": None, "payload": '{"user": "a"}'},
            {"ts": "2024-01-01T00:00:30", "payload": '{"user": "a"}'},
            {"ts": "2024-01-01T00:05:00", "payload": '{"user": "a"}'},
        ]
        p = tmp_path / "sess_nat"
        p.mkdir()
        with open(p / "part-0.jsonl", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        stream = spark.readStream.schema(SCHEMA).json(str(p))
        sessions = js.sessionize(
            stream, "payload", ("user",), ts_col="ts", gap_seconds=60
        )
        q = (
            sessions.writeStream.format("memory")
            .queryName("sessions_nat")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        import time

        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.sql("select * from sessions_nat").count() >= 1:
                break
            time.sleep(1)
        q.stop()
        got = [
            (r.key, r.n_events)
            for r in spark.sql("select * from sessions_nat").collect()
        ]
        # the NULL-ts row is skipped; the in-batch gap still closes the
        # first (2-event) session — pre-fix this crashed the query
        assert got == [("a", 2)]

    def test_extract_json_stream_is_fused_single_hop(
        self, spark, json_dir, python_tier
    ):
        df = spark.read.schema(SCHEMA).json(json_dir)
        out = js.extract_json_stream(
            df, "payload",
            {"n2": ("int", "n"), "u": ("str", "user"),
             "has": ("exists", "n"), "ln": ("length",)},
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1  # K fields, ONE hop
        got = out.orderBy("n2").collect()
        assert [r.n2 for r in got if r.n2 is not None] == [1, 2, 3]
        assert all(r.has in (True, False) for r in got)

    def test_extract_json_stream_on_jvm_exact_tier(self, spark, json_dir):
        # the same extraction on the JVM exact tier: K fields, no hop
        from datafusion_functions_json_spark.functions import jvm_tier

        if jvm_tier.load(spark.sparkContext) is None:
            pytest.skip("JVM exact tier unavailable")
        df = spark.read.schema(SCHEMA).json(json_dir)
        out = js.extract_json_stream(
            df, "payload",
            {"n2": ("int", "n"), "u": ("str", "user"),
             "has": ("exists", "n"), "ln": ("length",)},
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan
        got = out.orderBy("n2").collect()
        assert [r.n2 for r in got if r.n2 is not None] == [1, 2, 3]
        assert all(r.has in (True, False) for r in got)

    def test_extract_json_stream_rejects_bad_kind_descriptively(
        self, spark, json_dir
    ):
        df = spark.read.schema(SCHEMA).json(json_dir)
        with pytest.raises(ValueError, match="unknown kind"):
            js.extract_json_stream(df, "payload", {"x": ("warp", "n")})


class TestUpsertSink:
    def test_multi_batch_upsert_with_deletes(self, spark, tmp_path):
        src = tmp_path / "ups_in"
        src.mkdir()
        tgt = str(tmp_path / "ups_tgt")
        ckpt = str(tmp_path / "ups_ckpt")
        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("v", T.StringType()),
                T.StructField("is_del", T.BooleanType()),
            ]
        )
        with open(src / "b0.jsonl", "w") as f:
            f.write(json.dumps({"id": 1, "v": "a", "is_del": False}) + "\n")
            f.write(json.dumps({"id": 2, "v": "b", "is_del": False}) + "\n")
        stream = spark.readStream.schema(schema).json(str(src))
        q = (
            js.upsert_sink(stream, tgt, "id", delete_col="is_del")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            mid = {r.id: r.v for r in js.read_current(spark, tgt).collect()}
            assert mid == {1: "a", 2: "b"}
            with open(src / "b1.jsonl", "w") as f:
                f.write(
                    json.dumps({"id": 2, "v": "B", "is_del": False}) + "\n"
                )
                f.write(
                    json.dumps({"id": 3, "v": "c", "is_del": False}) + "\n"
                )
                f.write(
                    json.dumps({"id": 1, "v": None, "is_del": True}) + "\n"
                )
            q.processAllAvailable()
        finally:
            q.stop()
        final = {r.id: r.v for r in js.read_current(spark, tgt).collect()}
        assert final == {2: "B", 3: "c"}
        # committed pointer + pruned version dirs
        import os
        import re

        vs = [d for d in os.listdir(tgt) if re.fullmatch(r"v\d{20}", d)]
        assert len(vs) <= 2 and os.path.exists(os.path.join(tgt, "_LATEST"))

    def test_cdc_mode_compacts_log(self, spark, tmp_path):
        from datafusion_functions_json_spark.operators import cdc

        src = tmp_path / "cdc_in"
        src.mkdir()
        tgt = str(tmp_path / "cdc_tgt")
        ckpt = str(tmp_path / "cdc_ckpt")
        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("v", T.StringType()),
                T.StructField("op", T.StringType()),
                T.StructField("seq", T.LongType()),
            ]
        )
        events = [
            {"id": 1, "v": "x1", "op": "I", "seq": 1},
            {"id": 1, "v": "x2", "op": "U", "seq": 2},
            {"id": 2, "v": "y", "op": "I", "seq": 3},
            {"id": 2, "v": None, "op": "D", "seq": 4},
            {"id": 3, "v": "z", "op": "I", "seq": 5},
        ]
        with open(src / "b0.jsonl", "w") as f:
            for e in events:
                f.write(json.dumps(e) + "\n")
        stream = spark.readStream.schema(schema).json(str(src))
        q = (
            js.upsert_sink(stream, tgt, "id", seq_col="seq")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {r.id: r.v for r in js.read_current(spark, tgt).collect()}
        assert got == {1: "x2", 3: "z"}
        # batch-equivalence: same result as apply_cdc_log on an empty
        # target with the identical log
        log = spark.createDataFrame(
            [(e["id"], e["v"], e["op"], e["seq"]) for e in events],
            "id bigint, v string, op string, seq bigint",
        )
        empty = spark.createDataFrame([], "id bigint, v string")
        batch = {
            r.id: r.v
            for r in cdc.apply_cdc_log(
                empty, log, "id", seq_col="seq"
            ).collect()
        }
        assert got == batch

    def test_read_current_before_first_commit(self, spark, tmp_path):
        assert js.read_current(spark, str(tmp_path / "nope")) is None


class TestVersionReads:
    def test_time_travel_and_listing(self, spark, tmp_path):
        src = tmp_path / "tt_in"
        src.mkdir()
        tgt = str(tmp_path / "tt_tgt")
        ckpt = str(tmp_path / "tt_ckpt")
        schema = T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
        )
        with open(src / "b0.jsonl", "w") as f:
            f.write(json.dumps({"id": 1, "v": "a"}) + "\n")
        stream = spark.readStream.schema(schema).json(str(src))
        q = (
            js.upsert_sink(stream, tgt, "id", keep_versions=5)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            with open(src / "b1.jsonl", "w") as f:
                f.write(json.dumps({"id": 1, "v": "b"}) + "\n")
            q.processAllAvailable()
        finally:
            q.stop()
        assert js.list_versions(tgt) == [0, 1]
        v0 = {r.id: r.v for r in js.read_version(spark, tgt, 0).collect()}
        v1 = {r.id: r.v for r in js.read_version(spark, tgt, 1).collect()}
        assert v0 == {1: "a"} and v1 == {1: "b"}
        with pytest.raises(ValueError, match="available: \\[0, 1\\]"):
            js.read_version(spark, tgt, 7)
        assert js.list_versions(str(tmp_path / "nope")) == []


class TestMergeBatchCrashWindows:
    def _b(self, spark, rows):
        return spark.createDataFrame(rows, "id bigint, v string")

    def test_crash_before_pointer_commit_recovers_on_replay(
        self, spark, tmp_path
    ):
        import os

        tgt = str(tmp_path / "crash_tgt")
        merge = js.merge_batch_fn(tgt, "id")
        merge(self._b(spark, [(1, "a")]), 0)
        # simulate: batch 1 wrote its version dir but crashed BEFORE
        # the pointer commit
        self._b(spark, [(1, "b"), (2, "c")]).write.mode(
            "overwrite"
        ).parquet(os.path.join(tgt, f"v{1:020d}"))
        assert {r.id: r.v for r in js.read_current(spark, tgt).collect()} == {
            1: "a"
        }  # readers still see the committed snapshot
        # the checkpoint replays batch 1 through the normal path
        merge(self._b(spark, [(1, "b"), (2, "c")]), 1)
        assert {r.id: r.v for r in js.read_current(spark, tgt).collect()} == {
            1: "b",
            2: "c",
        }

    def test_replay_of_committed_batch_is_noop(self, spark, tmp_path):
        tgt = str(tmp_path / "noop_tgt")
        merge = js.merge_batch_fn(tgt, "id")
        merge(self._b(spark, [(1, "a")]), 0)
        merge(self._b(spark, [(2, "b")]), 1)
        # at-least-once delivery replays batch 0 after batch 1 committed
        # (identical content, as a checkpoint replay delivers) — no-op
        merge(self._b(spark, [(1, "a")]), 0)
        got = {r.id: r.v for r in js.read_current(spark, tgt).collect()}
        assert got == {1: "a", 2: "b"}
        # and replaying the LATEST committed batch is also a no-op
        # (re-merging would read and overwrite the same version dir)
        merge(self._b(spark, [(2, "b")]), 1)
        got = {r.id: r.v for r in js.read_current(spark, tgt).collect()}
        assert got == {1: "a", 2: "b"}

    def test_prune_never_removes_committed_snapshot(self, spark, tmp_path):
        import os

        tgt = str(tmp_path / "prune_tgt")
        merge = js.merge_batch_fn(tgt, "id", keep_versions=1)
        merge(self._b(spark, [(1, "a")]), 0)
        # an uncommitted NEWER dir (crash after write, before commit)
        self._b(spark, [(1, "x")]).write.parquet(
            os.path.join(tgt, f"v{5:020d}")
        )
        merge(self._b(spark, [(2, "b")]), 1)
        # v0 pruned (below committed v1), v1 retained; the stray v5
        # was never eligible to push v1 out
        assert js.list_versions(tgt) == [1, 5]
        assert {r.id for r in js.read_current(spark, tgt).collect()} == {1, 2}

    def test_checkpoint_reset_with_new_content_refuses(self, spark, tmp_path):
        # at-least-once replay of IDENTICAL content no-ops; a checkpoint
        # reset recycling batch id 0 for NEW data must refuse loudly —
        # silently dropping it would lose the batch with no signal
        import pytest

        tgt = str(tmp_path / "reset_tgt")
        merge = js.merge_batch_fn(tgt, "id")
        merge(self._b(spark, [(1, "a")]), 0)
        merge(self._b(spark, [(2, "b")]), 1)
        # genuine replay (same rows, any partition order) → no-op
        merge(self._b(spark, [(1, "a")]).repartition(3), 0)
        assert {r.id: r.v for r in js.read_current(spark, tgt).collect()} == {
            1: "a",
            2: "b",
        }
        # reset: batch id 0 carries different data
        with pytest.raises(ValueError, match="checkpoint reset"):
            merge(self._b(spark, [(7, "NEW")]), 0)
        # the refusal left the committed snapshot untouched
        assert {r.id: r.v for r in js.read_current(spark, tgt).collect()} == {
            1: "a",
            2: "b",
        }

    def test_torn_ledger_line_trusted_as_replay(self, spark, tmp_path):
        # crash mid-append leaves a truncated trailing line (no newline
        # / cut hash digits): it must read as ABSENT — a byte-identical
        # replay still no-ops instead of being refused on a fingerprint
        # prefix mismatch
        import os

        tgt = str(tmp_path / "torn_tgt")
        merge = js.merge_batch_fn(tgt, "id")
        merge(self._b(spark, [(1, "a")]), 0)
        ledger = os.path.join(tgt, "_COMMITS")
        full = open(ledger).read()
        assert full.endswith("\n")
        open(ledger, "w").write(full[: len(full) // 2])  # torn append
        merge(self._b(spark, [(1, "a")]), 0)  # replay: no raise, no-op
        # and even DIFFERENT content is trusted under a torn line (the
        # ledger can only refuse on evidence it actually has)
        merge(self._b(spark, [(9, "x")]), 0)
        assert {r.id: r.v for r in js.read_current(spark, tgt).collect()} == {
            1: "a"
        }

    def test_verify_replays_off_skips_ledger(self, spark, tmp_path):
        # nondeterministic-batch escape hatch: no ledger is written and
        # a recycled batch id with different content no-ops (the bare
        # monotonic guard), never raises
        import os

        tgt = str(tmp_path / "nofp_tgt")
        merge = js.merge_batch_fn(tgt, "id", verify_replays=False)
        merge(self._b(spark, [(1, "a")]), 0)
        assert not os.path.exists(os.path.join(tgt, "_COMMITS"))
        merge(self._b(spark, [(7, "NEW")]), 0)  # no raise
        assert {r.id: r.v for r in js.read_current(spark, tgt).collect()} == {
            1: "a"
        }

    def test_legacy_target_without_ledger_trusts_replay(self, spark, tmp_path):
        # crash window between pointer commit and ledger append (or a
        # pre-ledger target): the missing line must be TRUSTED as a
        # replay — never a refusal of good data
        import os

        tgt = str(tmp_path / "legacy_tgt")
        merge = js.merge_batch_fn(tgt, "id")
        merge(self._b(spark, [(1, "a")]), 0)
        os.remove(os.path.join(tgt, "_COMMITS"))
        merge(self._b(spark, [(9, "different")]), 0)  # no-op, no raise
        assert {r.id: r.v for r in js.read_current(spark, tgt).collect()} == {
            1: "a"
        }

    def test_concurrent_reader_survives_commit(self, spark, tmp_path):
        # a reader that resolved the pointer BEFORE a commit must still
        # be able to finish reading its version afterwards: with the
        # default keep_versions=2 the previous committed version is
        # retained through the next commit + prune
        tgt = str(tmp_path / "reader_tgt")
        merge = js.merge_batch_fn(tgt, "id", keep_versions=2)
        merge(self._b(spark, [(1, "a")]), 0)
        old_reader = js.read_current(spark, tgt)  # lazily pinned to v0
        merge(self._b(spark, [(1, "b"), (2, "c")]), 1)  # commit + prune
        # the old reader's resolved version still collects
        assert {r.id: r.v for r in old_reader.collect()} == {1: "a"}
        # new readers see the new snapshot
        assert {r.id: r.v for r in js.read_current(spark, tgt).collect()} == {
            1: "b",
            2: "c",
        }
        # and v0 leaves the window only on the NEXT commit
        merge(self._b(spark, [(3, "d")]), 2)
        assert js.list_versions(tgt) == [1, 2]


class TestLedgerRound12:
    """Round-12 hardening of the upsert_sink commit ledger: timezone-
    independent v3 fingerprints, v2 upgrade compatibility, O(tail)
    lookup cost, and the single-writer commit fence."""

    def _b(self, spark, rows):
        return spark.createDataFrame(rows, "id bigint, v string")

    def _tsb(self, spark, rows):
        return spark.createDataFrame(rows, "id bigint, ts timestamp")

    def test_replay_noop_across_session_timezone_change(
        self, spark, tmp_path
    ):
        # v2 fingerprints hashed to_json(struct(...)), which serializes
        # timestamps in spark.sql.session.timeZone — a restart under a
        # different tz re-fingerprinted byte-identical replays and
        # crash-looped. v3 hashes the columns directly (internal epoch
        # representation), so the replay no-ops regardless of session tz.
        import datetime

        tgt = str(tmp_path / "tz_tgt")
        rows = [(1, datetime.datetime(2024, 1, 1, 12, 0, 0))]
        old_tz = spark.conf.get("spark.sql.session.timeZone")
        merge = js.merge_batch_fn(tgt, "id")
        try:
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            merge(self._tsb(spark, rows), 0)
            # restart under a different session timezone: identical
            # content replay must still be a no-op
            spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
            merge(self._tsb(spark, rows), 0)  # no raise
            # and a checkpoint reset with NEW data still refuses
            with pytest.raises(ValueError, match="checkpoint reset"):
                merge(
                    self._tsb(
                        spark, [(9, datetime.datetime(2030, 5, 5, 5, 5, 5))]
                    ),
                    0,
                )
        finally:
            spark.conf.set("spark.sql.session.timeZone", old_tz)

    def test_null_column_transposition_changes_fingerprint(
        self, spark, tmp_path
    ):
        # xxhash64 leaves the accumulator unchanged on NULL input, so
        # without per-column null markers ('x', NULL) and (NULL, 'x')
        # would collide; the v3 fingerprint must tell them apart
        tgt = str(tmp_path / "nullfp_tgt")
        merge = js.merge_batch_fn(tgt, "a", keep_versions=3)
        df1 = spark.createDataFrame([("x", None)], "a string, b string")
        merge(df1, 0)
        df2 = spark.createDataFrame([(None, "x")], "a string, b string")
        with pytest.raises(ValueError, match="checkpoint reset"):
            merge(df2, 0)

    def test_fingerprint_is_order_and_partitioning_invariant(
        self, spark, tmp_path
    ):
        # the fingerprint is a per-row-hash SUM: any row order and any
        # partitioning of the same multiset must fingerprint equal (a
        # checkpoint replay delivers arbitrary partitionings), while
        # changing any single cell must change it
        import datetime

        rows = [
            (i, f"v{i}", float(i) / 3.0, datetime.datetime(2024, 1, 1 + i))
            for i in range(8)
        ] + [(99, None, None, None)]
        schema = "id bigint, s string, x double, ts timestamp"
        tgt = str(tmp_path / "perm_tgt")
        merge = js.merge_batch_fn(tgt, "id")
        merge(spark.createDataFrame(rows, schema), 0)
        # replays: reversed order, single partition, 7-way repartition
        for variant in (
            spark.createDataFrame(rows[::-1], schema).coalesce(1),
            spark.createDataFrame(rows, schema).repartition(7),
        ):
            merge(variant, 0)  # no raise — identical multiset
        # single-cell change refuses
        changed = [r if r[0] != 3 else (3, "DIFFERENT", r[2], r[3]) for r in rows]
        with pytest.raises(ValueError, match="checkpoint reset"):
            merge(spark.createDataFrame(changed, schema), 0)

    def test_fingerprint_handles_nested_map_columns(self, spark, tmp_path):
        # xxhash64 rejects MapType at ANY nesting depth (analysis
        # error); such columns must be rewritten structurally
        # (_canonical: key-sorted entries arrays) — a top-level-only
        # check crash-looped on array<map<...>> schemas
        tgt = str(tmp_path / "nestedmap_tgt")
        merge = js.merge_batch_fn(tgt, "id")
        df = spark.createDataFrame(
            [(1, [{"a": "x"}], {"k": 2})],
            "id bigint, tags array<map<string,string>>, m map<string,int>",
        )
        merge(df, 0)  # must not raise
        merge(df, 0)  # identical replay no-ops
        with pytest.raises(ValueError, match="checkpoint reset"):
            merge(
                spark.createDataFrame(
                    [(9, [{"z": "y"}], {"q": 3})],
                    "id bigint, tags array<map<string,string>>, "
                    "m map<string,int>",
                ),
                0,
            )

    def test_map_timestamp_replay_noop_across_tz_change(
        self, spark, tmp_path
    ):
        # round-13: the v3 fingerprint's former to_json FALLBACK for
        # map-typed columns re-introduced session-timezone sensitivity
        # for timestamps nested in maps — the exact replay-refusal class
        # v3 was built to close. Maps now hash structurally (_canonical:
        # key-sorted entries arrays, timestamps by internal epoch), so a
        # restart under a different spark.sql.session.timeZone must
        # no-op on identical content, even for array<map<string,ts>>.
        import datetime

        tgt = str(tmp_path / "maptz_tgt")
        schema = "id bigint, evs array<map<string,timestamp>>"
        rows = [
            (1, [{"start": datetime.datetime(2024, 3, 10, 2, 30)}]),
            (2, None),
            (3, [None, {"a": None}]),
        ]
        old_tz = spark.conf.get("spark.sql.session.timeZone")
        merge = js.merge_batch_fn(tgt, "id")
        try:
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            merge(spark.createDataFrame(rows, schema), 0)
            spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
            merge(spark.createDataFrame(rows, schema), 0)  # no raise
            # new data under the recycled id still refuses
            with pytest.raises(ValueError, match="checkpoint reset"):
                merge(
                    spark.createDataFrame(
                        [(9, [{"x": datetime.datetime(2030, 1, 1)}])],
                        schema,
                    ),
                    0,
                )
        finally:
            spark.conf.set("spark.sql.session.timeZone", old_tz)

    def test_map_fingerprint_is_entry_order_canonical(self, spark, tmp_path):
        # map entry order is unspecified in Spark's runtime values; the
        # structural hash sorts entries by key, so the same logical map
        # delivered with a different entry order must fingerprint equal
        tgt = str(tmp_path / "maporder_tgt")
        merge = js.merge_batch_fn(tgt, "id")
        schema = "id bigint, m map<string,int>"
        merge(spark.createDataFrame([(1, {"a": 1, "b": 2})], schema), 0)
        merge(spark.createDataFrame([(1, {"b": 2, "a": 1})], schema), 0)
        # a different VALUE under the same keys still refuses
        with pytest.raises(ValueError, match="checkpoint reset"):
            merge(spark.createDataFrame([(1, {"a": 1, "b": 3})], schema), 0)

    def test_canonical_distinguishes_null_struct_from_struct_of_nulls(
        self, spark, tmp_path
    ):
        # round-13 review: [null] and [struct(null, null)] fingerprinted
        # EQUAL under direct hashing (Spark's hash skips nulls AND a
        # bare struct rebuild erases struct-level nullness) — a
        # checkpoint reset differing exactly there replayed as
        # "identical content". v4's _canonical element markers +
        # when(isNotNull) struct guard keep them distinct.
        tgt = str(tmp_path / "nullstruct_tgt")
        schema = (
            "id bigint, evs array<struct<m: map<string,int>, i: int>>"
        )
        merge = js.merge_batch_fn(tgt, "id")
        merge(
            spark.createDataFrame([(1, [None])], schema),
            0,
        )
        with pytest.raises(ValueError, match="checkpoint reset"):
            merge(
                spark.createDataFrame([(1, [(None, None)])], schema),
                0,
            )

    def test_v2_ledger_line_upgrade_replay_noop(self, spark, tmp_path):
        # a target whose ledger was written before the v2→v3 change:
        # replays of its committed batches are verified with the v2
        # (to_json) formula so an upgraded stream never crash-loops
        tgt = str(tmp_path / "v2_tgt")
        merge = js.merge_batch_fn(tgt, "id")
        batch = self._b(spark, [(1, "a"), (2, "b")])
        merge(batch, 0)
        # rewrite the ledger line as v2 with the legacy formula
        row = batch.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(
                    F.xxhash64(
                        F.to_json(F.struct(*sorted(batch.columns)))
                    ).cast("decimal(38,0)")
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).collect()[0]
        ledger = os.path.join(tgt, "_COMMITS")
        with open(ledger, "w") as f:
            f.write(f"v2:v{0:020d}:{int(row.n)}:{row.h}\n")
        # identical replay verifies against the v2 formula → no-op
        # (fresh closure: a restart builds a new merge fn)
        merge2 = js.merge_batch_fn(tgt, "id")
        merge2(self._b(spark, [(1, "a"), (2, "b")]), 0)
        # and different content under the v2 line still refuses
        with pytest.raises(ValueError, match="checkpoint reset"):
            merge2(self._b(spark, [(9, "NEW")]), 0)

    def test_v3_ledger_line_upgrade_replay_noop(self, spark, tmp_path):
        # round-13: the v3→v4 format change (structural maps + nested
        # null markers) must not crash-loop targets committed under v3 —
        # ledger lines verify with the formula their version tag names,
        # including the v3 to_json fallback for map-bearing columns
        tgt = str(tmp_path / "v3_tgt")
        schema = "id bigint, m map<string,int>, s string"
        rows = [(1, {"a": 1}, "x"), (2, None, None)]
        merge = js.merge_batch_fn(tgt, "id")
        batch = spark.createDataFrame(rows, schema)
        merge(batch, 0)
        # rewrite the ledger line as v3 with the r12 formula (columns +
        # null markers, to_json for the map-bearing column)
        parts = []
        for c in sorted(batch.columns):
            col = F.col(c)
            parts.append(col.isNull())
            parts.append(F.to_json(col) if c == "m" else col)
        row = batch.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64(*parts).cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).collect()[0]
        with open(os.path.join(tgt, "_COMMITS"), "w") as f:
            f.write(f"v3:v{0:020d}:{int(row.n)}:{row.h}\n")
        merge2 = js.merge_batch_fn(tgt, "id")
        merge2(spark.createDataFrame(rows, schema), 0)  # no-op, no raise
        with pytest.raises(ValueError, match="checkpoint reset"):
            merge2(spark.createDataFrame([(9, {"z": 9}, "NEW")], schema), 0)

    def test_nested_null_transposition_changes_fingerprint(
        self, spark, tmp_path
    ):
        # round-13: Spark's hash SKIPS nulls, so without nested markers
        # ['x', null] and [null, 'x'] (and [null] vs [struct(null,null)])
        # fingerprint EQUAL — v4's _canonical adds a never-null marker at
        # every nested nullable position
        tgt = str(tmp_path / "nestednull_tgt")
        schema = "id bigint, arr array<string>"
        merge = js.merge_batch_fn(tgt, "id")
        merge(spark.createDataFrame([(1, ["x", None])], schema), 0)
        with pytest.raises(ValueError, match="checkpoint reset"):
            merge(spark.createDataFrame([(1, [None, "x"])], schema), 0)

    def test_ledger_lookup_reads_tail_not_whole_file(self, spark, tmp_path):
        # the parsed-ledger cache: a replay check after N committed
        # batches reads only the bytes appended since the last check,
        # not the whole file (O(1) amortized per batch)
        import builtins

        tgt = str(tmp_path / "tail_tgt")
        merge = js.merge_batch_fn(tgt, "id")
        merge(self._b(spark, [(1, "a")]), 0)
        # pad the ledger with 10k well-formed foreign lines (as a long
        # stream lifetime would) BELOW our committed line — same parse
        # path, big file
        ledger = os.path.join(tgt, "_COMMITS")
        committed_line = open(ledger).read()
        with open(ledger, "w") as f:
            for i in range(1, 10001):
                f.write(f"v3:x{i:019d}:1:{i}\n")
            f.write(committed_line)

        reads = []
        real_open = builtins.open

        def counting_open(path, *a, **kw):
            f = real_open(path, *a, **kw)
            if str(path).endswith("_COMMITS") and (
                not a or "r" in str(a[0])
            ):
                real_read = f.read

                def read(*ra):
                    data = real_read(*ra)
                    reads.append(len(data))
                    return data

                f.read = read
            return f

        import unittest.mock as mock

        with mock.patch.object(builtins, "open", counting_open):
            merge(self._b(spark, [(1, "a")]), 0)  # replay: full parse once
            first = sum(reads)
            reads.clear()
            merge(self._b(spark, [(1, "a")]), 0)  # replay again: tail only
            second = sum(reads)
        assert first > 100_000  # parsed the padded ledger once
        assert second < 1_000  # second check read only the (empty) tail

    def test_append_after_torn_line_does_not_glue(self, spark, tmp_path):
        # a torn trailing line must not merge with the NEXT commit's
        # append: the repair guard terminates it first, so the new
        # batch's fingerprint line stays parseable (the torn batch's
        # protection is lost — trusted replay — but never the new one's)
        tgt = str(tmp_path / "glue_tgt")
        merge = js.merge_batch_fn(tgt, "id")
        merge(self._b(spark, [(1, "a")]), 0)
        ledger = os.path.join(tgt, "_COMMITS")
        # clean sequential commits never emit repair markers (the
        # round-12 review caught a truthy-seek bug that marked every
        # healthy append as torn)
        merge(self._b(spark, [(5, "e")]), 1)
        assert "#torn" not in open(ledger).read()
        full = open(ledger).read()
        open(ledger, "w").write(full[: len(full) - 3])  # tear batch 1's line
        merge(self._b(spark, [(2, "b")]), 2)  # append after the tear
        # batch 2's line is intact: a reset recycling id 2 refuses
        with pytest.raises(ValueError, match="checkpoint reset"):
            merge(self._b(spark, [(9, "NEW")]), 2)
        # batch 1's torn line reads as absent: different content trusted
        merge(self._b(spark, [(8, "x")]), 1)  # no raise, no-op
        # and exactly one repair marker was written (for the real tear)
        assert open(ledger).read().count("#torn") == 1

    def test_concurrent_writer_is_refused(self, spark, tmp_path):
        # single-writer fence: a second writer caught mid-commit is
        # refused loudly (flock conflicts across fds even within one
        # process, so holding the lock here simulates the other stream)
        import fcntl

        tgt = str(tmp_path / "fence_tgt")
        merge = js.merge_batch_fn(tgt, "id")
        merge(self._b(spark, [(1, "a")]), 0)
        fd = os.open(os.path.join(tgt, "_OWNER"), os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            with pytest.raises(ValueError, match="single-writer"):
                merge(self._b(spark, [(2, "b")]), 1)
        finally:
            os.close(fd)
        # fence released → the same writer proceeds normally
        merge(self._b(spark, [(2, "b")]), 1)
        assert {r.id: r.v for r in js.read_current(spark, tgt).collect()} == {
            1: "a",
            2: "b",
        }


class TestNeardedupSink:
    BASE = "the quick brown fox jumps over the lazy dog again and again " * 3
    OTHER = "completely unrelated prose about distributed query planning " * 3
    THIRD = "yet another disjoint passage on parquet row group layout " * 3

    def _b(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_stream_drops_intra_and_cross_batch_near_dups(
        self, spark, tmp_path
    ):
        src = tmp_path / "nd_in"
        src.mkdir()
        tgt = str(tmp_path / "nd_tgt")
        ckpt = str(tmp_path / "nd_ckpt")
        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
            ]
        )
        with open(src / "b0.jsonl", "w") as f:
            f.write(json.dumps({"doc_id": 1, "text": self.BASE}) + "\n")
            f.write(json.dumps({"doc_id": 2, "text": self.BASE}) + "\n")
            f.write(json.dumps({"doc_id": 3, "text": self.OTHER}) + "\n")
        stream = spark.readStream.schema(schema).json(str(src))
        q = (
            js.neardedup_sink(stream, tgt, "doc_id", "text")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            assert {
                r.doc_id for r in js.read_deduped(spark, tgt).collect()
            } == {1, 3}
            with open(src / "b1.jsonl", "w") as f:
                f.write(json.dumps({"doc_id": 4, "text": self.BASE}) + "\n")
                f.write(json.dumps({"doc_id": 5, "text": self.THIRD}) + "\n")
            q.processAllAvailable()
        finally:
            q.stop()
        # 4 near-dups the batch-0 admit; 5 is new
        assert {
            r.doc_id for r in js.read_deduped(spark, tgt).collect()
        } == {1, 3, 5}

    def test_batch_fn_replay_and_crash_window(self, spark, tmp_path):
        tgt = str(tmp_path / "nd2_tgt")
        fn = js.neardedup_batch_fn(tgt, "doc_id", "text")
        fn(self._b(spark, [(1, self.BASE), (3, self.OTHER)]), 0)
        # committed replay is a durable no-op
        fn(self._b(spark, [(1, self.BASE), (3, self.OTHER)]), 0)
        assert sorted(
            r.doc_id for r in js.read_deduped(spark, tgt).collect()
        ) == [1, 3]
        # crash window: batch 1 wrote data+index but died before the
        # marker — the partial batch must be invisible to readers and
        # to the cross-batch index, and the replay must converge
        fn(self._b(spark, [(4, self.BASE), (5, self.THIRD)]), 1)
        os.remove(os.path.join(tgt, "_batches", f"b{1:020d}"))
        assert sorted(
            r.doc_id for r in js.read_deduped(spark, tgt).collect()
        ) == [1, 3]
        fn(self._b(spark, [(4, self.BASE), (5, self.THIRD)]), 1)
        assert sorted(
            r.doc_id for r in js.read_deduped(spark, tgt).collect()
        ) == [1, 3, 5]

    def test_read_deduped_before_first_commit(self, spark, tmp_path):
        assert js.read_deduped(spark, str(tmp_path / "nowhere")) is None

    def test_checkpoint_reset_with_different_content_refuses(
        self, spark, tmp_path
    ):
        # batch id 0 committed once; a DIFFERENT batch arriving with the
        # same id (lost checkpoint / second stream) must raise, never
        # silently drop the new rows
        tgt = str(tmp_path / "nd3_tgt")
        fn = js.neardedup_batch_fn(tgt, "doc_id", "text")
        fn(self._b(spark, [(1, self.BASE)]), 0)
        with pytest.raises(ValueError, match="different content"):
            fn(self._b(spark, [(99, self.THIRD)]), 0)
        # identical replay still a silent no-op
        fn(self._b(spark, [(1, self.BASE)]), 0)
        # same ids but DIFFERENT text must also refuse (ids alone would
        # wave a re-exported corpus through as "already committed")
        with pytest.raises(ValueError, match="different content"):
            fn(self._b(spark, [(1, self.OTHER)]), 0)

    def test_id_text_reassociation_refuses(self, spark, tmp_path):
        # same ids, same texts, but SWAPPED pairing: independent
        # per-column checksums would collide — the joint per-row hash
        # must refuse the replay as different content
        tgt = str(tmp_path / "nd_reassoc")
        fn = js.neardedup_batch_fn(tgt, "doc_id", "text")
        fn(self._b(spark, [(1, self.BASE), (2, self.OTHER)]), 0)
        with pytest.raises(ValueError, match="different content"):
            fn(self._b(spark, [(1, self.OTHER), (2, self.BASE)]), 0)

    def test_v1_marker_with_matching_content_noop(self, spark, tmp_path):
        # a marker written by the v1 (independent crc32 sums) layout:
        # an upgraded stream replaying the SAME batch must treat it as
        # committed (recompute the v1 fingerprint for comparison), and
        # a DIFFERENT batch must still refuse
        import os
        import zlib

        tgt = str(tmp_path / "nd_v1")
        fn = js.neardedup_batch_fn(tgt, "doc_id", "text")
        fn(self._b(spark, [(1, self.BASE), (3, self.OTHER)]), 0)
        rows = [(1, self.BASE), (3, self.OTHER)]
        h = sum(zlib.crc32(str(i).encode()) for i, _ in rows)
        ht = sum(zlib.crc32(t.encode()) for _, t in rows)
        mark = os.path.join(tgt, "_batches", f"b{0:020d}")
        with open(mark, "w") as f:
            f.write(f"b{0:020d}\n{len(rows)}:{h}:{ht}")
        fn(self._b(spark, rows), 0)  # no-op, no raise
        assert sorted(
            r.doc_id for r in js.read_deduped(spark, tgt).collect()
        ) == [1, 3]
        with pytest.raises(ValueError, match="different content"):
            fn(self._b(spark, [(9, self.THIRD)]), 0)

    def test_legacy_marker_without_fingerprint_trusted(self, spark, tmp_path):
        import os

        tgt = str(tmp_path / "nd_legacy")
        fn = js.neardedup_batch_fn(tgt, "doc_id", "text")
        fn(self._b(spark, [(1, self.BASE)]), 0)
        # rewrite the marker in the pre-fingerprint layout (name only):
        # an upgraded stream must treat it as committed, not crash
        mark = os.path.join(tgt, "_batches", f"b{0:020d}")
        with open(mark, "w") as f:
            f.write(f"b{0:020d}")
        fn(self._b(spark, [(1, self.BASE)]), 0)  # no-op, no raise
        assert sorted(
            r.doc_id for r in js.read_deduped(spark, tgt).collect()
        ) == [1]

    def test_no_cached_pairs_leak_across_batches(self, spark, tmp_path):
        # the per-batch pair tables must not stay pinned in the cache
        # manager for the stream's lifetime
        tgt = str(tmp_path / "nd4_tgt")
        fn = js.neardedup_batch_fn(tgt, "doc_id", "text")
        jsc = spark.sparkContext._jsc.sc()
        before = jsc.getPersistentRDDs().size()
        fn(self._b(spark, [(1, self.BASE), (2, self.BASE)]), 0)
        fn(self._b(spark, [(3, self.BASE), (4, self.THIRD)]), 1)
        assert jsc.getPersistentRDDs().size() <= before

    def test_compaction_preserves_reads_and_dedup(self, spark, tmp_path):
        import os

        tgt = str(tmp_path / "nd5_tgt")
        fn = js.neardedup_batch_fn(tgt, "doc_id", "text")
        fn(self._b(spark, [(1, self.BASE), (3, self.OTHER)]), 0)
        fn(self._b(spark, [(5, self.THIRD)]), 1)
        rep = js.neardedup_compact(spark, tgt)
        assert rep["compacted"] and rep["upto"] == 1
        # per-batch dirs pruned, reads unchanged
        assert not os.path.isdir(os.path.join(tgt, "data", f"b{0:020d}"))
        assert sorted(
            r.doc_id for r in js.read_deduped(spark, tgt).collect()
        ) == [1, 3, 5]
        # cross-batch dedup still works against the compacted index
        fn(self._b(spark, [(7, self.BASE), (8, "fresh disjoint corpus words " * 4)]), 2)
        assert sorted(
            r.doc_id for r in js.read_deduped(spark, tgt).collect()
        ) == [1, 3, 5, 8]
        # second compaction folds the new batch; idempotent after
        assert js.neardedup_compact(spark, tgt)["upto"] == 2
        assert js.neardedup_compact(spark, tgt)["compacted"] is False
        assert sorted(
            r.doc_id for r in js.read_deduped(spark, tgt).collect()
        ) == [1, 3, 5, 8]


class TestCapStream:
    def test_quota_across_batches(self, spark, tmp_path):
        src = tmp_path / "cap_in"
        src.mkdir()
        schema = T.StructType(
            [
                T.StructField("g", T.StringType()),
                T.StructField("seq", T.LongType()),
            ]
        )
        with open(src / "b0.jsonl", "w") as f:
            for g, s in [("a", 3), ("a", 1), ("a", 2), ("b", 1)]:
                f.write(json.dumps({"g": g, "seq": s}) + "\n")
        stream = spark.readStream.schema(schema).json(str(src))
        capped = js.cap_stream(stream, "g", 2, order_col="seq")
        q = (
            capped.writeStream.format("memory")
            .queryName("capped")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            got = {
                (r.g, r.seq)
                for r in spark.sql("select * from capped").collect()
            }
            # intra-batch admission ordered by seq: a admits 1,2 not 3
            assert got == {("a", 1), ("a", 2), ("b", 1)}
            with open(src / "b1.jsonl", "w") as f:
                for g, s in [("a", 4), ("b", 2), ("b", 3), ("c", 1)]:
                    f.write(json.dumps({"g": g, "seq": s}) + "\n")
            q.processAllAvailable()
            got = {
                (r.g, r.seq)
                for r in spark.sql("select * from capped").collect()
            }
            # a's quota was exhausted in batch 0 — seq 4 dropped forever;
            # b tops up to 2; new group c starts its own quota
            assert got == {
                ("a", 1), ("a", 2), ("b", 1), ("b", 2), ("c", 1),
            }
        finally:
            q.stop()

    def test_rejects_bad_k(self, spark, tmp_path):
        schema = T.StructType([T.StructField("g", T.StringType())])
        stream = spark.readStream.schema(schema).json(str(tmp_path))
        with pytest.raises(ValueError):
            js.cap_stream(stream, "g", 0)


class TestCapStreamDurability:
    def test_quota_survives_query_restart(self, spark, tmp_path):
        # the admission counter lives in the state store: a NEW query
        # resumed from the same checkpoint must remember how much of
        # each group's quota was spent before the restart
        src = tmp_path / "capd_in"
        src.mkdir()
        out = str(tmp_path / "capd_out")
        ckpt = str(tmp_path / "capd_ckpt")
        schema = T.StructType(
            [
                T.StructField("g", T.StringType()),
                T.StructField("seq", T.LongType()),
            ]
        )

        def start():
            stream = spark.readStream.schema(schema).json(str(src))
            return (
                js.cap_stream(stream, "g", 2, order_col="seq")
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .start()
            )

        with open(src / "b0.jsonl", "w") as f:
            f.write(json.dumps({"g": "a", "seq": 1}) + "\n")
        q = start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        with open(src / "b1.jsonl", "w") as f:
            for s in (2, 3, 4):
                f.write(json.dumps({"g": "a", "seq": s}) + "\n")
        q = start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = sorted(
            (r.g, r.seq) for r in spark.read.parquet(out).collect()
        )
        # 1 admitted pre-restart + exactly 1 more after: state restored
        assert got == [("a", 1), ("a", 2)]


class TestStatelessOpsOnStreams:
    def test_hash_split_and_mixture_sample_stream_compatible(
        self, spark, tmp_path
    ):
        # the split/mixture primitives are pure projections, so the SAME
        # code paths run unchanged on a streaming frame — the claim the
        # operator docstrings make, pinned here end-to-end
        from datafusion_functions_json_spark.operators import split

        src = tmp_path / "sp_in"
        src.mkdir()
        with open(src / "b0.jsonl", "w") as f:
            for i in range(40):
                f.write(json.dumps({"doc_id": i, "source": "web"}) + "\n")
        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("source", T.StringType()),
            ]
        )
        stream = spark.readStream.schema(schema).json(str(src))
        labeled = split.mixture_sample(
            split.hash_split(stream, "doc_id", salt="s"),
            "doc_id",
            "source",
            {"web": 0.5},
            salt="s",
        )
        assert labeled.isStreaming
        q = (
            labeled.writeStream.format("memory")
            .queryName("sp_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.doc_id, r.split)
            for r in spark.sql("select * from sp_stream").collect()
        }
        # batch twin produces the identical survivor set + labels
        batch = spark.read.schema(schema).json(str(src))
        want = {
            (r.doc_id, r.split)
            for r in split.mixture_sample(
                split.hash_split(batch, "doc_id", salt="s"),
                "doc_id",
                "source",
                {"web": 0.5},
                salt="s",
            ).collect()
        }
        assert got == want and 0 < len(got) < 40


class TestSessionizeTimerLiveness:
    def test_all_nat_batch_keeps_open_session_alive(self, spark, tmp_path):
        # applyInPandasWithState rebuilds GroupState per invocation with
        # no carried-over timeout: an all-NaT micro-batch that skips
        # setTimeoutDuration DELETES the open session's timer, so the
        # session is never emitted and its state leaks. The fix re-arms
        # the timer (bounded extension); this pins that the trailing
        # session still comes out after such a batch.
        # (availableNow + maxFilesPerTrigger=1: b0 opens the session,
        # b1 is the all-NaT batch, then the engine keeps scheduling
        # batches until the processing-time timer fires — poll, as the
        # other sessionize tests do; processAllAvailable never returns
        # under ProcessingTimeTimeout's continuous timer batches.)
        p = tmp_path / "sess_live"
        p.mkdir()
        with open(p / "b0.jsonl", "w") as f:
            f.write(json.dumps(
                {"ts": "2024-01-01T00:00:00", "payload": '{"user": "a"}'}
            ) + "\n")
        with open(p / "b1.jsonl", "w") as f:
            f.write(json.dumps(
                {"ts": None, "payload": '{"user": "a"}'}
            ) + "\n")
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(p))
        )
        sessions = js.sessionize(
            stream, "payload", ("user",), ts_col="ts", gap_seconds=4
        )
        q = (
            sessions.writeStream.format("memory")
            .queryName("sess_live")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        import time

        try:
            deadline = time.time() + 90
            got = []
            while time.time() < deadline and not got:
                got = [
                    (r.key, r.n_events)
                    for r in spark.sql("select * from sess_live").collect()
                ]
                time.sleep(1)
        finally:
            q.stop()
        assert got == [("a", 1)]


class TestPointerErrorPropagation:
    def test_unreadable_pointer_raises_instead_of_resetting(
        self, spark, tmp_path
    ):
        # only a MISSING pointer means "never committed": any other I/O
        # failure must propagate — swallowing it would merge the batch
        # against an empty current state and commit a snapshot that
        # silently drops every previously merged key
        tgt = str(tmp_path / "ptr_tgt")
        merge = js.merge_batch_fn(tgt, "id")
        df0 = spark.createDataFrame([(1, "a")], "id long, v string")
        merge(df0, 0)
        assert {r.id for r in js.read_current(spark, tgt).collect()} == {1}
        # corrupt the pointer into a directory: open() raises
        # IsADirectoryError, which is NOT "never committed"
        ptr = os.path.join(tgt, "_LATEST")
        os.remove(ptr)
        os.makedirs(ptr)
        df1 = spark.createDataFrame([(2, "b")], "id long, v string")
        with pytest.raises(OSError):
            merge(df1, 1)
        # and the committed version directory was never overwritten
        assert {r.id for r in spark.read.parquet(
            os.path.join(tgt, f"v{0:020d}")).collect()} == {1}

    def test_target_dir_through_file_raises(self, spark, tmp_path):
        # target_dir misconfigured to point THROUGH an existing file:
        # open() raises NotADirectoryError, which must surface as a
        # clear misconfiguration error — never read as "empty state"
        # (that would commit a snapshot dropping every merged key)
        blocker = tmp_path / "iamafile"
        blocker.write_text("not a directory")
        tgt = str(blocker / "state")
        merge = js.merge_batch_fn(tgt, "id")
        df0 = spark.createDataFrame([(1, "a")], "id long, v string")
        with pytest.raises(ValueError, match="existing file"):
            merge(df0, 0)
        with pytest.raises(ValueError, match="existing file"):
            js.read_current(spark, tgt)

    def test_plain_upsert_duplicate_keys_in_batch_refuse(
        self, spark, tmp_path
    ):
        # seq_col=None has no principled winner for two rows on one
        # key, and an arbitrary pick would break replay idempotency —
        # fail loudly instead of committing permanent duplicate keys
        tgt = str(tmp_path / "dupkeys_tgt")
        merge = js.merge_batch_fn(tgt, "id")
        dup = spark.createDataFrame(
            [(1, "a"), (1, "b"), (2, "c")], "id long, v string"
        )
        with pytest.raises(ValueError, match="seq_col"):
            merge(dup, 0)
        assert js.read_current(spark, tgt) is None  # nothing committed
        # the CDC path (seq_col given) compacts in-batch duplicates
        # instead: latest event per key wins
        cdc = js.merge_batch_fn(tgt, "id", seq_col="seq")
        batch = spark.createDataFrame(
            [(1, "a", 10, "U"), (1, "b", 20, "U"), (2, "c", 5, "U")],
            "id long, v string, seq long, op string",
        )
        cdc(batch, 0)
        got = {
            (r.id, r.v) for r in js.read_current(spark, tgt).collect()
        }
        assert got == {(1, "b"), (2, "c")}


class TestDriftMonitorSink:
    def test_metrics_row_per_batch_matches_batch_drift(
        self, spark, tmp_path
    ):
        from datafusion_functions_json_spark.operators import stats

        src = tmp_path / "dm_in"
        src.mkdir()
        metrics = str(tmp_path / "dm_metrics")
        ref = spark.createDataFrame(
            [("a a b c",), ("b c d",)], "text string"
        )
        schema = T.StructType([T.StructField("text", T.StringType())])
        with open(src / "b0.jsonl", "w") as f:
            f.write(json.dumps({"text": "a a b c"}) + "\n")
        with open(src / "b1.jsonl", "w") as f:
            f.write(json.dumps({"text": "z z z q q"}) + "\n")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = (
            js.drift_monitor_sink(stream, ref, metrics)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
        got = {
            r.batch_id: (r.js, r.tv)
            for r in spark.read.parquet(metrics).collect()
        }
        assert set(got) == {0, 1}
        # the in-vocabulary batch drifts far less than the disjoint one
        assert got[0][1] < got[1][1]
        # each metrics row equals the batch-mode computation on the
        # same slices (file order pins which text landed in which batch)
        for bid, text in ((0, "a a b c"), (1, "z z z q q")):
            b = spark.createDataFrame([(text,)], "text string")
            want = stats.distribution_drift(ref, b, "text").collect()[0]
            assert got[bid] == (want.js, want.tv)
