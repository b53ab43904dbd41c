"""Sources & sinks: testdata loading (nanos timestamps), the engine's
partitioned write, the pipeline's bucketed tables, training shards and
compaction, prepared-statement args parity."""

from pyspark.sql import functions as F

import datafusion_functions_json_spark as jsonf
from datafusion_functions_json_spark.sources import write_partitioned
from spark_pipeline_ops.sources import load_table, write_bucketed

SF_DIR = "/root/testdata/sf0.001"


class TestLoad:
    def test_nanos_timestamps_become_timestamps(self, spark):
        # TIMESTAMP(NANOS) parquet must surface as a real timestamp type,
        # never raw bigint nanos. Which flavor depends on the Spark
        # build: with the legacy nanosAsLong conf honored we convert the
        # bigint to TIMESTAMP ourselves; newer builds read NANOS natively
        # as TIMESTAMP_NTZ (truncated) — both are queryable timestamps.
        ev = load_table(spark, SF_DIR, "events")
        assert dict(ev.dtypes)["ts"] in ("timestamp", "timestamp_ntz")
        assert ev.count() == 1000

    def test_lineitem_dates_filterable(self, spark):
        li = load_table(spark, SF_DIR, "lineitem")
        n = li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")).count()
        assert 0 < n < li.count()


class TestSinks:
    def test_partitioned_write_roundtrip(self, spark, tmp_path):
        ev = load_table(spark, SF_DIR, "events")
        out = str(tmp_path / "by_type")
        write_partitioned(
            ev.select("event_id", "event_type", "props"),
            out,
            partition_by=["event_type"],
        )
        back = spark.read.parquet(out)
        assert back.count() == 1000
        # partition pruning works on the written layout
        from spark_pipeline_ops.plans import explain_str

        plan = explain_str(back.filter(F.col("event_type") == "click"))
        assert "PartitionFilters" in plan

    def test_bucketed_write_zero_shuffle_join(self, spark, tmp_path):
        # warehouse dir is a static conf; the default ./spark-warehouse is
        # gitignored and cleaned by the drop below
        ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "props")
        write_bucketed(ev, "ev_bucketed", bucket_by=["user_id"], num_buckets=4)
        t = spark.table("ev_bucketed")
        agg = t.groupBy("user_id").agg(F.count("*").alias("n"))
        from spark_pipeline_ops.plans import explain_str

        # aggregation on the bucket key needs NO exchange
        assert "Exchange" not in explain_str(agg)
        spark.sql("drop table if exists ev_bucketed")

    def test_cobucketed_join_zero_shuffle(self, spark):
        # the 100 TB fact-fact join story: both sides bucketed on the
        # join key with the same bucket count → co-located join, no
        # Exchange on either side (the shuffle was paid once at write
        # time and amortizes over every subsequent join)
        from spark_pipeline_ops.plans import explain_str

        cust = load_table(spark, SF_DIR, "customer").select("c_custkey", "c_name")
        orders = load_table(spark, SF_DIR, "orders").select(
            "o_custkey", "o_totalprice"
        )
        write_bucketed(cust, "cust_b", bucket_by=["c_custkey"], num_buckets=4)
        write_bucketed(orders, "ord_b", bucket_by=["o_custkey"], num_buckets=4)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            # force the sort-merge path (a broadcast would also avoid a
            # shuffle here, but only because sf0.001 is tiny — the
            # co-bucketed plan is the one that holds at 100 TB)
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            j = spark.table("ord_b").join(
                spark.table("cust_b"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            assert "Exchange" not in explain_str(j)
            assert j.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("drop table if exists cust_b")
            spark.sql("drop table if exists ord_b")


class TestPreparedArgs:
    def test_sql_named_args_with_json_functions(self, spark, test_df):
        # reference: prepared-statement params (tests/utils/mod.rs:249-256)
        # => spark.sql named args
        jsonf.register_all(spark)
        rows = spark.sql(
            "select name from test where json_get_str(json_data, :k) = :v",
            args={"k": "foo", "v": "abc"},
        ).collect()
        assert [r.name for r in rows] == ["object_foo"]


class TestTrainingShards:
    def test_shard_layout_and_in_file_order(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from spark_pipeline_ops.operators import split as sp
        from spark_pipeline_ops.sources import write_training_shards

        rows = [(i, 20 + (i * 7) % 30) for i in range(300)]
        df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
        df = sp.hash_split(df, "doc_id", {"train": 0.8, "val": 0.2}, salt="s")
        packed = sp.pack_batches(
            df, "doc_id", "n_tokens", budget=200, shards=3,
            shard_expr=F.pmod(F.col("doc_id"), F.lit(3)).cast("int"),
        )
        out = str(tmp_path / "shards")
        write_training_shards(packed, out, target_file_rows=1000)
        back = spark.read.parquet(out).withColumn(
            "_file", F.input_file_name()
        )
        # split purity on disk: directory path encodes split + shard
        got = back.select("split", "shard", "_file").collect()
        for r in got:
            assert f"split={r.split}" in r._file and f"shard={r.shard}" in r._file
        # batches appear in order within each file
        import collections

        per_file = collections.defaultdict(list)
        for r in back.select("_file", "batch_id").collect():
            per_file[r._file].append(r.batch_id)
        # collect() preserves within-file row order for a parquet scan
        # of a single file-split; verify monotone batch ids
        for f, ids in per_file.items():
            assert ids == sorted(ids), f
        # round-trips the full row count
        assert back.count() == 300

    def test_missing_columns_rejected(self, spark, tmp_path):
        from spark_pipeline_ops.sources import write_training_shards

        df = spark.createDataFrame([(1,)], "doc_id long")
        import pytest as _pytest

        with _pytest.raises(ValueError):
            write_training_shards(df, str(tmp_path / "x"))


class TestReviewFindingsRound7c:
    """Regression pins for the sources/layout/metrics review batch."""

    def test_nanos_conversion_is_exact_integer_division(self, spark, tmp_path):
        # a double's ulp at ~1.7e18 epoch-ns is 256 ns: (c/1000).cast
        # could round across a microsecond boundary; `div` cannot
        import pyarrow as pa
        import pyarrow.parquet as pq

        ns = [1_700_000_000_123_456_050, 1_700_000_000_123_456_999]
        p = tmp_path / "events.parquet"
        pq.write_table(pa.table({"event_id": [1, 2], "ts": pa.array(ns, pa.int64())}), p)
        df = spark.read.parquet(str(p))
        from pyspark.sql import functions as F

        out = df.select(
            F.expr("`ts` div 1000").alias("exact"),
            (F.col("ts") / 1000).cast("long").alias("doubled"),
        ).collect()
        assert [r.exact for r in out] == [v // 1000 for v in ns]
        # the old path really was lossy on at least one of these values
        # (documents the defect class; not asserted — FP rounding may
        # coincide on some platforms)

    def test_write_partitioned_accepts_bare_string(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(1, "train"), (2, "val")], "id long, split string"
        )
        out = str(tmp_path / "p")
        write_partitioned(df, out, partition_by="split")
        back = spark.read.parquet(out)
        assert back.count() == 2 and "split" in back.columns

    def test_zorder_accepts_bare_string(self, spark):
        from spark_pipeline_ops.operators import layout
        from pyspark.sql import functions as F

        df = spark.createDataFrame([(5,), (1,)], "price long")
        out = df.select(layout.zorder_key("price", bits=8).alias("z")).collect()
        assert [r.z for r in out] == [5, 1]  # 1-dim morton = identity
        assert "price" in layout.zorder_key_sql("price", bits=8)

    def test_stage_metrics_no_deadlock_and_empty_zero(self, spark):
        from spark_pipeline_ops.operators import metrics
        from pyspark.sql import functions as F

        st = metrics.StageMetrics()
        d1 = st.track(spark.range(4), "done", null_cols=["id"])
        st.track(spark.range(2), "abandoned")
        d1.count()
        rep = st.report(timeout_s=2)
        assert rep["done"] == {"n_rows": 4, "null_id": 0}
        assert rep["abandoned"] is None
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="never materialized"):
            st.report(strict=True, timeout_s=1)
        df0, obs = metrics.observe_stats(
            spark.range(3).filter("id < 0"), "empty", null_cols=["id"]
        )
        df0.count()
        assert obs.get == {"n_rows": 0, "null_id": 0}


class TestCompactParquet:
    def test_compacts_small_files(self, spark, tmp_path):
        from spark_pipeline_ops.sources import compact_parquet

        p = str(tmp_path / "frag")
        df = spark.range(0, 1000).selectExpr("id", "id * 2 as y")
        df.repartition(16).write.parquet(p)
        import os

        before = sum(
            1 for f in os.listdir(p) if f.endswith(".parquet")
        )
        assert before >= 8
        rpt = compact_parquet(spark, p, target_file_bytes=1 << 30)
        assert rpt["compacted"] and rpt["files_before"] == before
        assert rpt["files_after"] == 1
        back = spark.read.parquet(p)
        assert back.count() == 1000
        assert back.agg({"y": "sum"}).collect()[0][0] == 999 * 1000
        # no staging/backup leftovers
        assert not os.path.exists(p + ".compacting")
        assert not os.path.exists(p + ".precompact")

    def test_skips_already_compact(self, spark, tmp_path):
        from spark_pipeline_ops.sources import compact_parquet

        p = str(tmp_path / "one")
        spark.range(10).coalesce(1).write.parquet(p)
        rpt = compact_parquet(spark, p)
        assert rpt == {
            "files_before": 1,
            "files_after": 1,
            "bytes": rpt["bytes"],
            "compacted": False,
        }


class TestCompactParquetSafety:
    def test_crash_window_backup_is_restored(self, spark, tmp_path):
        import os

        from spark_pipeline_ops.sources import compact_parquet

        p = str(tmp_path / "crash")
        spark.range(0, 100).repartition(4).write.parquet(p)
        # simulate a crash between the two swap renames: path moved
        # aside, staging never promoted
        os.rename(p, p + ".precompact")
        rpt = compact_parquet(spark, p, target_file_bytes=1 << 30)
        assert rpt["compacted"]
        assert spark.read.parquet(p).count() == 100
        assert not os.path.exists(p + ".precompact")

    def test_stale_backup_next_to_intact_path_is_cleaned(
        self, spark, tmp_path
    ):
        import os

        from spark_pipeline_ops.sources import compact_parquet

        p = str(tmp_path / "stale")
        spark.range(0, 50).repartition(4).write.parquet(p)
        os.makedirs(p + ".precompact")
        rpt = compact_parquet(spark, p, target_file_bytes=1 << 30)
        assert rpt["compacted"]
        assert spark.read.parquet(p).count() == 50
        assert not os.path.exists(p + ".precompact")

    def test_refuses_hive_partitioned_layout(self, spark, tmp_path):
        import pytest

        from spark_pipeline_ops.sources import compact_parquet

        p = str(tmp_path / "parted")
        spark.range(0, 100).selectExpr(
            "id", "id % 2 as lang"
        ).write.partitionBy("lang").parquet(p)
        with pytest.raises(ValueError, match="Hive-partitioned"):
            compact_parquet(spark, p)
        # layout untouched by the refusal
        assert spark.read.parquet(p).count() == 100
