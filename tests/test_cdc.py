"""Incremental-ingestion operators: merge_upsert, apply_cdc_log,
scd2_history, snapshot_diff, and rrf_fuse."""

import pytest
from pyspark.sql import functions as F

from spark_pipeline_ops.operators import cdc, rank


@pytest.fixture(scope="module")
def target(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id bigint, name string, score double",
    )


class TestMergeUpsert:
    def test_update_insert(self, spark, target):
        src = spark.createDataFrame(
            [(2, "B2", 22.0), (9, "i", 90.0)],
            "id bigint, name string, score double",
        )
        out = {r.id: (r.name, r.score) for r in cdc.merge_upsert(
            target, src, "id").collect()}
        assert out == {
            1: ("a", 10.0), 2: ("B2", 22.0), 3: ("c", 30.0), 9: ("i", 90.0)
        }

    def test_delete_flag(self, spark, target):
        src = spark.createDataFrame(
            [(2, "B2", 22.0, False), (3, None, None, True), (9, "i", 9.0, None)],
            "id bigint, name string, score double, is_del boolean",
        )
        out = cdc.merge_upsert(target, src, "id", delete_col="is_del")
        got = {r.id for r in out.collect()}
        # 3 deleted; 9's NULL flag coalesces to keep (upsert)
        assert got == {1, 2, 9}
        assert "is_del" not in out.columns

    def test_composite_key(self, spark):
        t = spark.createDataFrame(
            [("en", 1, "x"), ("fr", 1, "y")], "lang string, id bigint, v string"
        )
        s = spark.createDataFrame(
            [("en", 1, "X")], "lang string, id bigint, v string"
        )
        out = {(r.lang, r.id): r.v for r in cdc.merge_upsert(
            t, s, ["lang", "id"]).collect()}
        assert out == {("en", 1): "X", ("fr", 1): "y"}

    def test_no_python_no_cartesian(self, target, spark):
        src = spark.createDataFrame([(2, "B", 2.0)], target.schema)
        plan = cdc.merge_upsert(target, src, "id")._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan


class TestApplyCdcLog:
    def test_latest_event_wins(self, spark, target):
        log = spark.createDataFrame(
            [
                (2, "first", 1.0, "U", 10),
                (2, "last", 2.0, "U", 20),
                (3, None, None, "D", 15),
                (9, "new", 9.0, "I", 5),
                (9, None, None, "D", 6),
                (9, "resurrected", 99.0, "I", 7),
            ],
            "id bigint, name string, score double, op string, seq bigint",
        )
        out = {r.id: r.name for r in cdc.apply_cdc_log(
            target, log, "id", seq_col="seq").collect()}
        assert out == {1: "a", 2: "last", 9: "resurrected"}

    def test_delete_as_last_event(self, spark, target):
        log = spark.createDataFrame(
            [(1, "upd", 0.0, "U", 1), (1, None, None, "D", 2)],
            "id bigint, name string, score double, op string, seq bigint",
        )
        out = {r.id for r in cdc.apply_cdc_log(
            target, log, "id", seq_col="seq").collect()}
        assert out == {2, 3}


class TestScd2History:
    def test_intervals(self, spark):
        ch = spark.createDataFrame(
            [(1, "bronze", 100), (1, "silver", 200), (1, "gold", 300),
             (2, "bronze", 150)],
            "id bigint, tier string, eff bigint",
        )
        rows = {(r.id, r.tier): (r.valid_from, r.valid_to, r.is_current)
                for r in cdc.scd2_history(ch, "id", "eff").collect()}
        assert rows[(1, "bronze")] == (100, 200, False)
        assert rows[(1, "silver")] == (200, 300, False)
        assert rows[(1, "gold")] == (300, None, True)
        assert rows[(2, "bronze")] == (150, None, True)

    def test_point_in_time_lookup(self, spark):
        ch = spark.createDataFrame(
            [(1, "v1", 10), (1, "v2", 20)], "id bigint, v string, eff bigint"
        )
        h = cdc.scd2_history(ch, "id", "eff")
        at15 = h.filter(
            (F.col("valid_from") <= 15)
            & (F.col("valid_to").isNull() | (F.lit(15) < F.col("valid_to")))
        ).collect()
        assert [(r.id, r.v) for r in at15] == [(1, "v1")]


class TestSnapshotDiff:
    def test_classes(self, spark):
        old = spark.createDataFrame(
            [(1, "same"), (2, "was"), (3, "gone"), (4, None)],
            "id bigint, v string",
        )
        new = spark.createDataFrame(
            [(1, "same"), (2, "now"), (5, "fresh"), (4, None)],
            "id bigint, v string",
        )
        d = {r.id: r.change for r in cdc.snapshot_diff(old, new, "id").collect()}
        assert d == {2: "changed", 3: "removed", 5: "added"}

    def test_null_vs_value_is_change_and_unchanged_kept(self, spark):
        old = spark.createDataFrame([(1, None), (2, "x")], "id bigint, v string")
        new = spark.createDataFrame([(1, "v"), (2, "x")], "id bigint, v string")
        d = {r.id: r.change for r in cdc.snapshot_diff(
            old, new, "id", include_unchanged=True).collect()}
        assert d == {1: "changed", 2: "unchanged"}

    def test_compare_cols_subset(self, spark):
        old = spark.createDataFrame([(1, "a", 1.0)], "id bigint, v string, w double")
        new = spark.createDataFrame([(1, "a", 2.0)], "id bigint, v string, w double")
        assert cdc.snapshot_diff(old, new, "id", compare_cols=["v"]).count() == 0
        d = cdc.snapshot_diff(old, new, "id").collect()
        assert [(r.id, r.change) for r in d] == [(1, "changed")]


class TestRrfFuse:
    def test_fusion_math(self, spark):
        a = spark.createDataFrame([(1, 1), (2, 2)], "doc bigint, rnk int")
        b = spark.createDataFrame([(2, 1), (3, 2)], "doc bigint, rnk int")
        out = {r.doc: (r.rrf_score, r.n_lists) for r in rank.rrf_fuse(
            [a, b], "doc").collect()}
        assert out[1] == (round(1 / 61, 9), 1)
        assert out[2] == (round(1 / 62 + 1 / 61, 9), 2)
        assert out[3] == (round(1 / 62, 9), 1)
        # doc 2 (in both lists) outranks doc 1 (top of one list)
        assert out[2][0] > out[1][0]

    def test_validation(self, spark):
        with pytest.raises(ValueError, match="non-empty"):
            rank.rrf_fuse([], "doc")
        a = spark.createDataFrame([(1, 1)], "doc bigint, rnk int")
        with pytest.raises(ValueError, match="k must be"):
            rank.rrf_fuse([a], "doc", k=-1)


class TestLeakageSafeSplit:
    def test_components_share_split(self, spark):
        from spark_pipeline_ops.operators import split as split_ops

        df = spark.createDataFrame([(i,) for i in range(1, 21)], "doc_id bigint")
        # chain 1-2-3 and pair 10-11; everything else singleton
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "src bigint, dst bigint"
        )
        out = split_ops.leakage_safe_split(
            df, "doc_id", edges, {"train": 0.5, "val": 0.25, "test": 0.25},
            salt="t",
        ).collect()
        by_id = {r.doc_id: (r.split_group, r.split) for r in out}
        assert by_id[1] == by_id[2] == by_id[3]   # whole chain together
        assert by_id[1][0] == 1                    # min-id representative
        assert by_id[10] == by_id[11]
        assert by_id[7][0] == 7                    # singleton fallback
        assert len(out) == 20

    def test_matches_hash_split_on_group(self, spark):
        from spark_pipeline_ops.operators import split as split_ops

        df = spark.createDataFrame([(i,) for i in range(1, 9)], "doc_id bigint")
        edges = spark.createDataFrame([(4, 5)], "src bigint, dst bigint")
        lk = {r.doc_id: r.split for r in split_ops.leakage_safe_split(
            df, "doc_id", edges, salt="s").collect()}
        # singleton rows must get exactly the plain hash_split label
        plain = {r.doc_id: r.split for r in split_ops.hash_split(
            df, "doc_id", salt="s").collect()}
        for i in (1, 2, 3, 6, 7, 8):
            assert lk[i] == plain[i]
        assert lk[4] == lk[5] == plain[4]  # comp rep = min id 4


class TestDistributionDrift:
    def test_identical_corpora_zero_drift(self, spark):
        from spark_pipeline_ops.operators import stats

        docs = spark.createDataFrame(
            [(1, "aa bb cc"), (2, "bb cc dd")], "doc_id bigint, text string"
        )
        r = stats.distribution_drift(docs, docs).collect()[0]
        assert (r.kl_old_new, r.kl_new_old, r.js, r.tv) == (0.0, 0.0, 0.0, 0.0)
        assert r.n_tokens_old == r.n_tokens_new == 6
        assert r.vocab == 4

    def test_known_drift_math(self, spark):
        import math

        from spark_pipeline_ops.operators import stats

        old = spark.createDataFrame([(1, "a a b")], "doc_id bigint, text string")
        new = spark.createDataFrame([(1, "a b b b")], "doc_id bigint, text string")
        r = stats.distribution_drift(old, new).collect()[0]
        # vocab {a,b}, alpha=0.5: p=(2.5/4, 1.5/4), q=(1.5/5, 3.5/5)
        p = [2.5 / 4, 1.5 / 4]
        q = [1.5 / 5, 3.5 / 5]
        kl = sum(pi * math.log(pi / qi) for pi, qi in zip(p, q))
        assert r.kl_old_new == round(kl, 6)
        assert r.tv == round(sum(abs(pi - qi) for pi, qi in zip(p, q)) / 2, 6)
        assert 0 < r.js < r.kl_old_new  # JS is the bounded symmetric one

    def test_alpha_validation(self, spark):
        from spark_pipeline_ops.operators import stats

        docs = spark.createDataFrame([(1, "a")], "doc_id bigint, text string")
        with pytest.raises(ValueError, match="alpha"):
            stats.distribution_drift(docs, docs, alpha=0.0)


class TestPsi:
    def test_identical_is_zero(self, spark):
        from spark_pipeline_ops.operators import stats

        df = spark.createDataFrame(
            [(float(i),) for i in range(100)], "x double"
        )
        r = stats.psi(df, df, "x", lo=0.0, hi=100.0, bins=10).collect()[0]
        assert r.psi == 0.0 and r.n_old == r.n_new == 100

    def test_shift_detected_and_nulls_dropped(self, spark):
        from spark_pipeline_ops.operators import stats

        old = spark.createDataFrame(
            [(float(i % 10),) for i in range(100)] + [(None,)], "x double"
        )
        new = spark.createDataFrame(
            [(float(i % 10) + 5.0,) for i in range(100)], "x double"
        )
        r = stats.psi(old, new, "x", lo=0.0, hi=10.0, bins=10).collect()[0]
        assert r.n_old == 100  # the NULL row dropped
        assert r.psi > 0.25   # half the mass moved out of [0,5)

    def test_overflow_underflow_buckets(self, spark):
        from spark_pipeline_ops.operators import stats

        old = spark.createDataFrame([(5.0,)] * 10, "x double")
        new = spark.createDataFrame(
            [(-1.0,)] * 5 + [(100.0,)] * 5, "x double"
        )
        r = stats.psi(old, new, "x", lo=0.0, hi=10.0, bins=2).collect()[0]
        assert r.psi > 1.0  # all mass left the grid

    def test_validation(self, spark):
        from spark_pipeline_ops.operators import stats

        df = spark.createDataFrame([(1.0,)], "x double")
        with pytest.raises(ValueError, match="bins"):
            stats.psi(df, df, "x", lo=0.0, hi=1.0, bins=0)
        with pytest.raises(ValueError, match="hi > lo"):
            stats.psi(df, df, "x", lo=1.0, hi=1.0)


class TestCdcDuckDifferential:
    """Randomized differential: the cdc operators vs their relational
    definitions executed by DuckDB on identical data."""

    def _to_duck(self, con, name, rows):
        import pandas as pd

        con.register(name, pd.DataFrame(rows, columns=["id", "v"]))

    def test_merge_and_diff_random(self, spark):
        import random

        import duckdb

        rng = random.Random(7)
        for trial in range(3):
            tgt = [(i, rng.choice("abc")) for i in rng.sample(range(30), 12)]
            # source: unique keys, some overlapping, some new, some deletes
            skeys = rng.sample(range(40), 10)
            src = [
                (k, rng.choice("xyz"), rng.random() < 0.3) for k in skeys
            ]
            t = spark.createDataFrame(tgt, "id bigint, v string")
            s = spark.createDataFrame(src, "id bigint, v string, d boolean")
            got = sorted(
                (r.id, r.v)
                for r in cdc.merge_upsert(t, s, "id", delete_col="d").collect()
            )
            con = duckdb.connect()
            import pandas as pd

            con.register("t", pd.DataFrame(tgt, columns=["id", "v"]))
            con.register(
                "s", pd.DataFrame(src, columns=["id", "v", "d"])
            )
            want = sorted(
                tuple(r)
                for r in con.execute(
                    "select id, v from t where not exists "
                    "(select 1 from s where s.id = t.id) "
                    "union all select id, v from s where not d"
                ).fetchall()
            )
            assert got == want, f"trial {trial}"
            # snapshot_diff vs its SQL definition on the same frames
            got_d = sorted(
                (r.id, r.change)
                for r in cdc.snapshot_diff(
                    t, s.filter(~F.col("d")).drop("d"), "id"
                ).collect()
            )
            want_d = sorted(
                tuple(r)
                for r in con.execute(
                    "with n as (select id, v from s where not d), "
                    "j as (select coalesce(t.id, n.id) as id, "
                    "case when t.id is null then 'added' "
                    "when n.id is null then 'removed' "
                    "when not (t.v is not distinct from n.v) then 'changed' "
                    "else 'unchanged' end as c "
                    "from t full outer join n on t.id = n.id) "
                    "select id, c from j where c <> 'unchanged'"
                ).fetchall()
            )
            assert got_d == want_d, f"diff trial {trial}"

    def test_cdc_log_random(self, spark):
        import random

        import duckdb
        import pandas as pd

        rng = random.Random(11)
        tgt = [(i, "base") for i in range(8)]
        log = []
        seq = 0
        for _ in range(40):
            seq += 1
            log.append(
                (
                    rng.randrange(12),
                    rng.choice(["p", "q", "r"]),
                    rng.choice(["I", "U", "U", "D"]),
                    seq,
                )
            )
        t = spark.createDataFrame(tgt, "id bigint, v string")
        lg = spark.createDataFrame(
            log, "id bigint, v string, op string, seq bigint"
        )
        got = sorted(
            (r.id, r.v)
            for r in cdc.apply_cdc_log(t, lg, "id", seq_col="seq").collect()
        )
        con = duckdb.connect()
        con.register("t", pd.DataFrame(tgt, columns=["id", "v"]))
        con.register(
            "lg", pd.DataFrame(log, columns=["id", "v", "op", "seq"])
        )
        want = sorted(
            tuple(r)
            for r in con.execute(
                "with latest as (select id, v, op from ("
                "select *, row_number() over (partition by id "
                "order by seq desc) as rn from lg) where rn = 1) "
                "select id, v from t where not exists "
                "(select 1 from latest l where l.id = t.id) "
                "union all select id, v from latest where op <> 'D'"
            ).fetchall()
        )
        assert got == want


class TestIvfDistributed:
    def test_deterministic_and_self_consistent(self, spark):
        from spark_pipeline_ops.operators import similarity

        rows = []
        for c, base in enumerate([0.0, 10.0, -10.0]):
            for i in range(6):
                rows.append(
                    (c * 100 + i, [base + 0.01 * i, base - 0.01 * i])
                )
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        a1, c1 = similarity.ivf_build_distributed(
            df, "vec_id", "embedding", n_clusters=3, iters=2, salt="t"
        )
        a2, c2 = similarity.ivf_build_distributed(
            df, "vec_id", "embedding", n_clusters=3, iters=2, salt="t"
        )
        g1 = {r.vec_id: r.ivf_cluster for r in a1.collect()}
        g2 = {r.vec_id: r.ivf_cluster for r in a2.collect()}
        assert g1 == g2 and c1 == c2  # engine-reproducible build
        assert set(g1.values()) <= set(range(len(c1)))
        # self-consistency: every vector's list IS its nearest centroid
        # (the returned centroids are the ones the final assignment used)
        vecs = {r[0]: r[1] for r in rows}
        for vid, cl in g1.items():
            d = [
                sum((float(x) - m) ** 2 for x, m in zip(vecs[vid], cc))
                for cc in c1
            ]
            assert d[cl] == min(d)

    def test_probe_returns_list_members(self, spark):
        from spark_pipeline_ops.operators import similarity

        rows = [(i, [float(i), float(-i)]) for i in range(12)]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        assigned, cents = similarity.ivf_build_distributed(
            df, "vec_id", "embedding", n_clusters=2, iters=2, salt="p"
        )
        got = similarity.ivf_topk(
            assigned, cents, "embedding", [11.0, -11.0], k=3, nprobe=1
        ).collect()
        # the probed list is the one whose centroid is nearest the
        # query; all results must come from that single list
        members = {r.vec_id: r.ivf_cluster for r in assigned.collect()}
        lists = {members[r.vec_id] for r in got}
        assert len(got) >= 1 and len(lists) == 1


class TestGroupedDrift:
    def test_group_absent_on_one_side_still_reports(self, spark):
        from spark_pipeline_ops.operators import stats

        # s2's counts are deliberately SKEWED: a uniform old
        # distribution would exactly match the empty side's
        # pure-smoothing uniform and legitimately report zero
        old = spark.createDataFrame(
            [("s1", "a a b"), ("s2", "x x x x x x y z")],
            "src string, text string",
        )
        new = spark.createDataFrame(
            [("s1", "a a b")], "src string, text string"
        )
        rows = {r.src: r for r in stats.grouped_drift(
            old, new, "src", "text").collect()}
        assert rows["s1"].tv == 0.0  # untouched group: zero drift
        assert rows["s2"].n_tokens_new == 0
        assert rows["s2"].tv > 0.3  # the turned-off source IS drift

    def test_matches_global_for_single_group(self, spark):
        from spark_pipeline_ops.operators import stats

        old = spark.createDataFrame(
            [("g", "a a b c"), ("g", "b c d")], "src string, text string"
        )
        new = spark.createDataFrame(
            [("g", "a b b"), ("g", "c d d e")], "src string, text string"
        )
        g = stats.grouped_drift(old, new, "src", "text").collect()[0]
        fl = stats.distribution_drift(old, new, "text").collect()[0]
        assert (g.kl_old_new, g.kl_new_old, g.js, g.tv) == (
            fl.kl_old_new, fl.kl_new_old, fl.js, fl.tv,
        )


class TestGroupedDriftNullGroups:
    def test_null_group_is_a_reported_slice(self, spark):
        from spark_pipeline_ops.operators import stats

        # unattributed (NULL-source) docs are a legitimate slice: the
        # plain equi-joins used to split its counts across rows and
        # then drop it entirely at the totals join
        old = spark.createDataFrame(
            [("s1", "a a b"), (None, "x x x x y z")],
            "src string, text string",
        )
        new = spark.createDataFrame(
            [("s1", "a a b"), (None, "x y")], "src string, text string"
        )
        rows = {r.src: r for r in stats.grouped_drift(
            old, new, "src", "text").collect()}
        assert set(rows) == {"s1", None}
        assert rows["s1"].tv == 0.0
        nul = rows[None]
        assert nul.n_tokens_old == 6 and nul.n_tokens_new == 2
        assert nul.tv > 0.0  # the skewed->flat shift reports
