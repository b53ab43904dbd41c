"""As-of join: distributed merge formulation (union + keyed window).

Semantics pinned against the DuckDB ASOF JOIN contract (the entry query
`asof_join` is oracle-checked at sf0.01; these tests pin the corners the
random tables don't hit: strict bounds, forward direction, no-match
nulls, null keys/timestamps, ties, multi-key)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from spark_pipeline_ops.operators import joins


def ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def trades(spark):
    return spark.createDataFrame(
        [
            (1, "A", ts("2024-01-01T10:00:00"), 100.0),
            (2, "A", ts("2024-01-01T10:00:05"), 101.0),
            (3, "B", ts("2024-01-01T10:00:03"), 50.0),
            (4, "C", ts("2024-01-01T10:00:01"), 7.0),  # no quotes for C
            (5, None, ts("2024-01-01T10:00:02"), 1.0),  # null key
            (6, "A", None, 2.0),  # null ts
        ],
        "trade_id bigint, sym string, t timestamp, px double",
    )


@pytest.fixture(scope="module")
def quotes(spark):
    return spark.createDataFrame(
        [
            ("A", ts("2024-01-01T09:59:58"), 99.5),
            ("A", ts("2024-01-01T10:00:00"), 100.5),  # == trade 1's ts
            ("A", ts("2024-01-01T10:00:04"), 100.9),
            ("B", ts("2024-01-01T10:00:02"), 49.9),
            ("B", None, 48.0),  # null ts: never matches
            (None, ts("2024-01-01T09:00:00"), 0.0),  # null key: never matches
        ],
        "sym string, qt timestamp, bid double",
    )


class TestAsofBackward:
    def test_basic_inclusive(self, trades, quotes):
        out = joins.asof_join(
            trades, quotes, "sym", "t", "qt", ["qt", "bid"]
        )
        got = {r.trade_id: (r.bid, r.qt) for r in out.collect()}
        assert got[1] == (100.5, ts("2024-01-01T10:00:00"))  # equal ts matches
        assert got[2] == (100.9, ts("2024-01-01T10:00:04"))
        assert got[3] == (49.9, ts("2024-01-01T10:00:02"))
        assert got[4] == (None, None)  # key with no right rows
        assert got[5] == (None, None)  # null key never matches
        assert got[6] == (None, None)  # null left ts never matches

    def test_strict_bound(self, trades, quotes):
        out = joins.asof_join(
            trades, quotes, "sym", "t", "qt", ["bid"], allow_exact=False
        )
        got = {r.trade_id: r.bid for r in out.collect()}
        assert got[1] == 99.5  # the 10:00:00 quote is excluded now
        assert got[2] == 100.9

    def test_left_row_count_preserved(self, trades, quotes):
        out = joins.asof_join(trades, quotes, "sym", "t", "qt", ["bid"])
        assert out.count() == trades.count()

    def test_no_join_explosion_in_plan(self, trades, quotes):
        out = joins.asof_join(trades, quotes, "sym", "t", "qt", ["bid"])
        plan = out._jdf.queryExecution().executedPlan().toString()
        for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
            assert bad not in plan
        assert "Window" in plan


class TestAsofForward:
    def test_basic(self, trades, quotes):
        out = joins.asof_join(
            trades, quotes, "sym", "t", "qt", ["bid"], direction="forward"
        )
        got = {r.trade_id: r.bid for r in out.collect()}
        assert got[1] == 100.5  # equal ts inclusive
        assert got[2] is None  # nothing at-or-after 10:00:05 for A
        assert got[3] is None
        assert got[6] is None

    def test_forward_strict(self, trades, quotes):
        out = joins.asof_join(
            trades,
            quotes,
            "sym",
            "t",
            "qt",
            ["bid"],
            direction="forward",
            allow_exact=False,
        )
        got = {r.trade_id: r.bid for r in out.collect()}
        assert got[1] == 100.9  # skips the equal-ts 100.5


class TestAsofShapes:
    def test_renamed_key_pairs_and_prefix(self, spark):
        left = spark.createDataFrame(
            [(1, 10, ts("2024-01-01T00:01:00"))], "id bigint, uid bigint, t timestamp"
        )
        right = spark.createDataFrame(
            [(10, ts("2024-01-01T00:00:00"), "x")],
            "cust bigint, ot timestamp, v string",
        )
        out = joins.asof_join(
            left, right, [("uid", "cust")], "t", "ot", ["v"], prefix="m_"
        )
        r = out.collect()[0]
        assert r.m_v == "x" and "v" not in out.columns

    def test_multi_key(self, spark):
        left = spark.createDataFrame(
            [(1, "a", 1, ts("2024-01-01T00:01:00")), (2, "a", 2, ts("2024-01-01T00:01:00"))],
            "id bigint, k1 string, k2 bigint, t timestamp",
        )
        right = spark.createDataFrame(
            [("a", 1, ts("2024-01-01T00:00:00"), 7.0)],
            "k1 string, k2 bigint, rt timestamp, v double",
        )
        out = joins.asof_join(left, right, ["k1", "k2"], "t", "rt", ["v"])
        got = {r.id: r.v for r in out.collect()}
        assert got == {1: 7.0, 2: None}

    def test_tiebreak_deterministic(self, spark):
        left = spark.createDataFrame(
            [(1, "a", ts("2024-01-01T00:01:00"))], "id bigint, k string, t timestamp"
        )
        right = spark.createDataFrame(
            [
                ("a", ts("2024-01-01T00:00:00"), 1, "low"),
                ("a", ts("2024-01-01T00:00:00"), 9, "high"),
            ],
            "k string, rt timestamp, seq bigint, v string",
        )
        out = joins.asof_join(
            left, right, "k", "t", "rt", ["v"], tiebreak=["seq"]
        )
        # the LAST row in ascending tiebreak order wins
        assert out.collect()[0].v == "high"

    def test_bad_direction(self, spark, trades=None):
        df = spark.range(1).withColumn("t", F.current_timestamp())
        with pytest.raises(ValueError, match="backward|forward"):
            joins.asof_join(df, df, "id", "t", "t", ["t"], direction="nearest")


class TestRangeJoin:
    def test_basic_point_in_interval(self, spark):
        pts = spark.createDataFrame(
            [
                (1, "a", ts("2024-01-01T10:00:30")),
                (2, "a", ts("2024-01-01T11:00:00")),  # outside
                (3, "b", ts("2024-01-01T10:00:30")),  # wrong key
            ],
            "id bigint, k string, t timestamp",
        )
        iv = spark.createDataFrame(
            [("a", ts("2024-01-01T10:00:00"), ts("2024-01-01T10:01:00"), "w1")],
            "k string, s timestamp, e timestamp, label string",
        )
        out = joins.range_join(pts, iv, "t", "s", "e", ["label"], on="k")
        got = [(r.id, r.label) for r in out.collect()]
        assert got == [(1, "w1")]

    def test_half_open_bounds(self, spark):
        pts = spark.createDataFrame(
            [(1, ts("2024-01-01T10:00:00")), (2, ts("2024-01-01T10:01:00"))],
            "id bigint, t timestamp",
        )
        iv = spark.createDataFrame(
            [(ts("2024-01-01T10:00:00"), ts("2024-01-01T10:01:00"), "w")],
            "s timestamp, e timestamp, label string",
        )
        out = joins.range_join(pts, iv, "t", "s", "e", ["label"])
        got = sorted(r.id for r in out.collect())
        assert got == [1]  # start inclusive, end exclusive

    def test_interval_spanning_many_buckets(self, spark):
        # 1-second buckets, 2-minute interval: the explode must cover
        # every bucket so a point deep inside still matches exactly once
        pts = spark.createDataFrame(
            [(1, ts("2024-01-01T10:01:37"))], "id bigint, t timestamp"
        )
        iv = spark.createDataFrame(
            [(ts("2024-01-01T10:00:00"), ts("2024-01-01T10:02:00"), "w")],
            "s timestamp, e timestamp, label string",
        )
        out = joins.range_join(
            pts, iv, "t", "s", "e", ["label"], bucket_seconds=1.0
        )
        assert [(r.id, r.label) for r in out.collect()] == [(1, "w")]

    def test_one_to_many_and_null_intervals(self, spark):
        pts = spark.createDataFrame(
            [(1, "a", ts("2024-01-01T10:00:30"))], "id bigint, k string, t timestamp"
        )
        iv = spark.createDataFrame(
            [
                ("a", ts("2024-01-01T10:00:00"), ts("2024-01-01T10:01:00"), "w1"),
                ("a", ts("2024-01-01T10:00:20"), ts("2024-01-01T10:00:40"), "w2"),
                ("a", None, ts("2024-01-01T10:01:00"), "null_s"),
                ("a", ts("2024-01-01T10:01:00"), ts("2024-01-01T10:00:00"), "empty"),
                (None, ts("2024-01-01T10:00:00"), ts("2024-01-01T10:01:00"), "null_k"),
            ],
            "k string, s timestamp, e timestamp, label string",
        )
        out = joins.range_join(pts, iv, "t", "s", "e", ["label"], on="k")
        assert sorted(r.label for r in out.collect()) == ["w1", "w2"]

    def test_no_nested_loop_in_plan(self, spark):
        pts = spark.createDataFrame(
            [(1, "a", ts("2024-01-01T10:00:30"))], "id bigint, k string, t timestamp"
        )
        iv = spark.createDataFrame(
            [("a", ts("2024-01-01T10:00:00"), ts("2024-01-01T10:01:00"), "w")],
            "k string, s timestamp, e timestamp, label string",
        )
        out = joins.range_join(pts, iv, "t", "s", "e", ["label"], on="k")
        plan = out._jdf.queryExecution().executedPlan().toString()
        for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
            assert bad not in plan

    def test_random_differential(self, spark):
        import random

        import duckdb
        import pandas as pd

        rng = random.Random(11)
        prows = [
            (i, rng.randrange(4), dt.datetime(2024, 1, 1) + dt.timedelta(seconds=rng.randrange(5000)))
            for i in range(200)
        ]
        irows = []
        for i in range(40):
            s = dt.datetime(2024, 1, 1) + dt.timedelta(seconds=rng.randrange(5000))
            irows.append((rng.randrange(4), s, s + dt.timedelta(seconds=rng.randrange(1, 600)), i))
        pts = spark.createDataFrame(prows, "id bigint, k bigint, t timestamp")
        iv = spark.createDataFrame(irows, "k bigint, s timestamp, e timestamp, iid bigint")
        out = joins.range_join(
            pts, iv, "t", "s", "e", ["iid"], on="k", bucket_seconds=120.0
        )
        got = sorted((r.id, r.iid) for r in out.collect())

        con = duckdb.connect()
        con.register("p", pd.DataFrame(prows, columns=["id", "k", "t"]))
        con.register("i", pd.DataFrame(irows, columns=["k", "s", "e", "iid"]))
        want = sorted(
            tuple(row)
            for row in con.execute(
                "select p.id, i.iid from p join i on p.k = i.k "
                "and p.t >= i.s and p.t < i.e"
            ).fetchall()
        )
        assert got == want


class TestAsofOracleParity:
    """Differential vs DuckDB ASOF LEFT JOIN on a random table — the
    same check the driver runs on the entry query, kept here so a
    regression is caught before the driver sees it."""

    def test_random_differential(self, spark):
        import random

        import duckdb

        rng = random.Random(7)
        lrows = [
            (i, rng.randrange(5), dt.datetime(2024, 1, 1) + dt.timedelta(seconds=rng.randrange(10000)))
            for i in range(300)
        ]
        rrows = [
            (rng.randrange(5), dt.datetime(2024, 1, 1) + dt.timedelta(seconds=rng.randrange(10000)), float(i))
            for i in range(80)
        ]
        left = spark.createDataFrame(lrows, "id bigint, k bigint, t timestamp")
        right = spark.createDataFrame(rrows, "k bigint, rt timestamp, v double")
        out = joins.asof_join(left, right, "k", "t", "rt", ["rt"])
        got = {r.id: r.rt for r in out.collect()}

        con = duckdb.connect()
        con.register("l", __import__("pandas").DataFrame(lrows, columns=["id", "k", "t"]))
        con.register("r", __import__("pandas").DataFrame(rrows, columns=["k", "rt", "v"]))
        want = {
            row[0]: row[1]
            for row in con.execute(
                "select l.id, r.rt from l asof left join r "
                "on l.k = r.k and l.t >= r.rt"
            ).fetchall()
        }
        assert got == want


class TestSaltedJoin:
    def _tables(self, spark):
        # skewed left: key 1 holds half the rows
        left = spark.createDataFrame(
            [(i, 1 if i % 2 == 0 else i % 7) for i in range(400)],
            "id long, k long",
        )
        right = spark.createDataFrame(
            [(k, f"dim{k}") for k in range(7)], "k long, name string"
        )
        return left, right

    def test_inner_matches_plain_join(self, spark):
        left, right = self._tables(spark)
        plain = left.join(right, "k", "inner").select("id", "k", "name")
        salted = joins.salted_join(
            left, right, "k", salts=8, salt_on=["id"]
        ).select("id", "k", "name")
        assert salted.exceptAll(plain).count() == 0
        assert plain.exceptAll(salted).count() == 0

    def test_left_join_preserves_unmatched(self, spark):
        left, right = self._tables(spark)
        lonely = spark.createDataFrame([(9999, 99)], "id long, k long")
        left2 = left.union(lonely)
        out = joins.salted_join(
            left2, right, "k", how="left", salts=4, salt_on=["id"]
        )
        assert out.count() == 401
        row = out.filter(F.col("id") == 9999).collect()[0]
        assert row.name is None

    def test_renamed_keys_and_anti(self, spark):
        left = spark.createDataFrame([(1, 10), (2, 20)], "id long, lk long")
        right = spark.createDataFrame([(10, "x")], "rk long, v string")
        semi = joins.salted_join(
            left, right, [("lk", "rk")], how="left_semi", salts=2, salt_on=["id"]
        )
        assert [r.id for r in semi.collect()] == [1]
        anti = joins.salted_join(
            left, right, [("lk", "rk")], how="left_anti", salts=2, salt_on=["id"]
        )
        assert [r.id for r in anti.collect()] == [2]

    def test_rejects_right_joins_and_tiny_salts(self, spark):
        left, right = self._tables(spark)
        with pytest.raises(ValueError):
            joins.salted_join(left, right, "k", how="full")
        with pytest.raises(ValueError):
            joins.salted_join(left, right, "k", salts=1)

    def test_salt_widens_key_distribution(self, spark):
        left, right = self._tables(spark)
        out = joins.salted_join(left, right, "k", salts=8, salt_on=["id"])
        # pre-drop plan joins on (salt, k): the hot key's rows hash to
        # multiple (k, salt) combinations — observable via the salted
        # left side itself
        l = left.withColumn(
            "__salt", F.pmod(F.xxhash64(F.col("id")), F.lit(8)).cast("int")
        )
        n_sub = (
            l.filter(F.col("k") == 1).select("__salt").distinct().count()
        )
        assert n_sub > 1  # hot key split across sub-keys
        assert out.count() == left.join(right, "k").count()


class TestBloomPrefilterJoin:
    def _tables(self, spark):
        big = spark.createDataFrame(
            [(i, i % 100) for i in range(2000)], "id long, k long"
        )
        # selective small side: only 7 of the 100 key values match
        small = spark.createDataFrame(
            [(k, f"dim{k}") for k in (3, 17, 31, 45, 59, 73, 97)],
            "k long, name string",
        )
        return big, small

    def test_inner_exactly_matches_plain_join(self, spark):
        big, small = self._tables(spark)
        plain = big.join(small, "k", "inner").select("id", "k", "name")
        bloomed = joins.bloom_prefilter_join(big, small, "k").select(
            "id", "k", "name"
        )
        assert bloomed.exceptAll(plain).count() == 0
        assert plain.exceptAll(bloomed).count() == 0
        assert bloomed.count() == 140  # 2000/100 per key * 7 keys

    def test_renamed_keys(self, spark):
        big = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "id long, bk long")
        small = spark.createDataFrame([(10, "x"), (30, "y")], "sk long, v string")
        out = joins.bloom_prefilter_join(big, small, ("bk", "sk"))
        assert sorted((r.id, r.v) for r in out.collect()) == [(1, "x"), (3, "y")]

    def test_prefilter_reduces_rows_before_join(self, spark):
        # the bloom pass itself (pre-join) must keep all matches and,
        # at 1 MiB / 7 keys, essentially nothing else
        big, small = self._tables(spark)
        bloomed = joins.bloom_prefilter_join(big, small, "k")
        # exact result equality already proven; here pin the plan shape:
        # the filter sits under the join (ArrowEvalPython before exchange)
        plan = bloomed._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" in plan

    def test_rejects_outer_and_oversized_build(self, spark):
        big, small = self._tables(spark)
        with pytest.raises(ValueError, match="inner/semi"):
            joins.bloom_prefilter_join(big, small, "k", how="left")
        with pytest.raises(ValueError, match="build bound"):
            joins.bloom_prefilter_join(big, small, "k", max_build_rows=3)

    def test_null_keys_drop_like_plain_inner(self, spark):
        big = spark.createDataFrame(
            [(1, 10), (2, None), (3, 30)], "id long, k long"
        )
        small = spark.createDataFrame(
            [(10, "x"), (None, "n")], "k long, v string"
        )
        plain = big.join(small, big["k"] == small["k"], "inner")
        out = joins.bloom_prefilter_join(big, small, "k")
        assert out.count() == plain.count() == 1


class TestSkewReport:
    def test_counts_shares_and_skew(self, spark):
        from spark_pipeline_ops.operators import stats

        rows = [("hot",)] * 80 + [("warm",)] * 15 + [("cold",)] * 5
        df = spark.createDataFrame(rows, "k string").repartition(4)
        rep = stats.skew_report(df, "k", k=2).collect()
        assert [r.key for r in rep] == ["hot", "warm"]
        top = rep[0]
        assert top.n == 80 and top.total_rows == 100 and top.distinct_keys == 3
        assert abs(top.share - 0.8) < 1e-9
        # fair share is 100/3 = 33.33 rows -> hot is 2.4x
        assert top.skew_vs_uniform == 2.4

    def test_tie_break_is_deterministic(self, spark):
        from spark_pipeline_ops.operators import stats

        df = spark.createDataFrame(
            [("b",), ("a",), ("c",), ("a",), ("b",), ("c",)], "k string"
        )
        rep = stats.skew_report(df, "k", k=3).collect()
        assert [r.key for r in rep] == ["a", "b", "c"]


class TestBloomReviewFindings:
    """Regression pins for the round-7 adversarial review findings."""

    def test_mismatched_key_widths_hash_coerced(self, spark):
        # xxhash64 is type-sensitive: int vs long of the same value hash
        # differently — without coercion the prefilter dropped ALL
        # matches (confirmed failing before the fix)
        big = spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "id long, k int"
        )
        small = spark.createDataFrame([(10,), (30,)], "k long")
        plain = big.join(small, big["k"] == small["k"], "inner")
        out = joins.bloom_prefilter_join(big, small, "k")
        assert out.count() == plain.count() == 2

    def test_int_double_keys_coerced(self, spark):
        big = spark.createDataFrame([(1, 10), (2, 20)], "id long, k int")
        small = spark.createDataFrame([(10.0,), (99.5,)], "k double")
        out = joins.bloom_prefilter_join(big, small, "k")
        assert [r.id for r in out.collect()] == [1]

    def test_uncoercible_key_types_raise(self, spark):
        big = spark.createDataFrame([(1, "10")], "id long, k string")
        small = spark.createDataFrame([(10,)], "k long")
        with pytest.raises(ValueError, match="key types differ"):
            joins.bloom_prefilter_join(big, small, "k")

    def test_null_small_keys_not_inserted(self, spark):
        # a NULL small key hashes to the seed pattern; before the fix it
        # was inserted and admitted big-side NULLs through the prefilter
        big = spark.createDataFrame([(1, None), (2, 20)], "id long, k long")
        small = spark.createDataFrame([(None,), (20,)], "k long")
        out = joins.bloom_prefilter_join(big, small, "k")
        assert [r.id for r in out.collect()] == [2]


class TestBloomRandomDifferential:
    def test_matches_plain_join_under_heavy_false_positives(self, spark):
        # tiny bitmap (256 bits, 12 keys, k=3) => high FP rate: the
        # prefilter passes junk and the real join must remove ALL of it
        import random as _random

        rnd = _random.Random(3)
        for trial in range(3):
            vals_big = [rnd.randrange(0, 50) for _ in range(300)]
            vals_small = rnd.sample(range(0, 50), 12)
            big = spark.createDataFrame(
                [(i, v) for i, v in enumerate(vals_big)], "id long, k long"
            )
            small = spark.createDataFrame(
                [(v, f"d{v}") for v in vals_small], "k long, v string"
            )
            plain = big.join(small, big["k"] == small["k"]).select("id", "v")
            bl = joins.bloom_prefilter_join(
                big, small, "k", num_bits=256, num_hashes=3
            ).select("id", "v")
            assert bl.exceptAll(plain).count() == 0, trial
            assert plain.exceptAll(bl).count() == 0, trial
