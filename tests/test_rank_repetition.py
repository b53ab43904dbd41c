"""Round-4 operators: grouped top-k (rank.py), line-repetition stats,
URL/domain extraction (text.py), and the range_join timestamp-type
regression (joins accept TIMESTAMP_NTZ inputs, which is how newer Spark
builds surface the testdata's TIMESTAMP(NANOS) parquet)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from spark_pipeline_ops.operators import joins, rank, text


class TestTopKPerGroup:
    @pytest.fixture(scope="class")
    def df(self, spark):
        rows = [
            ("a", 1, 10.0),
            ("a", 2, 30.0),
            ("a", 3, 20.0),
            ("a", 4, 30.0),
            ("b", 5, 5.0),
            ("b", 6, None),
        ]
        return spark.createDataFrame(rows, "g string, id int, v double")

    def test_row_number_exact_k(self, df):
        out = rank.top_k_per_group(
            df, "g", [F.col("v").desc_nulls_last(), F.col("id").asc()], 2
        )
        got = {(r.g, r.id) for r in out.collect()}
        # group a: v=30 twice, tie broken by id -> ids 2,4; group b: all
        assert got == {("a", 2), ("a", 4), ("b", 5), ("b", 6)}

    def test_rank_keeps_boundary_ties(self, df):
        out = rank.top_k_per_group(
            df.filter(F.col("v").isNotNull()),
            "g",
            [F.col("v").desc()],
            1,
            mode="rank",
        )
        got = {(r.g, r.id) for r in out.collect()}
        # both v=30 rows rank 1 — rank mode keeps the tie
        assert got == {("a", 2), ("a", 4), ("b", 5)}

    def test_rank_col_exposed(self, df):
        out = rank.top_k_per_group(
            df, "g", [F.col("v").desc_nulls_last(), F.col("id")], 3,
            rank_col="rk",
        )
        rks = {r.id: r.rk for r in out.collect()}
        assert rks[2] == 1 and rks[4] == 2 and rks[3] == 3

    def test_bad_args(self, df):
        with pytest.raises(ValueError):
            rank.top_k_per_group(df, "g", "v", 0)
        with pytest.raises(ValueError):
            rank.top_k_per_group(df, "g", "v", 1, mode="ntile")

    def test_partial_topk_before_exchange(self, df):
        # row_number under <=k filter should plan a WindowGroupLimit
        # (partial per-partition top-k before the shuffle)
        out = rank.top_k_per_group(
            df, "g", [F.col("v").desc_nulls_last(), F.col("id")], 2
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan


class TestRepetitionStats:
    def _one(self, spark, s):
        df = spark.createDataFrame([(s,)], "t string")
        return df.select(text.repetition_stats("t").alias("r")).collect()[0].r

    def test_no_repeats(self, spark):
        r = self._one(spark, "alpha\nbeta\ngamma")
        assert r.n_lines == 3
        assert r.dup_line_frac == 0.0
        assert r.dup_line_char_frac == 0.0

    def test_duplicate_lines(self, spark):
        # 4 lines, "xx" appears 3 times -> 2 repeats of 2 chars each;
        # chars = 2+2+2+4 = 10, repeat chars = 4
        r = self._one(spark, "xx\nxx\nxx\nyyyy")
        assert r.n_lines == 4
        assert r.dup_line_frac == pytest.approx(0.5)
        assert r.dup_line_char_frac == pytest.approx(0.4)

    def test_blank_and_whitespace_lines_dropped(self, spark):
        r = self._one(spark, "a\n\n   \na")
        assert r.n_lines == 2
        assert r.dup_line_frac == pytest.approx(0.5)

    def test_empty_text(self, spark):
        r = self._one(spark, "")
        assert r.n_lines == 0
        assert r.dup_line_frac == 0.0
        assert r.dup_line_char_frac == 0.0


class TestDomains:
    def test_url_domains_lowercased_in_order(self, spark):
        df = spark.createDataFrame(
            [("see https://A.Example.org/x and HTTP://b.example.net, done",)],
            "t string",
        )
        got = df.select(text.url_domains("t").alias("d")).collect()[0].d
        # trailing ',' is not a host char; path stripped; scheme may be
        # any case
        assert got == ["a.example.org", "b.example.net"]

    def test_no_urls(self, spark):
        df = spark.createDataFrame([("plain text",)], "t string")
        assert df.select(text.url_domains("t").alias("d")).collect()[0].d == []

    def test_domain_counts(self, spark):
        rows = [
            (1, "x https://a.org/1 y https://a.org/2"),
            (2, "z http://a.org/3 w https://b.net/"),
        ]
        df = spark.createDataFrame(rows, "id int, t string")
        got = {
            r.domain: (r.n_urls, r.n_docs)
            for r in text.domain_counts(df, "id", "t").collect()
        }
        assert got == {"a.org": (3, 2), "b.net": (1, 1)}


class TestRangeJoinTimestampTypes:
    def test_ntz_timestamps(self, spark):
        # regression: TIMESTAMP_NTZ cannot cast straight to DOUBLE —
        # range_join must route timestamp-like columns through an epoch
        # conversion (round-3 driver failure on the natively-read NANOS
        # testdata)
        t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
        pts = spark.createDataFrame(
            [(m, t0 + dt.timedelta(minutes=m)) for m in (0, 2, 7)],
            "pid int, ts timestamp_ntz",
        )
        iv = spark.createDataFrame(
            [(100, t0, t0 + dt.timedelta(minutes=5))],
            "iid int, s timestamp_ntz, e timestamp_ntz",
        )
        out = joins.range_join(
            pts, iv, "ts", "s", "e", ["iid"], bucket_seconds=60.0
        )
        got = sorted((r.pid, r.iid) for r in out.collect())
        # half-open [s, e): minutes 0 and 2 match, 7 does not
        assert got == [(0, 100), (2, 100)]

    def test_numeric_ordering_still_works(self, spark):
        pts = spark.createDataFrame([(1, 5.0), (2, 99.0)], "pid int, ts double")
        iv = spark.createDataFrame([(7, 0.0, 10.0)], "iid int, s double, e double")
        out = joins.range_join(
            pts, iv, "ts", "s", "e", ["iid"], bucket_seconds=10.0
        )
        assert [(r.pid, r.iid) for r in out.collect()] == [(1, 7)]


class TestZorder:
    def test_key_interleaves_bits(self, spark):
        from spark_pipeline_ops.operators import layout

        df = spark.createDataFrame([(1, 0), (0, 1), (3, 3)], "x long, y long")
        got = [
            r.z
            for r in df.select(
                layout.zorder_key(["x", "y"], bits=2).alias("z")
            ).collect()
        ]
        # bit i of dim j -> position i*2+j: (1,0)->1, (0,1)->2, (3,3)->15
        assert got == [1, 2, 15]

    def test_sql_twin_matches(self, spark):
        import duckdb

        from spark_pipeline_ops.operators import layout

        rows = [(a, b) for a in range(8) for b in range(8)]
        df = spark.createDataFrame(rows, "x long, y long")
        s = sorted(
            r.z
            for r in df.select(
                layout.zorder_key(["x", "y"], bits=4).alias("z")
            ).collect()
        )
        expr = layout.zorder_key_sql(["x", "y"], bits=4)
        d = sorted(
            v[0]
            for v in duckdb.sql(
                "select "
                + expr
                + " from (select unnest(range(8)) as x) a, "
                "(select unnest(range(8)) as y) b"
            ).fetchall()
        )
        assert s == d

    def test_mask_wraps_out_of_range(self, spark):
        from spark_pipeline_ops.operators import layout

        df = spark.createDataFrame([(5 + 16,)], "x long")
        got = df.select(layout.zorder_key(["x"], bits=4).alias("z")).collect()
        assert got[0].z == 5

    def test_cluster_sorts_within_range_partitions(self, spark):
        from spark_pipeline_ops.operators import layout

        rows = [(i % 7, (i * 3) % 11) for i in range(200)]
        df = spark.createDataFrame(rows, "x long, y long")
        out = layout.cluster_by_zorder(
            df, ["x", "y"], bits=4, num_partitions=4, key_col="zk"
        )
        # partitions hold disjoint, internally-sorted key ranges
        parts = out.select("zk").rdd.glom().collect()
        ranges = []
        for p in parts:
            ks = [r.zk for r in p]
            assert ks == sorted(ks)
            if ks:
                ranges.append((ks[0], ks[-1]))
        ranges.sort()
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 <= lo2

    def test_bad_args(self, spark):
        from spark_pipeline_ops.operators import layout

        with pytest.raises(ValueError):
            layout.zorder_key([], bits=4)
        with pytest.raises(ValueError):
            layout.zorder_key(["a", "b"], bits=32)


class TestUnigramLM:
    def test_hand_computed_scores(self, spark):
        import math

        df = spark.createDataFrame([(1, "a a b"), (2, "c")], "id int, t string")
        out = {
            r.id: r
            for r in text.unigram_lm_score(
                df, "id", "t", vocab_size=2
            ).collect()
        }
        # corpus: a:2 b:1 c:1, total 4; top-2 vocab = a, b (tie b/c broken
        # by token asc) -> c is OOV with p = 1/(4+1)
        exp1 = round((2 * math.log(2 / 4) + math.log(1 / 4)) / 3, 6)
        exp2 = round(math.log(1 / 5), 6)
        assert out[1].avg_logp == pytest.approx(exp1)
        assert out[2].avg_logp == pytest.approx(exp2)
        assert out[1].n_tokens == 3 and out[2].n_tokens == 1
        assert out[1].ppl == pytest.approx(round(math.exp(-exp1), 4))

    def test_empty_doc_absent(self, spark):
        df = spark.createDataFrame([(1, "a"), (2, "   ")], "id int, t string")
        got = {r.id for r in text.unigram_lm_score(df, "id", "t").collect()}
        assert got == {1}


class TestBigramLM:
    def test_hand_computed_interpolated_score(self, spark):
        import math

        df = spark.createDataFrame([(1, "a b a b"), (2, "b a")], "id int, t string")
        out = {
            r.id: r for r in text.bigram_lm_score(df, "id", "t").collect()
        }
        # bigram stream: doc1 (a,b) (b,a) (a,b); doc2 (b,a)
        # c12: (a,b)=2 (b,a)=2; c1: a=2 b=2; tf2 over stream: a=2 b=2; N=4
        p = 0.75 * 2 / 2 + 0.25 * 2 / 4  # every pair: 0.875
        exp = round(math.log(p), 6)
        assert out[1].avg_logp == pytest.approx(exp)
        assert out[1].n_bigrams == 3 and out[2].n_bigrams == 1
        assert out[1].ppl == pytest.approx(round(math.exp(-exp), 4))

    def test_word_order_matters(self, spark):
        # same token multiset, scrambled order: unigram score identical,
        # bigram score lower — the signal this operator adds
        corpus = [(i, "the cat sat on the mat") for i in range(10)]
        corpus.append((99, "mat the on sat cat the"))
        df = spark.createDataFrame(corpus, "id int, t string")
        uni = {r.id: r.avg_logp for r in text.unigram_lm_score(df, "id", "t").collect()}
        big = {r.id: r.avg_logp for r in text.bigram_lm_score(df, "id", "t").collect()}
        assert uni[99] == uni[0]
        assert big[99] < big[0]

    def test_short_docs_absent(self, spark):
        df = spark.createDataFrame(
            [(1, "a b"), (2, "one"), (3, "  ")], "id int, t string"
        )
        got = {r.id for r in text.bigram_lm_score(df, "id", "t").collect()}
        assert got == {1}


class TestBM25:
    def test_hand_computed_scores(self, spark):
        import math

        df = spark.createDataFrame(
            [(1, "x x y"), (2, "y z"), (3, "q")], "id int, t string"
        )
        out = {
            r.id: r.score
            for r in text.bm25_scores(df, "id", "t", ("x", "y")).collect()
        }
        k1, b = 1.2, 0.75
        n, avgdl = 3, (3 + 2 + 1) / 3.0

        def term(tf, dfreq, dl):
            idf = math.log(1 + (n - dfreq + 0.5) / (dfreq + 0.5))
            return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

        assert set(out) == {1, 2}  # doc 3 has no query terms
        assert out[1] == pytest.approx(
            round(term(2, 1, 3) + term(1, 2, 3), 6), abs=2e-6
        )
        assert out[2] == pytest.approx(round(term(1, 2, 2), 6), abs=2e-6)

    def test_empty_query_raises(self, spark):
        df = spark.createDataFrame([(1, "x")], "id int, t string")
        with pytest.raises(ValueError):
            text.bm25_scores(df, "id", "t", ())


class TestIncrementalMinhash:
    def test_new_batch_matches_index(self, spark):
        from spark_pipeline_ops.operators import dedup

        corpus = [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "completely different content about spark partitions and shuffles"),
            (3, "a third unrelated document mentioning parquet footers and stats"),
        ]
        base = spark.createDataFrame(corpus, "id long, t string")
        idx = dedup.minhash_index(base, "id", "t", num_perm=32, mode="word", n=2)
        new = spark.createDataFrame(
            [
                # near-copy of doc 1 (one word appended)
                (101, "the quick brown fox jumps over the lazy dog again and again today"),
                # unrelated
                (102, "nothing shared with anything in the corpus whatsoever truly"),
            ],
            "id long, t string",
        )
        pairs = dedup.minhash_dup_pairs_against(
            new, idx, "id", "t",
            num_perm=32, bands=8, mode="word", n=2, threshold=0.5,
        ).collect()
        got = {(r.new_id, r.index_id) for r in pairs}
        assert (101, 1) in got
        assert all(nid != 102 for nid, _ in got)
        for r in pairs:
            assert 0.5 <= r.jaccard <= 1.0

    def test_identical_ids_not_self_matched(self, spark):
        from spark_pipeline_ops.operators import dedup

        df = spark.createDataFrame(
            [(1, "same text body for the self match exclusion test case here")],
            "id long, t string",
        )
        idx = dedup.minhash_index(df, "id", "t", num_perm=32, mode="word", n=2)
        pairs = dedup.minhash_dup_pairs_against(
            df, idx, "id", "t", num_perm=32, bands=8, mode="word", n=2
        ).collect()
        assert pairs == []

    def test_indivisible_bands_raise(self, spark):
        from spark_pipeline_ops.operators import dedup

        df = spark.createDataFrame([(1, "some text")], "id long, t string")
        with pytest.raises(ValueError, match="multiple of"):
            dedup.minhash_dup_pairs(df, "id", "t", num_perm=32, bands=7)
        idx = dedup.minhash_index(df, "id", "t", num_perm=30)
        with pytest.raises(ValueError, match="multiple of"):
            dedup.minhash_dup_pairs_against(
                df, idx, "id", "t", num_perm=30, bands=8
            )

    def test_incompatible_index_family_raises(self, spark):
        from spark_pipeline_ops.operators import dedup

        df = spark.createDataFrame([(1, "some text body here")], "id long, t string")
        idx = dedup.minhash_index(df, "id", "t", num_perm=32, seed=7, mode="word", n=2)
        with pytest.raises(ValueError, match="different permutation family"):
            dedup.minhash_dup_pairs_against(
                df, idx, "id", "t", num_perm=32, bands=8, seed=42, mode="word", n=2
            )
        with pytest.raises(ValueError, match="different permutation family"):
            dedup.minhash_dup_pairs_against(
                df, idx, "id", "t", num_perm=64, bands=8, seed=7, mode="word", n=2
            )

    def test_index_metadata_survives_parquet(self, spark, tmp_path):
        from spark_pipeline_ops.operators import dedup

        df = spark.createDataFrame(
            [(1, "text that round trips through parquet for the metadata check")],
            "id long, t string",
        )
        path = str(tmp_path / "mh_index")
        dedup.minhash_index(df, "id", "t", num_perm=32, mode="word", n=2).write.parquet(path)
        idx = spark.read.parquet(path)
        # mismatched family detected even on the re-read index
        with pytest.raises(ValueError, match="different permutation family"):
            dedup.minhash_dup_pairs_against(
                df, idx, "id", "t", num_perm=32, bands=8, seed=99, mode="word", n=2
            )
        # matching family passes validation (self-match excluded => empty)
        assert (
            dedup.minhash_dup_pairs_against(
                df, idx, "id", "t", num_perm=32, bands=8, mode="word", n=2
            ).collect()
            == []
        )


class TestGroupedPercentiles:
    def test_exact_matches_duckdb_quantile_cont(self, spark):
        import duckdb

        from spark_pipeline_ops.operators import stats

        rows = [("a", float(i)) for i in range(101)] + [
            ("b", float(i * i)) for i in range(50)
        ]
        df = spark.createDataFrame(rows, "g string, v double")
        got = {
            r.g: (r.p5, r.p9, r.n)
            for r in stats.grouped_percentiles(
                df, "g", "v", (0.5, 0.9)
            ).collect()
        }
        want = {
            g: (p5, p9, n)
            for g, p5, p9, n in duckdb.sql(
                "select g, round(quantile_cont(v, 0.5), 4),"
                " round(quantile_cont(v, 0.9), 4), count(v) from ("
                "select 'a' as g, unnest(range(101))::double as v union all "
                "select 'b', (x*x)::double from (select unnest(range(50)) x))"
                " group by g"
            ).fetchall()
        }
        assert got == want

    def test_approx_within_rank_error(self, spark):
        from spark_pipeline_ops.operators import stats

        rows = [("a", float(i)) for i in range(10000)]
        df = spark.createDataFrame(rows, "g string, v double")
        r = stats.grouped_percentiles(
            df, "g", "v", (0.5,), exact=False, accuracy=1000
        ).collect()[0]
        # rank error <= 1/accuracy -> value error <= 10 on 0..9999
        assert abs(r.p5 - 4999.5) <= 11
        assert r.n == 10000


class TestZorderRoundtrip:
    def test_deinterleave_recovers_inputs(self, spark):
        from spark_pipeline_ops.operators import layout

        rows = [(a * 37 % 256, a * 91 % 256) for a in range(300)]
        df = spark.createDataFrame(rows, "x long, y long")
        got = df.select(
            "x", "y", layout.zorder_key(["x", "y"], bits=8).alias("z")
        ).collect()

        def deinterleave(z, n, j, bits):
            return sum(((z >> (i * n + j)) & 1) << i for i in range(bits))

        for r in got:
            assert deinterleave(r.z, 2, 0, 8) == r.x
            assert deinterleave(r.z, 2, 1, 8) == r.y


class TestCohortRetention:
    def test_hand_built_cohorts(self, spark):
        import datetime as dtm

        from spark_pipeline_ops.operators import stats

        d0 = dtm.datetime(2024, 1, 1)
        day = dtm.timedelta(days=1)
        rows = [
            # user A: first day 0, returns day 1 and 2 (twice on day 1)
            ("a", d0), ("a", d0 + day), ("a", d0 + day), ("a", d0 + 2 * day),
            # user B: first day 0, never returns
            ("b", d0),
            # user C: first day 2
            ("c", d0 + 2 * day),
            # null user dropped
            (None, d0),
        ]
        df = spark.createDataFrame(rows, "u string, ts timestamp")
        got = {
            (r.cohort_period, r.period_offset): r.n_users
            for r in stats.cohort_retention(
                df, "u", "ts", period_seconds=86400, max_offset=7
            ).collect()
        }
        base = int(d0.timestamp()) // 86400
        assert got == {
            (base, 0): 2,      # a, b
            (base, 1): 1,      # a
            (base, 2): 1,      # a
            (base + 2, 0): 1,  # c
        }


class TestPageRank:
    def _py_pagerank(self, edges, iters=10, damping=0.85):
        nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
        n = len(nodes)
        deg = {}
        for a, _ in edges:
            deg[a] = deg.get(a, 0) + 1
        r = {v: 1.0 / n for v in nodes}
        for _ in range(iters):
            contrib = {v: 0.0 for v in nodes}
            for a, b in edges:
                contrib[b] += r[a] / deg[a]
            r = {v: (1 - damping) / n + damping * contrib[v] for v in nodes}
            t = sum(r.values())
            r = {v: x / t for v, x in r.items()}
        return r

    def test_matches_python_reference(self, spark):
        from spark_pipeline_ops.operators import graph

        edges = [(1, 2), (2, 3), (3, 1), (4, 3), (2, 1)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r.node: r.rank
            for r in graph.pagerank(df, iters=10).collect()
        }
        want = self._py_pagerank(edges, iters=10)
        assert set(got) == set(want)
        for v in want:
            assert got[v] == pytest.approx(round(want[v], 6), abs=2e-6)
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-4)

    def test_hub_outranks_leaf(self, spark):
        from spark_pipeline_ops.operators import graph

        # star pointing at node 0
        edges = [(i, 0) for i in range(1, 8)] + [(0, 1)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r.node: r.rank for r in graph.pagerank(df, iters=5).collect()}
        assert got[0] == max(got.values())

    def test_empty_graph(self, spark):
        from spark_pipeline_ops.operators import graph

        df = spark.createDataFrame([], "src long, dst long")
        assert graph.pagerank(df, iters=2).collect() == []


class TestWeightedSample:
    def test_deterministic_and_weight_biased(self, spark):
        from spark_pipeline_ops.operators import split as sp

        # 200 rows; ids 0..99 weight 1, ids 100..199 weight 20
        rows = [(i, 1.0 if i < 100 else 20.0) for i in range(200)]
        df = spark.createDataFrame(rows, "id long, w double")
        got1 = sorted(r.id for r in sp.weighted_sample(df, "id", "w", 50, salt="s").collect())
        got2 = sorted(r.id for r in sp.weighted_sample(df, "id", "w", 50, salt="s").collect())
        assert got1 == got2 and len(got1) == 50
        heavy = sum(1 for i in got1 if i >= 100)
        # heavy rows are 20x more likely — expect the sample dominated
        assert heavy > 35

    def test_matches_duckdb_selection(self, spark):
        import duckdb

        from spark_pipeline_ops.operators import split as sp

        rows = [(i, float(1 + i % 7)) for i in range(300)]
        df = spark.createDataFrame(rows, "id long, w double")
        got = sorted(r.id for r in sp.weighted_sample(df, "id", "w", 25, salt="x").collect())
        want = sorted(
            v[0]
            for v in duckdb.sql(
                "with t as (select unnest(range(300)) as id), "
                "k as (select id, (1 + id % 7)::double as w, "
                "round(ln(-ln(greatest("
                "try_cast(('0x' || substr(md5('x:' || id::varchar), 1, 8)) "
                "as bigint) / 4294967296.0, 0.5 / 4294967296.0))) "
                "- ln((1 + id % 7)::double), 12) as key "
                "from t) "
                "select id from k order by key asc, id asc limit 25"
            ).fetchall()
        )
        assert got == want

    def test_huge_weights_stay_discriminative(self, spark):
        # scaling every weight by a constant must not change the
        # selection (the A-ES key shifts by -ln(c) uniformly). The old
        # pow-based key collapsed to 1.0 for w >~ 1e11, silently
        # degrading to id-order selection.
        from spark_pipeline_ops.operators import split as sp

        rows = [(i, float(1 + i % 7)) for i in range(300)]
        small = spark.createDataFrame(rows, "id long, w double")
        big = spark.createDataFrame(
            [(i, w * 1e12) for i, w in rows], "id long, w double"
        )
        got_small = sorted(
            r.id for r in sp.weighted_sample(small, "id", "w", 25, salt="x").collect()
        )
        got_big = sorted(
            r.id for r in sp.weighted_sample(big, "id", "w", 25, salt="x").collect()
        )
        assert got_small == got_big
        assert got_big != sorted(range(25))  # not id-order degradation

    def test_zero_and_null_weights_excluded(self, spark):
        from spark_pipeline_ops.operators import split as sp

        df = spark.createDataFrame(
            [(1, 0.0), (2, None), (3, 5.0)], "id long, w double"
        )
        got = [r.id for r in sp.weighted_sample(df, "id", "w", 10).collect()]
        assert got == [3]

    def test_bad_k(self, spark):
        from spark_pipeline_ops.operators import split as sp

        df = spark.createDataFrame([(1, 1.0)], "id long, w double")
        with pytest.raises(ValueError):
            sp.weighted_sample(df, "id", "w", 0)


class TestKnnGraph:
    def test_neighbors_stay_in_cluster(self, spark):
        from spark_pipeline_ops.operators import similarity

        # two tight clusters in 8-dim space
        import random

        rnd = random.Random(7)
        rows = []
        for i in range(20):
            base = [1.0] * 4 + [0.0] * 4
            rows.append((i, [x + rnd.uniform(-0.01, 0.01) for x in base]))
        for i in range(20, 40):
            base = [0.0] * 4 + [1.0] * 4
            rows.append((i, [x + rnd.uniform(-0.01, 0.01) for x in base]))
        df = spark.createDataFrame(rows, "id long, v array<double>")
        g = similarity.knn_graph(df, "id", "v", 8, k=3, n_planes=6, n_tables=4)
        got = g.collect()
        assert len(got) > 0
        for r in got:
            same_cluster = (r.id < 20) == (r.nbr_id < 20)
            assert same_cluster, (r.id, r.nbr_id, r.cosine)
            assert r.cosine > 0.9

    def test_k_bound_and_determinism(self, spark):
        from spark_pipeline_ops.operators import similarity

        rows = [(i, [float(i % 3 == j) for j in range(3)]) for i in range(12)]
        df = spark.createDataFrame(rows, "id long, v array<double>")
        g1 = similarity.knn_graph(df, "id", "v", 3, k=2, n_planes=4, n_tables=3)
        c1 = {(r.id, r.nbr_id) for r in g1.collect()}
        g2 = similarity.knn_graph(df, "id", "v", 3, k=2, n_planes=4, n_tables=3)
        assert c1 == {(r.id, r.nbr_id) for r in g2.collect()}
        from collections import Counter

        per_id = Counter(a for a, _ in c1)
        assert all(n <= 2 for n in per_id.values())

    def test_bad_args(self, spark):
        from spark_pipeline_ops.operators import similarity

        df = spark.createDataFrame([(1, [1.0])], "id long, v array<double>")
        import pytest as _pt

        with _pt.raises(ValueError):
            similarity.knn_graph(df, "id", "v", 1, k=0)
        with _pt.raises(ValueError):
            similarity.knn_graph(df, "id", "v", 1, k=1, n_tables=0)

    def test_bucket_kernel_matches_join_formulation(self, spark):
        # the per-(table,bucket) Gram kernel must reproduce the
        # original bucket self-join + HOF-cosine path edge-for-edge,
        # including the lossless per-bucket top-k cut (every global
        # top-k edge survives it) and cosine values at the same
        # 6-decimal rounding
        import random

        from spark_pipeline_ops.operators import similarity
        from pyspark.sql import functions as F

        rnd = random.Random(23)
        rows = [
            (i, [rnd.gauss(0.0, 1.0) for i2 in range(12)]) for i in range(150)
        ]
        rows.append((900, None))  # NULL vector: no edges either way
        # duplicate-id row (same vector): id-based exclusion must keep
        # it from emitting a self-edge that could evict a real neighbor
        rows.append((5, list(rows[5][1])))
        df = spark.createDataFrame(rows, "id long, v array<double>")
        k, n_planes, n_tables, dim = 4, 3, 3, 12
        got = {
            (r.id, r.nbr_id, r.cosine)
            for r in similarity.knn_graph(
                df, "id", "v", dim, k=k, n_planes=n_planes, n_tables=n_tables
            ).collect()
        }
        # the original join formulation, inline
        base = df.select(F.col("id").alias("_id"), F.col("v").alias("_v"))
        cand = None
        for t in range(n_tables):
            tt = base.withColumn(
                "_b",
                similarity.lsh_bucket("_v", dim, n_planes=n_planes, seed=42 + t),
            ).withColumn("_t", F.lit(t))
            cand = tt if cand is None else cand.unionByName(tt)
        pairs = (
            cand.alias("L")
            .join(
                cand.alias("R"),
                (F.col("L._t") == F.col("R._t"))
                & (F.col("L._b") == F.col("R._b"))
                & (F.col("L._id") != F.col("R._id")),
            )
            .select(
                F.col("L._id").alias("id"),
                F.col("R._id").alias("nbr_id"),
                F.col("L._v").alias("va"),
                F.col("R._v").alias("vb"),
            )
            .dropDuplicates(["id", "nbr_id"])
        )
        cos = similarity.dot(F.col("va"), F.col("vb")) / (
            similarity.l2_norm(F.col("va")) * similarity.l2_norm(F.col("vb"))
        )
        from spark_pipeline_ops.operators.rank import (
            top_k_per_group,
        )

        want = {
            (r.id, r.nbr_id, r.cosine)
            for r in top_k_per_group(
                # NULL-cosine edges excluded: the join formulation let a
                # NULL embedding bucket-collide (lsh_bucket hashes the
                # NULL dot to a sign) and emitted meaningless NULL-cosine
                # edges; the kernel deliberately gives NULL vectors no
                # edges in either direction
                pairs.withColumn("cosine", F.round(cos, 6))
                .filter(F.col("cosine").isNotNull())
                .select("id", "nbr_id", "cosine"),
                "id",
                [F.col("cosine").desc(), F.col("nbr_id").asc()],
                k,
            ).collect()
        }
        assert got == want and len(got) > 100
        assert not any(i == 900 or n == 900 for i, n, _ in got)

    def test_duplicate_id_gets_one_slot_not_k(self, spark):
        # review-found hole: the per-bucket cut must keep k DISTINCT
        # neighbor ids — a duplicated id consuming two rows of a
        # single-table bucket must not evict the true 2nd neighbor
        from spark_pipeline_ops.operators import similarity

        # near-parallel vectors: one random hyperplane almost surely
        # gives every row the same sign, i.e. ONE bucket (deterministic
        # under the fixed seed — asserted via the result itself)
        v1 = [1.0, 0.02, 0.0, 0.0]
        v5 = [1.0, 0.0, 0.0, 0.0]
        v2 = [1.0, 0.05, 0.0, 0.0]
        v3 = [1.0, 0.09, 0.0, 0.0]
        df = spark.createDataFrame(
            [(1, v1), (5, v5), (5, list(v5)), (2, v2), (3, v3)],
            "id long, v array<double>",
        )
        g = similarity.knn_graph(
            df, "id", "v", 4, k=2, n_planes=1, n_tables=1
        )
        nbrs_of_1 = sorted(r.nbr_id for r in g.filter("id = 1").collect())
        # all five rows share the single 1-plane bucket (same sign);
        # id 1's two nearest DISTINCT ids are 5 and 2 — the duplicated
        # id 5 must not consume both slots
        assert nbrs_of_1 == [2, 5], nbrs_of_1
        # NULL-id rows produce no edges either way; identical ZERO
        # vectors score cosine 0 and never pair (documented semantics;
        # the old join raised DIVIDE_BY_ZERO under ANSI instead)
        df2 = spark.createDataFrame(
            [(1, v1), (None, v5), (7, [0.0] * 4), (8, [0.0] * 4)],
            "id long, v array<double>",
        )
        g2 = similarity.knn_graph(
            df2, "id", "v", 4, k=3, n_planes=1, n_tables=1
        ).collect()
        assert not any(r.id is None or r.nbr_id is None for r in g2)
        assert not any(
            {r.id, r.nbr_id} == {7, 8} and r.cosine > 0 for r in g2
        )
        p2 = similarity.embedding_dup_pairs(
            df2, "id", "v", 4, threshold=0.5, n_planes=1
        ).collect()
        assert not any(r.id_a is None or r.id_b is None for r in p2)
        assert not any({r.id_a, r.id_b} == {7, 8} for r in p2)

    def test_embedding_dup_pairs_kernel_matches_join(self, spark):
        # same equivalence pin for embedding_dup_pairs' bucket kernel:
        # a LOW threshold over random vectors fires many verified
        # pairs, so value or pair-identity divergence cannot hide
        import random

        from spark_pipeline_ops.operators import similarity
        from pyspark.sql import functions as F

        rnd = random.Random(31)
        rows = [
            (i, [rnd.gauss(0.0, 1.0) for _ in range(10)]) for i in range(200)
        ]
        rows.append((900, None))
        # duplicate-id row (same vector): id-based pair exclusion must
        # keep it from emitting a degenerate (x, x) pair, and max-agg
        # dedup keeps the repeated (x, y) emission deterministic
        rows.append((5, list(rows[5][1])))
        df = spark.createDataFrame(rows, "id long, v array<double>")
        dim, n_planes = 10, 3
        got = {
            (r.id_a, r.id_b, r.cosine)
            for r in similarity.embedding_dup_pairs(
                df, "id", "v", dim, threshold=0.2, n_planes=n_planes
            ).collect()
        }
        base = similarity.add_lsh_buckets(
            df, "v", dim, n_planes=n_planes, seed=42
        ).select(F.col("id").alias("_id"), F.col("v").alias("_v"), "lsh_bucket")
        cos = similarity.dot(F.col("va"), F.col("vb")) / (
            similarity.l2_norm(F.col("va")) * similarity.l2_norm(F.col("vb"))
        )
        want = {
            (r.id_a, r.id_b, r.cosine)
            for r in (
                base.alias("L")
                .join(
                    base.alias("R"),
                    F.col("L.lsh_bucket") == F.col("R.lsh_bucket"),
                )
                .filter(F.col("L._id") < F.col("R._id"))
                .select(
                    F.col("L._id").alias("id_a"),
                    F.col("R._id").alias("id_b"),
                    F.col("L._v").alias("va"),
                    F.col("R._v").alias("vb"),
                )
                .withColumn("cosine", F.round(cos, 6))
                .filter(F.col("cosine") >= 0.2)
                .select("id_a", "id_b", "cosine")
            ).collect()
        }
        assert got == want and len(got) > 50


class TestPropertyDifferentials:
    """Hypothesis differentials: the pure-Column implementations must
    match straightforward Python references on arbitrary inputs."""

    def test_repetition_stats_matches_python(self, spark):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        lines_st = st.lists(
            st.text(alphabet="ab \t", max_size=5), min_size=0, max_size=8
        )

        @settings(max_examples=25, deadline=None)
        @given(lines_st)
        def check(parts):
            s = "\n".join(parts)
            df = spark.createDataFrame([(s,)], "t string")
            r = df.select(text.repetition_stats("t").alias("r")).collect()[0].r
            # python reference: trimmed (spaces only, like SQL trim),
            # non-empty lines
            ls = [x.strip(" ") for x in s.split("\n")]
            ls = [x for x in ls if x != ""]
            n = len(ls)
            d = list(dict.fromkeys(ls))
            chars = sum(len(x) for x in ls)
            dchars = sum(len(x) for x in d)
            assert r.n_lines == n
            assert r.dup_line_frac == pytest.approx(
                round((n - len(d)) / max(n, 1), 6), abs=1e-6
            )
            assert r.dup_line_char_frac == pytest.approx(
                round((chars - dchars) / max(chars, 1), 6), abs=1e-6
            )

        check()

    def test_url_domains_matches_python(self, spark):
        import re as _re

        from hypothesis import given, settings
        from hypothesis import strategies as st

        frag = st.lists(
            st.one_of(
                st.just("http://Abc.example.COM/x"),
                st.just("https://z9-b.ORG"),
                st.just("HTTP://Upper.Scheme.net/q"),
                st.just("HtTpS://mixed.example.io"),
                st.just("plain words"),
                st.just("http:/broken"),
                st.text(alphabet="ab ./:", max_size=8),
            ),
            max_size=5,
        )

        @settings(max_examples=25, deadline=None)
        @given(frag)
        def check(parts):
            s = " ".join(parts)
            df = spark.createDataFrame([(s,)], "t string")
            got = df.select(text.url_domains("t").alias("d")).collect()[0].d
            want = [
                m.lower()
                for m in _re.findall(
                    r"[Hh][Tt][Tt][Pp][Ss]?://([A-Za-z0-9.-]+)", s
                )
            ]
            assert got == want

        check()


class TestDuplicatedSpans:
    def test_cross_doc_shared_window_detected(self, spark):
        rows = [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon eta"),
            (3, "totally unique words nothing shared here"),
            (4, "tiny doc"),
            (5, None),
        ]
        df = spark.createDataFrame(rows, "id int, t string")
        out = {
            r.id: r
            for r in text.duplicated_span_fraction(df, "id", "t", n=5).collect()
        }
        # docs 1+2 share the 'alpha..epsilon' 5-window (1 of their 2 windows)
        assert out[1].dup_frac == 0.5 and out[2].dup_frac == 0.5
        assert out[1].n_windows == 2
        assert out[3].dup_frac == 0.0
        # <n tokens / null -> no row
        assert set(out) == {1, 2, 3}

    def test_within_doc_repeat_is_not_cross_doc(self, spark):
        # the same window twice in ONE doc is repetition_stats' job, not
        # this operator's: n_docs stays 1 -> dup_frac 0
        df = spark.createDataFrame(
            [(1, "x y z x y z"), (2, "p q r s t u")], "id int, t string"
        )
        out = {
            r.id: r
            for r in text.duplicated_span_fraction(df, "id", "t", n=3).collect()
        }
        assert out[1].dup_frac == 0.0

    def test_exact_dup_docs_are_fully_duplicated(self, spark):
        body = "one two three four five six seven"
        df = spark.createDataFrame(
            [(1, body), (2, body)], "id int, t string"
        )
        out = text.duplicated_span_fraction(df, "id", "t", n=5).collect()
        assert all(r.dup_frac == 1.0 for r in out)


class TestLineDedup:
    def test_boilerplate_dropped_unique_kept_in_order(self, spark):
        rows = [
            (1, "my own first line\nSHARED FOOTER\nmy own second line"),
            (2, "other body text\nSHARED FOOTER"),
            (3, "SHARED FOOTER"),
            (4, None),
        ]
        df = spark.createDataFrame(rows, "id int, t string")
        out = {r.id: r for r in text.line_dedup(df, "id", "t").collect()}
        assert out[1].text_clean == "my own first line\nmy own second line"
        assert (out[1].n_lines, out[1].n_kept) == (3, 2)
        assert out[2].text_clean == "other body text"
        # fully-boilerplate doc keeps its row with empty text
        assert (out[3].n_kept, out[3].text_clean) == (0, "")
        # null text: row survives with NULL line count, nothing kept
        assert out[4].n_lines is None and out[4].text_clean == ""

    def test_min_docs_threshold(self, spark):
        rows = [(1, "twice"), (2, "twice"), (3, "thrice"),
                (4, "thrice"), (5, "thrice")]
        df = spark.createDataFrame(rows, "id int, t string")
        out3 = {r.id: r for r in
                text.line_dedup(df, "id", "t", min_docs=3).collect()}
        # 'twice' appears in 2 docs < 3 -> kept; 'thrice' in 3 -> dropped
        assert out3[1].text_clean == "twice"
        assert out3[3].text_clean == ""

    def test_within_doc_repeat_not_boilerplate(self, spark):
        # the same line twice in ONE doc is not cross-corpus boilerplate
        df = spark.createDataFrame(
            [(1, "la\nla"), (2, "other")], "id int, t string"
        )
        out = {r.id: r for r in text.line_dedup(df, "id", "t").collect()}
        assert out[1].text_clean == "la\nla" and out[1].n_kept == 2

    def test_custom_separator_is_literal(self, spark):
        # '.' must not behave as a regex wildcard
        df = spark.createDataFrame(
            [(1, "keep me.BOILER"), (2, "BOILER.also keep")],
            "id int, t string",
        )
        out = {r.id: r
               for r in text.line_dedup(df, "id", "t", sep=".").collect()}
        assert out[1].text_clean == "keep me"
        assert out[2].text_clean == "also keep"


class TestLineDedupDifferential:
    def test_random_corpus_matches_duckdb(self, spark):
        # seeded random multi-line corpus with injected boilerplate:
        # one Spark job vs the DuckDB recomputation, full-row compare
        import random

        import duckdb

        rng = random.Random(42)
        words = ["alpha", "beta", "gamma", "delta", "eps"]
        boiler = ["SHARED ONE", "SHARED TWO"]
        docs = []
        for i in range(80):
            lines_ = []
            for _ in range(rng.randrange(1, 6)):
                if rng.random() < 0.3:
                    lines_.append(rng.choice(boiler))
                else:
                    lines_.append(
                        " ".join(rng.choice(words) for _ in range(rng.randrange(1, 5)))
                    )
            docs.append((i, "\n".join(lines_)))
        df = spark.createDataFrame(docs, "id long, t string")
        got = sorted(
            (r.id, r.n_lines, r.n_kept, r.text_clean)
            for r in text.line_dedup(df, "id", "t", min_docs=2).collect()
        )
        con = duckdb.connect()
        con.execute("create table d (id bigint, t varchar)")
        con.executemany("insert into d values (?, ?)", docs)
        want = sorted(
            tuple(v)
            for v in con.sql(
                "with l as (select id, "
                "generate_subscripts(string_split(t, chr(10)), 1) as pos, "
                "unnest(string_split(t, chr(10))) as line from d), "
                "c as (select line, count(distinct id) as docs from l group by line), "
                "k as (select l.id, l.pos, l.line from l join c using (line) "
                "where c.docs < 2), "
                "a as (select id, count(*) as n_kept, "
                "string_agg(line, chr(10) order by pos) as text_clean "
                "from k group by id) "
                "select d.id, len(string_split(d.t, chr(10)))::bigint, "
                "coalesce(a.n_kept, 0)::bigint, coalesce(a.text_clean, '') "
                "from d left join a using (id)"
            ).fetchall()
        )
        assert got == want


class TestWeightedSampleHugeWeightsDifferential:
    def test_matches_duckdb_at_1e12(self, spark):
        import duckdb

        from spark_pipeline_ops.operators import split as sp

        rows = [(i, float(1 + i % 7) * 1e12) for i in range(300)]
        df = spark.createDataFrame(rows, "id long, w double")
        got = sorted(r.id for r in sp.weighted_sample(df, "id", "w", 25, salt="x").collect())
        want = sorted(
            v[0]
            for v in duckdb.sql(
                "with t as (select unnest(range(300)) as id), "
                "k as (select id, ((1 + id % 7) * 1e12)::double as w, "
                "round(ln(-ln(greatest("
                "try_cast(('0x' || substr(md5('x:' || id::varchar), 1, 8)) "
                "as bigint) / 4294967296.0, 0.5 / 4294967296.0))) "
                "- ln(((1 + id % 7) * 1e12)::double), 12) as key "
                "from t) "
                "select id from k order by key asc, id asc limit 25"
            ).fetchall()
        )
        assert got == want
