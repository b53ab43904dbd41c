"""Hot-bucket skew cap for the grouped Gram kernels
(similarity._with_block_subgroups) and the exact-HALF_UP rounding fix.

The kernels' 100 TB contract is "per-task memory bounded by one group's
vectors" — which a degenerate hot group (near-identical embeddings all
landing in one LSH bucket / k-means cluster) silently breaks. The cap
decomposes hot groups into block-pair sub-groups; these tests pin (a)
the structural bound and exactly-once pair coverage, (b) capped ==
uncapped result equality for all three kernels, (c) a degenerate
10k-identical-vector cluster passing with bounded sub-group sizes, and
(d) _round6_half_up == F.round at decimal-half boundaries.
"""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_pipeline_ops.operators import similarity


def _rand_rows(n, dim, seed=7, near_dup_every=10):
    """Random vectors with planted near-duplicate structure."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        if i % near_dup_every == 0 and i > 0:
            base_vec = rows[i - 1][1]
            v = [x * 1.001 for x in base_vec]
        else:
            v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        rows.append((i, v))
    return rows


class TestRound6HalfUp:
    def test_matches_spark_round_at_boundaries(self, spark):
        vals = [
            0.9999995,   # shortest repr IS the half: must round UP to 1.0
            -0.9999995,  # away from zero for negatives
            0.1234565, -0.1234565, 0.12345649999999999,
            5e-7, -5e-7, 2.5e-7, 0.5, -0.5, 0.0, 1.0, -1.0,
            0.7071067811865476, 0.33333333333333331,
        ]
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        want = {
            r.x: r.r
            for r in df.select("x", F.round("x", 6).alias("r")).collect()
        }
        got = similarity._round6_half_up(np.array(vals))
        for v, g in zip(vals, got):
            assert g == want[v], f"{v!r}: twin {g!r} vs Spark {want[v]!r}"

    def test_boundary_case_regression(self):
        # the scaled-floor fast path alone gives 0.999999 here — Spark
        # (BigDecimal on the shortest repr) gives 1.0
        assert similarity._round6_half_up(np.array([0.9999995]))[0] == 1.0
        assert similarity._round6_half_up(np.array([-0.9999995]))[0] == -1.0

    def test_2d_slab(self):
        x = np.array([[0.9999995, 0.1], [-0.25, 0.1234564999]])
        r = similarity._round6_half_up(x)
        assert r.shape == x.shape
        assert r[0, 0] == 1.0 and r[0, 1] == 0.1


class TestRowTopk:
    """The knn kernel's argpartition cut vs a naive full-lexsort
    reference, under the regimes that can break it: heavy cosine ties
    at the cut boundary (the threshold must keep ALL tied candidates so
    the id tie-break stays exact) and duplicate neighbor ids (the cut
    counts DISTINCT ids)."""

    @staticmethod
    def _naive(row, ids, cand_idx, k):
        order = cand_idx[np.lexsort((ids[cand_idx], -row[cand_idx]))]
        nbr = ids[order]
        first = np.sort(np.unique(nbr, return_index=True)[1])[:k]
        return order[first]

    def test_matches_naive_on_random_and_tied_inputs(self):
        rng = np.random.default_rng(42)
        row_topk = similarity._row_topk

        for trial in range(200):
            n = int(rng.integers(2, 400))
            k = int(rng.integers(1, 8))
            # quantized values produce heavy ties; duplicate ids via
            # small id pools
            row = rng.integers(0, 6, size=n) / 5.0
            ids = rng.integers(0, max(2, n // 3), size=n)
            gi = int(rng.integers(0, n))
            elig = ids != ids[gi]
            cand_idx = np.nonzero(elig)[0]
            if len(cand_idx) == 0:
                continue
            got = row_topk(row, ids, cand_idx, k)
            want = self._naive(row, ids, cand_idx, k)
            assert list(got) == list(want), (trial, n, k)


class TestBlockSubgroups:
    def test_disabled_is_passthrough(self, spark):
        base = spark.createDataFrame(
            [(1, "a"), (2, "a")], "_id long, g string"
        )
        out, keys = similarity._with_block_subgroups(base, ["g"], "_id", None)
        assert keys == ["g", "_lo", "_hi"]
        rows = out.collect()
        assert len(rows) == 2
        assert all(r._blk == 0 and r._lo == 0 and r._hi == 0 for r in rows)

    def test_rejects_tiny_cap(self, spark):
        base = spark.createDataFrame([(1, "a")], "_id long, g string")
        with pytest.raises(ValueError, match="bucket_cap"):
            similarity._with_block_subgroups(base, ["g"], "_id", 1)

    def test_tiny_cap_rejected_before_any_persist(self, spark):
        # persist-then-raise would leak a CacheManager entry no caller
        # can release (the round-9 leak class) — validation must come
        # first on every public entry point
        sc = spark.sparkContext
        df = spark.createDataFrame(
            [(1, [0.1] * 4), (2, [0.2] * 4)], "id long, v array<double>"
        )
        before = sc._jsc.getPersistentRDDs().size()
        for call in (
            lambda: similarity.embedding_dup_pairs(
                df, "id", "v", 4, bucket_cap=1
            ),
            lambda: similarity.knn_graph(df, "id", "v", 4, k=1, bucket_cap=1),
            lambda: similarity.semantic_dedup(
                df, "id", "v", k=2, bucket_cap=1
            ),
        ):
            with pytest.raises(ValueError, match="bucket_cap"):
                call()
        assert sc._jsc.getPersistentRDDs().size() == before

    def test_auto_cap_tolerates_empty_vectors(self, spark):
        # a group whose vectors are all zero-length must not divide to
        # Infinity and ANSI-error on the long cast in the sizes agg
        base = spark.createDataFrame(
            [(i, [], "g") for i in range(6)],
            "_id long, _v array<double>, g string",
        )
        out, keys = similarity._with_block_subgroups(
            base, ["g"], "_id", "auto", vec_col="_v"
        )
        rows = out.collect()  # evaluates the cap expression
        assert len(rows) == 6  # cold group (cap floor >> 6): unsplit

    def test_cold_groups_unsplit_hot_groups_bounded(self, spark):
        rows = [(i, "hot") for i in range(500)] + [
            (1000 + i, "cold") for i in range(40)
        ]
        base = spark.createDataFrame(rows, "_id long, g string")
        cap = 100
        out, keys = similarity._with_block_subgroups(base, ["g"], "_id", cap)
        pdf = out.toPandas()
        cold = pdf[pdf.g == "cold"]
        assert len(cold) == 40 and (cold._lo == 0).all() and (cold._hi == 0).all()
        sizes = pdf.groupby(keys).size()
        # block sizes are hash-balanced at ~cap rows: a sub-group (two
        # blocks) stays within ~2x cap plus hash wobble
        assert sizes.max() <= int(2.5 * cap)
        # replication: each hot row appears in exactly s sub-groups
        s = -(-500 // cap)
        assert len(pdf[pdf.g == "hot"]) == 500 * s

    def test_exactly_once_pair_coverage(self, spark):
        n, cap = 300, 50
        base = spark.createDataFrame(
            [(i, "g") for i in range(n)], "_id long, g string"
        )
        out, keys = similarity._with_block_subgroups(base, ["g"], "_id", cap)
        pdf = out.toPandas()
        seen = set()
        for _, grp in pdf.groupby(keys):
            ids = grp._id.to_numpy()
            blk = grp._blk.to_numpy()
            mixed = grp._lo.iat[0] != grp._hi.iat[0]
            for a in range(len(ids)):
                for b in range(a + 1, len(ids)):
                    if mixed and blk[a] == blk[b]:
                        continue  # the kernels' eligibility contract
                    pair = (min(ids[a], ids[b]), max(ids[a], ids[b]))
                    assert pair not in seen, f"duplicate pair {pair}"
                    seen.add(pair)
        assert len(seen) == n * (n - 1) // 2


class TestCappedEqualsUncapped:
    def test_embedding_dup_pairs(self, spark):
        # near-identical vectors: most land in one bucket → hot
        rng = random.Random(3)
        base_vec = [rng.gauss(0.0, 1.0) for _ in range(16)]
        rows = [
            (i, [x + rng.gauss(0.0, 1e-4) for x in base_vec])
            for i in range(300)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        kw = dict(threshold=0.999, n_planes=6)
        un = {
            (r.id_a, r.id_b, r.cosine)
            for r in similarity.embedding_dup_pairs(
                df, "vec_id", "embedding", 16, bucket_cap=None, **kw
            ).collect()
        }
        cap = {
            (r.id_a, r.id_b, r.cosine)
            for r in similarity.embedding_dup_pairs(
                df, "vec_id", "embedding", 16, bucket_cap=40, **kw
            ).collect()
        }
        assert un and cap == un

    def test_knn_graph(self, spark):
        rows = _rand_rows(300, 12, seed=5)
        df = spark.createDataFrame(rows, "id long, v array<double>")
        kw = dict(k=5, n_planes=3, n_tables=3)  # few buckets → hot
        un = {
            (r.id, r.nbr_id, r.cosine)
            for r in similarity.knn_graph(
                df, "id", "v", 12, bucket_cap=None, **kw
            ).collect()
        }
        cap = {
            (r.id, r.nbr_id, r.cosine)
            for r in similarity.knn_graph(
                df, "id", "v", 12, bucket_cap=30, **kw
            ).collect()
        }
        assert un and cap == un

    def test_knn_graph_with_duplicate_ids(self, spark):
        # duplicate-id rows exercise the distinct-neighbor cut in the
        # argpartition path: top-k must count DISTINCT ids either way
        rows = _rand_rows(120, 8, seed=9)
        rows += [(i, rows[i][1]) for i in range(10)]  # dup-id rows
        df = spark.createDataFrame(rows, "id long, v array<double>")
        kw = dict(k=3, n_planes=2, n_tables=2)
        un = {
            (r.id, r.nbr_id, r.cosine)
            for r in similarity.knn_graph(
                df, "id", "v", 8, bucket_cap=None, **kw
            ).collect()
        }
        cap = {
            (r.id, r.nbr_id, r.cosine)
            for r in similarity.knn_graph(
                df, "id", "v", 8, bucket_cap=25, **kw
            ).collect()
        }
        assert un and cap == un

    def test_semantic_dedup(self, spark):
        rows = _rand_rows(400, 12, seed=13, near_dup_every=4)
        df = spark.createDataFrame(rows, "id long, v array<double>")
        kw = dict(k=4, threshold=0.98, iters=1)
        un = {
            (r.id, r.cluster, r.cent_dist, r.dropped)
            for r in similarity.semantic_dedup(
                df, "id", "v", bucket_cap=None, **kw
            ).collect()
        }
        cap = {
            (r.id, r.cluster, r.cent_dist, r.dropped)
            for r in similarity.semantic_dedup(
                df, "id", "v", bucket_cap=30, **kw
            ).collect()
        }
        assert un and cap == un
        assert any(r[3] for r in un)  # the planted near-dups fire


class TestDegenerateBucket:
    def test_10k_identical_vectors_bounded_and_exact(self, spark):
        # THE adversarial case: 10k identical vectors collapse into one
        # cluster and one pairwise group — 50M pairs. Uncapped, one task
        # owns all 10k rows; capped, no sub-group exceeds ~2x cap, and
        # the SemDeDup drop rule (all cent_dist equal → ties drop the
        # larger id) must still yield exactly "all but the smallest id".
        n, cap = 10_000, 1_000
        vec = [1.0, 2.0, -0.5, 0.25] * 4
        df = spark.createDataFrame(
            [(i, 0, 0.0, vec) for i in range(n)],
            "_id long, cluster int, cent_dist double, _v array<double>",
        )
        # structural bound: no sub-group above ~2x cap
        out, keys = similarity._with_block_subgroups(
            df, ["cluster"], "_id", cap
        )
        sizes = out.groupBy(*keys).count().select(F.max("count")).first()[0]
        assert sizes <= int(2.5 * cap)
        dropped = {
            r._id
            for r in similarity._semdedup_dropped_ids(
                df, 0.95, bucket_cap=cap
            ).collect()
        }
        assert dropped == set(range(1, n))

    def test_semantic_dedup_degenerate_corpus_auto_cap(self, spark):
        # end-to-end: identical embeddings defeat k-means separation
        # (every centroid identical); auto cap must keep it bounded and
        # the decision table must drop all but one row
        n = 2_000
        vec = [0.5] * 8
        df = spark.createDataFrame(
            [(i, vec) for i in range(n)], "id long, v array<double>"
        )
        out = similarity.semantic_dedup(
            df, "id", "v", k=4, threshold=0.95, bucket_cap=200
        )
        rows = out.collect()
        assert len(rows) == n
        kept = [r.id for r in rows if not r.dropped]
        assert len(kept) == 1
