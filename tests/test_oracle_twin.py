"""Pins for spark_pipeline_ops/oracle_twin.py — the
pure-Python twin that generates literal VALUES oracles for the
xxhash64-keyed LSH registry entries (minhash_pairs / simhash_pairs /
minhash_incremental), the last rows-only class of the correctness gate.

Three layers, each independently falsifiable:
1. xxh64 against the published xxHash spec test vectors (the reference
   values are from the public xxHash repository's documented vectors) —
   a twin-side hash bug fails here with no Spark involved.
2. xxh64 against Spark's ``F.xxhash64`` (seed 42, signed) over fixture
   strings AND a real corpus sample — an engine-vs-twin divergence (e.g.
   Java regex vs Python regex tokenization) fails here.
3. End-to-end pair-set parity: twin pipeline vs the production Spark
   pipeline at sf0.01 under the SAME shared config, including planted
   exact duplicates (must all surface) and <n-token docs (must be
   dropped by both sides via the NULL-signature contract).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from spark_pipeline_ops import oracle_twin as tw
from spark_pipeline_ops.operators import dedup

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TESTS", "/root/testdata/sf0.001")

# one explicit config shared by production and twin in every E2E test —
# the same shape __spark_entry__ shares via _MINHASH_CFG/_SIMHASH_CFG
MINHASH_CFG = {"num_perm": 32, "bands": 8, "seed": 42, "n": 3, "threshold": 0.8}
SIMHASH_CFG = {"max_hamming": 3, "block_bits": 16}


# ------------------------------------------------------- spec vectors

class TestXXH64SpecVectors:
    # Published XXH64 test vectors (public xxHash specification /
    # repository). "prime" below is the spec's 32-bit test prime
    # 2654435761 used to derive the non-zero seed vectors.
    def test_empty_seed0(self):
        assert tw.xxh64(b"", 0) == 0xEF46DB3751D8E999

    def test_empty_prime_seed(self):
        assert tw.xxh64(b"", 2654435761) == 0xAC75FDA2929B17EF

    def test_single_byte(self):
        # one byte (< 4-byte tail path)
        assert tw.xxh64(b"a", 0) == 0xD24EC4F1A98C6E5B

    def test_abc(self):
        assert tw.xxh64(b"abc", 0) == 0x44BC2CF5AD770999

    def test_4_to_7_byte_path(self):
        # exercises the 4-byte lane + byte tail
        assert tw.xxh64(b"abcd", 0) == 0xDE0327B0D25D92CC

    def test_xxhash_vector(self):
        assert tw.xxh64(b"xxhash", 0) == 0x32DD38952C4BC720

    def test_seed_changes_result(self):
        assert tw.xxh64(b"abc", 0) != tw.xxh64(b"abc", 42)


class TestXXH64VsSpark:
    def test_fixture_strings(self, spark):
        vals = [
            "", "a", "abc", "hello world", "tok", "1,2,3",
            "a" * 31, "b" * 32, "c" * 33, "d" * 100,
            "unicode £ € 中文 🚀", "tab\tsep", "nbsp inside",
        ]
        df = spark.createDataFrame([(v,) for v in vals], "s string")
        got = {r.s: r.h for r in df.select("s", F.xxhash64("s").alias("h")).collect()}
        for v in vals:
            assert tw.xxh64_str(v) == got[v], f"xxh64 mismatch on {v!r}"

    def test_corpus_sample(self, spark):
        df = (
            spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("text")
            .limit(50)
        )
        got = [
            (r.text, r.h)
            for r in df.select("text", F.xxhash64("text").alias("h")).collect()
        ]
        assert got, "corpus sample empty"
        for text, h in got:
            assert tw.xxh64_str(text) == h

    def test_fuzzed_strings_match_spark(self, spark):
        # seeded unicode fuzz: arbitrary codepoints across all planes
        # the JVM can round-trip (no lone surrogates) must hash
        # identically — one batched Spark job for the whole corpus
        import random

        rng = random.Random(1234)

        def rand_str():
            n = rng.randrange(0, 300)
            out = []
            for _ in range(n):
                cp = rng.randrange(0, 0x110000)
                while 0xD800 <= cp <= 0xDFFF:
                    cp = rng.randrange(0, 0x110000)
                out.append(chr(cp))
            return "".join(out)

        vals = [rand_str() for _ in range(80)] + [
            "", "\x00", "a\x00b", "\U0001F600" * 40
        ]
        vals = list(dict.fromkeys(vals))
        df = spark.createDataFrame([(v,) for v in vals], "s string")
        got = {
            r.s: r.h
            for r in df.select("s", F.xxhash64("s").alias("h")).collect()
        }
        for v in vals:
            assert tw.xxh64_str(v) == got[v], f"xxh64 mismatch on {v!r}"

    def test_tokens_match_spark_java_regex(self, spark):
        # Java's \s is ASCII-only: U+00A0 must NOT split — a Python
        # re.split(r"\s+") twin would diverge here
        vals = [
            "a b  c", "  lead", "trail  ", "one", "",
            "nb sp stays", "tab\tand\nnewline\rcr \x0b \x0c end",
        ]
        df = spark.createDataFrame([(v,) for v in vals], "s string")
        from spark_pipeline_ops.operators.text import tokens

        got = {r.s: r.t for r in df.select("s", tokens("s").alias("t")).collect()}
        for v in vals:
            assert tw.tokens(v) == got[v], f"tokenization mismatch on {v!r}"


# -------------------------------------------------- validation parity

class TestValidationParity:
    def test_minhash_rejects_indivisible_bands(self):
        with pytest.raises(ValueError, match="multiple of"):
            tw.minhash_pairs(
                [(1, "a b c d")], num_perm=33, bands=8, seed=42, n=3,
                threshold=0.8,
            )

    def test_minhash_against_rejects_indivisible_bands(self):
        with pytest.raises(ValueError, match="multiple of"):
            tw.minhash_pairs_against(
                [(1, "a b c d")], [(2, "a b c d")],
                num_perm=30, bands=8, seed=42, n=3, threshold=0.8,
            )

    def test_simhash_rejects_bad_block_bits(self):
        with pytest.raises(ValueError, match="divide 64"):
            tw.simhash_pairs([(1, "a b")], max_hamming=3, block_bits=15)

    def test_simhash_rejects_pigeonhole_break(self):
        with pytest.raises(ValueError, match="pigeonhole"):
            tw.simhash_pairs([(1, "a b")], max_hamming=4, block_bits=16)


# ------------------------------------------------------- values_sql

class TestValuesSql:
    def test_numeric_rows(self):
        sql = tw.values_sql(
            [(1, 2, 0.5)],
            [("a", "bigint"), ("b", "bigint"), ("j", "double")],
        )
        assert "values (1, 2, 0.5e0)" in sql

    def test_empty_is_typed_where_false(self):
        sql = tw.values_sql([], [("a", "bigint")])
        assert "where 1 = 0" in sql and "as a" in sql

    def test_string_quoting_and_null(self):
        sql = tw.values_sql(
            [("it's", None, True)],
            [("s", "varchar"), ("x", "bigint"), ("f", "boolean")],
        )
        assert "'it''s'" in sql and "null" in sql and "true" in sql

    def test_rejects_unsupported_type(self):
        with pytest.raises(TypeError):
            tw.values_sql([(object(),)], [("o", "varchar")])

    def test_duckdb_roundtrip(self):
        import duckdb

        rows = [(1, "a'b", 0.1 + 0.2), (2, None, float(1) / 3)]
        sql = tw.values_sql(
            rows, [("i", "bigint"), ("s", "varchar"), ("d", "double")]
        )
        got = duckdb.sql(sql).fetchall()
        assert got == rows  # repr() floats round-trip bit-exactly


# --------------------------------------------------- end-to-end parity

def _docs_df(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )


def _docs_list(spark):
    return [
        (r.doc_id, r.text) for r in _docs_df(spark).collect()
    ]


def _plant(docs_df, docs_list, n=20, offset=1_000_000):
    extra = docs_df.filter(F.col("doc_id") < n).select(
        (F.col("doc_id") + offset).alias("doc_id"), "text"
    )
    planted_df = docs_df.unionByName(extra)
    planted_list = docs_list + [
        (i + offset, t) for i, t in docs_list if i < n
    ]
    return planted_df, planted_list


class TestPairSetParity:
    def test_minhash_pairs_with_planted_dups(self, spark):
        docs_df, docs_list = _plant(_docs_df(spark), _docs_list(spark))
        prod = dedup.minhash_dup_pairs(
            docs_df, "doc_id", "text", mode="word", **MINHASH_CFG
        )
        prows = sorted((r.id_a, r.id_b, r.jaccard) for r in prod.collect())
        twin = tw.minhash_pairs(docs_list, **MINHASH_CFG)
        assert prows == twin
        # planted exact dups must all surface at jaccard 1.0 (for docs
        # the signature tier can see: >= n tokens)
        eligible = {i for i, t in docs_list if t and len(tw.tokens(t)) >= 3}
        expected_planted = {
            (i, i + 1_000_000) for i in eligible if i < 20
        }
        got = {(a, b) for a, b, _ in twin}
        assert expected_planted <= got
        for a, b, j in twin:
            if (a, b) in expected_planted:
                assert j == 1.0

    def test_minhash_short_docs_dropped_by_both(self, spark):
        # <3-token docs get NULL signatures on both sides: pair sets over
        # a corpus containing IDENTICAL short docs must not contain them
        rows = [
            (1, "one two"), (2, "one two"),  # identical but < 3 tokens
            (3, "alpha beta gamma delta"), (4, "alpha beta gamma delta"),
            (5, None),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        prod = dedup.minhash_dup_pairs(
            df, "doc_id", "text", mode="word", **MINHASH_CFG
        )
        prows = sorted((r.id_a, r.id_b, r.jaccard) for r in prod.collect())
        twin = tw.minhash_pairs(rows, **MINHASH_CFG)
        assert prows == twin == [(3, 4, 1.0)]

    def test_simhash_pairs_with_planted_dups(self, spark):
        docs_df, docs_list = _plant(_docs_df(spark), _docs_list(spark))
        prod = dedup.simhash_dup_pairs(
            docs_df, "doc_id", "text", **SIMHASH_CFG
        )
        prows = sorted((r.id_a, r.id_b, r.hamming) for r in prod.collect())
        twin = tw.simhash_pairs(docs_list, **SIMHASH_CFG)
        assert prows == twin
        got = {(a, b): h for a, b, h in twin}
        for i, t in docs_list:
            if i < 20 and t and tw.tokens(t):
                assert got.get((i, i + 1_000_000)) == 0

    def test_minhash_pairs_against_incremental(self, spark):
        docs_df, docs_list = _docs_df(spark), _docs_list(spark)
        idx_df = docs_df.filter(F.pmod(F.col("doc_id"), F.lit(5)) != 0)
        index = dedup.minhash_index(
            idx_df, "doc_id", "text",
            num_perm=MINHASH_CFG["num_perm"], seed=MINHASH_CFG["seed"],
            mode="word", n=MINHASH_CFG["n"],
        )
        planted = idx_df.filter(F.col("doc_id") < 25).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" appended tail token")).alias(
                "text"
            ),
        )
        newb = (
            docs_df.filter(F.pmod(F.col("doc_id"), F.lit(5)) == 0)
            .select("doc_id", "text")
            .unionByName(planted)
        )
        prod = dedup.minhash_dup_pairs_against(
            newb, index, "doc_id", "text", mode="word", **MINHASH_CFG
        )
        prows = sorted(
            (r.new_id, r.index_id, r.jaccard) for r in prod.collect()
        )
        idx_l = [(i, t) for i, t in docs_list if i % 5 != 0]
        new_l = [(i, t) for i, t in docs_list if i % 5 == 0] + [
            (i + 100000, t + " appended tail token")
            for i, t in idx_l
            if i < 25
        ]
        twin = tw.minhash_pairs_against(new_l, idx_l, **MINHASH_CFG)
        assert prows == twin


class TestEntryOracleWiring:
    """The __spark_entry__ wiring itself: the generated VALUES oracles
    must parse in DuckDB and reproduce the twin pair sets."""

    def test_minhash_oracle_sql_runs(self):
        import duckdb
        import __spark_entry__ as entry

        sql = entry._minhash_pairs_oracle(SF_DIR)
        got = sorted(duckdb.sql(sql).fetchall())
        want = tw.minhash_pairs(
            entry._twin_docs_cached(SF_DIR), **entry._MINHASH_CFG
        )
        assert got == want
        cols = [d[0] for d in duckdb.sql(sql).description]
        assert cols == ["id_a", "id_b", "jaccard"]

    def test_oracle_sql_registry_has_lsh_entries(self):
        import __spark_entry__ as entry

        os.environ["SPARK_GRAFT_ORACLE_SF"] = SF_DIR
        try:
            oracles = entry.oracle_sql()
        finally:
            os.environ.pop("SPARK_GRAFT_ORACLE_SF", None)
        for k in ("minhash_pairs", "simhash_pairs", "minhash_incremental"):
            assert k in oracles and "values" in oracles[k]
