"""Distributed BPE training (operators/bpe.py)."""

import pytest
from pyspark.sql import functions as F

from spark_pipeline_ops.operators import bpe


@pytest.fixture(scope="module")
def sennrich(spark):
    # the canonical corpus from the BPE paper's worked example
    return spark.createDataFrame(
        [
            (1, "low low low low low"),
            (2, "lower lower"),
            (3, "newest newest newest newest newest newest"),
            (4, "widest widest widest"),
        ],
        "doc_id bigint, text string",
    )


class TestWordTable:
    def test_counts(self, spark, sennrich):
        wt = {r.word: r.wcount for r in bpe.word_table(
            sennrich, "text").collect()}
        assert wt == {"low": 5, "lower": 2, "newest": 6, "widest": 3}

    def test_lowercase_and_regex(self, spark):
        docs = spark.createDataFrame(
            [(1, "Foo BAR foo, bar! 123")], "doc_id bigint, text string"
        )
        wt = {r.word: r.wcount for r in bpe.word_table(docs, "text").collect()}
        assert wt == {"foo": 2, "bar": 2}

    def test_min_count(self, spark, sennrich):
        wt = {r.word for r in bpe.word_table(
            sennrich, "text", min_count=3).collect()}
        assert wt == {"low", "newest", "widest"}


class TestBpeTrain:
    def test_sennrich_merge_order(self, spark, sennrich):
        wt = bpe.word_table(sennrich, "text")
        merges, seg = bpe.bpe_train(wt, n_merges=6)
        # the paper's worked example: es, est, lo, low, then the
        # (e,w)/(ew,est) chain at freq 6 (deterministic tie-breaks)
        assert [(m[1], m[2]) for m in merges] == [
            ("e", "s"), ("es", "t"), ("l", "o"),
            ("lo", "w"), ("e", "w"), ("ew", "est"),
        ]
        assert [m[3] for m in merges] == [9, 9, 7, 7, 6, 6]
        got = {r.word: list(r.syms) for r in seg.collect()}
        assert got["low"] == ["low"]
        assert got["newest"] == ["n", "ewest"]
        assert got["widest"] == ["w", "i", "d", "est"]
        assert got["lower"] == ["low", "e", "r"]

    def test_early_stop_when_no_pairs(self, spark):
        wt = spark.createDataFrame(
            [("a", 5), ("b", 3)], "word string, wcount bigint"
        )
        merges, _ = bpe.bpe_train(wt, n_merges=10)
        assert merges == []

    def test_greedy_nonoverlapping(self, spark):
        # 'aaa' + merge (a,a) must give [aa, a], not [a, aa] or [aaa]
        wt = spark.createDataFrame([("aaa", 9)], "word string, wcount bigint")
        merges, seg = bpe.bpe_train(wt, n_merges=1)
        assert (merges[0][1], merges[0][2], merges[0][3]) == ("a", "a", 18)
        assert list(seg.collect()[0].syms) == ["aa", "a"]

    def test_validation(self, spark, sennrich):
        wt = bpe.word_table(sennrich, "text")
        with pytest.raises(ValueError, match="n_merges"):
            bpe.bpe_train(wt, n_merges=0)

    def test_checkpoint_path(self, spark, sennrich):
        # crossing checkpoint_every must not change results
        wt = bpe.word_table(sennrich, "text")
        m1, _ = bpe.bpe_train(wt, n_merges=5, checkpoint_every=2)
        m2, _ = bpe.bpe_train(wt, n_merges=5, checkpoint_every=100)
        assert m1 == m2


class TestBpeApply:
    def test_replays_training(self, spark, sennrich):
        wt = bpe.word_table(sennrich, "text")
        merges, seg = bpe.bpe_train(wt, n_merges=6)
        fresh = wt.withColumn("syms", F.split("word", ""))
        replayed = bpe.bpe_apply(fresh, "syms", merges)
        a = {r.word: list(r.syms) for r in replayed.collect()}
        b = {r.word: list(r.syms) for r in seg.collect()}
        assert a == b


class TestBpeEncodeWords:
    def test_counts_and_oov_fallback(self, spark, sennrich):
        wt = bpe.word_table(sennrich, "text")
        _, seg = bpe.bpe_train(wt, n_merges=6)
        docs = spark.createDataFrame(
            [(1, "low lower"), (2, "newest zzzz")],
            "doc_id bigint, text string",
        )
        out = {r.doc_id: (r.n_words, r.n_bpe_tokens)
               for r in bpe.bpe_encode_words(docs, "text", seg).collect()}
        # low=1 token, lower=3 tokens; newest=2, zzzz OOV -> 4 chars
        assert out == {1: (2, 4), 2: (2, 6)}


def _py_bpe(word_counts: dict, n_merges: int):
    """Pure-Python reference BPE (greedy left-to-right, same tie-break)."""
    wt = {w: list(w) for w in word_counts}
    merges = []
    for step in range(1, n_merges + 1):
        pairs = {}
        for w, syms in wt.items():
            c = word_counts[w]
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] = (
                    pairs.get((syms[i], syms[i + 1]), 0) + c
                )
        if not pairs:
            break
        (l, r), f = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((step, l, r, f))
        for w, syms in wt.items():
            out = []
            for x in syms:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            wt[w] = out
    return merges, wt


class TestBpeDifferential:
    def test_randomized_against_python_reference(self, spark):
        import random

        rng = random.Random(42)
        alpha = "abcde"
        words = {}
        for _ in range(80):
            w = "".join(
                rng.choice(alpha) for _ in range(rng.randint(1, 9))
            )
            words[w] = words.get(w, 0) + rng.randint(1, 50)
        wt = spark.createDataFrame(
            list(words.items()), "word string, wcount bigint"
        )
        merges, seg = bpe.bpe_train(wt, n_merges=12, checkpoint_every=5)
        ref_merges, ref_wt = _py_bpe(words, 12)
        assert merges == ref_merges
        got = {r.word: list(r.syms) for r in seg.collect()}
        assert got == ref_wt


def _py_bpe_batched(word_counts: dict, n_merges: int, batch_size: int):
    """Pure-Python mirror of bpe_train's batched loop: classic pair
    counting + _select_merge_batch acceptance — lets hypothesis pin the
    acceptance rule against :func:`_py_bpe` over thousands of corpora
    without a Spark job per case."""
    wt = {w: list(w) for w in word_counts}
    symbols = {s for syms in wt.values() for s in syms}
    merges = []
    while len(merges) < n_merges:
        m = min(batch_size, n_merges - len(merges))
        pairs = {}
        for w, syms in wt.items():
            c = word_counts[w]
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] = (
                    pairs.get((syms[i], syms[i + 1]), 0) + c
                )
        if not pairs:
            break
        ranked = sorted(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[: m + 1]
        rows = [
            {"left": l, "right": r, "freq": f} for (l, r), f in ranked
        ]
        batch = (
            bpe._select_merge_batch(rows, symbols, m) if m > 1 else rows[:1]
        )
        for rr in batch:
            l, r = rr["left"], rr["right"]
            merges.append((len(merges) + 1, l, r, rr["freq"]))
            symbols.add(l + r)
            for w, syms in wt.items():
                out = []
                for x in syms:
                    if out and out[-1] == l and x == r:
                        out[-1] = l + r
                    else:
                        out.append(x)
                wt[w] = out
    return merges, wt


class TestBatchedAcceptanceProperty:
    def test_hypothesis_batched_equals_classic(self):
        # the acceptance rule's exactness proof, falsified-or-not over
        # thousands of random corpora: the batched merge SEQUENCE must
        # equal classic one-at-a-time training on every input, for
        # every batch size — pure Python, no Spark job per case
        from hypothesis import given, settings
        from hypothesis import strategies as st

        words_st = st.dictionaries(
            st.text(alphabet="abc", min_size=1, max_size=6),
            st.integers(min_value=1, max_value=20),
            min_size=1,
            max_size=10,
        )

        @settings(max_examples=400, deadline=None)
        @given(words=words_st, n=st.integers(1, 12), bs=st.integers(2, 6))
        def run(words, n, bs):
            classic, cwt = _py_bpe(words, n)
            batched, bwt = _py_bpe_batched(words, n, bs)
            assert batched == classic
            assert bwt == cwt

        run()


class TestBpeBatchedTraining:
    def test_batched_equals_classic_on_sennrich(self, spark, sennrich):
        wt = bpe.word_table(sennrich, "text")
        classic, seg1 = bpe.bpe_train(wt, n_merges=6)
        batched, seg4 = bpe.bpe_train(wt, n_merges=6, batch_size=4)
        assert batched == classic
        assert {r.word: list(r.syms) for r in seg4.collect()} == {
            r.word: list(r.syms) for r in seg1.collect()
        }

    def test_batched_equals_classic_randomized(self, spark):
        # conflict-heavy random corpus: batching must degrade toward
        # 1-per-round but never reorder the learned merge list
        import random

        rng = random.Random(7)
        alpha = "abcd"
        words = {}
        for _ in range(60):
            w = "".join(
                rng.choice(alpha) for _ in range(rng.randint(1, 8))
            )
            words[w] = words.get(w, 0) + rng.randint(1, 40)
        wt = spark.createDataFrame(
            list(words.items()), "word string, wcount bigint"
        )
        classic, _ = bpe.bpe_train(wt, n_merges=10, checkpoint_every=4)
        batched, _ = bpe.bpe_train(
            wt, n_merges=10, checkpoint_every=4, batch_size=5
        )
        assert batched == classic

    def test_select_batch_conflict_fallback(self):
        # p2 shares a symbol with p1 → only p1 accepted (classic step)
        ranked = [
            {"left": "a", "right": "b", "freq": 10},
            {"left": "b", "right": "c", "freq": 9},
            {"left": "d", "right": "e", "freq": 8},
        ]
        got = bpe._select_merge_batch(ranked, set("abcde"), 2)
        assert [(r["left"], r["right"]) for r in got] == [("a", "b")]

    def test_select_batch_threshold_evicts_nonstrict(self):
        # (u,v) disjoint from (a,b) but TIED with the conflicting
        # (x,a): a created pair (x,ab) could reach that count and
        # win the tiebreak, so (u,v) must NOT be batch-accepted
        ranked = [
            {"left": "a", "right": "b", "freq": 10},
            {"left": "u", "right": "v", "freq": 6},
            {"left": "x", "right": "a", "freq": 6},
        ]
        got = bpe._select_merge_batch(ranked, set("abuvx"), 2)
        assert [(r["left"], r["right"]) for r in got] == [("a", "b")]
        # strictly dominating disjoint pair IS accepted
        ranked[1]["freq"] = 7
        got = bpe._select_merge_batch(ranked, set("abuvx"), 2)
        assert [(r["left"], r["right"]) for r in got] == [
            ("a", "b"), ("u", "v")
        ]

    def test_select_batch_alias_guard(self):
        # (a, bc) merges to "abc" which ALREADY exists as a symbol
        # (an earlier (ab, c) made it): counts of old pairs touching
        # "abc" can rise unboundedly — stop the batch there
        ranked = [
            {"left": "x", "right": "y", "freq": 10},
            {"left": "a", "right": "bc", "freq": 9},
            {"left": "d", "right": "e", "freq": 8},
        ]
        got = bpe._select_merge_batch(
            ranked, {"a", "bc", "abc", "x", "y", "d", "e"}, 3
        )
        assert [(r["left"], r["right"]) for r in got] == [("x", "y")]
        # first-ranked alias still accepted alone: aliasing affects
        # SUBSEQUENT counts, never the current argmax
        got = bpe._select_merge_batch(
            ranked[1:], {"a", "bc", "abc", "d", "e"}, 2
        )
        assert [(r["left"], r["right"]) for r in got] == [("a", "bc")]

    def test_select_batch_sentinel_row_never_accepted(self):
        # m+1 disjoint rows: the window's last row only sets the
        # threshold (pairs below it are unseen), it is never accepted
        ranked = [
            {"left": "a", "right": "b", "freq": 10},
            {"left": "c", "right": "d", "freq": 9},
            {"left": "e", "right": "f", "freq": 8},
        ]
        got = bpe._select_merge_batch(ranked, set("abcdef"), 2)
        assert [(r["left"], r["right"]) for r in got] == [
            ("a", "b"), ("c", "d")
        ]
        # short window (fewer rows than m+1): nothing exists below,
        # every disjoint row is acceptable
        got = bpe._select_merge_batch(ranked, set("abcdef"), 5)
        assert len(got) == 3

    def test_self_pair_closes_batch(self, spark):
        # review-found hole: a self-pair's created pairs are bounded by
        # its OWN count, not the threshold — {"aaa":5, "cd":4}: classic
        # learns (a,a,10) then (aa,a,5); a batch must never slip
        # (c,d,4) into slot 2
        wt = spark.createDataFrame(
            [("aaa", 5), ("cd", 4)], "word string, wcount bigint"
        )
        classic, _ = bpe.bpe_train(wt, n_merges=3)
        batched, _ = bpe.bpe_train(wt, n_merges=3, batch_size=3)
        assert classic == batched
        assert [(m[1], m[2]) for m in classic][:2] == [("a", "a"), ("aa", "a")]
        # threshold variant: {"aaa":10,"cd":8,"ce":7} — classic
        # [(a,a,20),(aa,a,10)], the (c,d,8)/(c,e,7) tier never second
        wt2 = spark.createDataFrame(
            [("aaa", 10), ("cd", 8), ("ce", 7)],
            "word string, wcount bigint",
        )
        c2, _ = bpe.bpe_train(wt2, n_merges=4)
        b2, _ = bpe.bpe_train(wt2, n_merges=4, batch_size=4)
        assert c2 == b2
        assert [(m[1], m[2]) for m in c2][:2] == [("a", "a"), ("aa", "a")]

    def test_select_batch_self_pair_unit(self):
        # self-pair first: accepted alone, batch closed
        ranked = [
            {"left": "a", "right": "a", "freq": 10},
            {"left": "c", "right": "d", "freq": 4},
        ]
        got = bpe._select_merge_batch(ranked, set("acd"), 2)
        assert [(r["left"], r["right"]) for r in got] == [("a", "a")]
        # self-pair second: both kept when strictly above the next row,
        # but nothing after the self-pair
        ranked = [
            {"left": "x", "right": "y", "freq": 12},
            {"left": "a", "right": "a", "freq": 10},
            {"left": "c", "right": "d", "freq": 4},
            {"left": "e", "right": "f", "freq": 3},
        ]
        got = bpe._select_merge_batch(ranked, set("xyacdef"), 4)
        assert [(r["left"], r["right"]) for r in got] == [
            ("x", "y"), ("a", "a")
        ]
        # self-pair TIED with the row after it is evicted (created
        # pairs could tie it and win the name break)
        ranked[1]["freq"] = 4
        got = bpe._select_merge_batch(ranked, set("xyacdef"), 4)
        assert [(r["left"], r["right"]) for r in got] == [("x", "y")]

    def test_batch_size_validation(self, spark, sennrich):
        wt = bpe.word_table(sennrich, "text")
        with pytest.raises(ValueError, match="batch_size"):
            bpe.bpe_train(wt, n_merges=2, batch_size=0)


class TestRound8Guards:
    def test_scd2_valid_from_same_as_eff(self, spark):
        from spark_pipeline_ops.operators import cdc

        ch = spark.createDataFrame(
            [(1, "a", 10), (1, "b", 20)], "id bigint, v string, eff bigint"
        )
        out = cdc.scd2_history(ch, "id", "eff", valid_from_col="eff")
        rows = {r.v: (r.eff, r.valid_to) for r in out.collect()}
        assert rows == {"a": (10, 20), "b": (20, None)}

    def test_leakage_split_with_node_comp_columns(self, spark):
        from spark_pipeline_ops.operators import split as split_ops

        df = spark.createDataFrame(
            [(1, 99, 98), (2, 99, 98), (3, 99, 98)],
            "doc_id bigint, node bigint, comp bigint",
        )
        edges = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
        out = split_ops.leakage_safe_split(df, "doc_id", edges).collect()
        by_id = {r.doc_id: r.split_group for r in out}
        assert by_id == {1: 1, 2: 1, 3: 3}
        # caller's own node/comp columns survive untouched
        assert all(r.node == 99 and r.comp == 98 for r in out)


class TestBpeStats:
    def test_compression_and_oov(self, spark):
        from spark_pipeline_ops.operators import bpe

        # train on docs 1,2; doc 0 contributes the OOV words
        docs = spark.createDataFrame(
            [
                (0, "zq zq unknownword"),
                (1, "low low lower"),
                (2, "low lowest"),
            ],
            "doc_id long, text string",
        )
        train = docs.filter("doc_id != 0")
        wt = bpe.word_table(train, "text")
        _, seg = bpe.bpe_train(wt, n_merges=4)
        row = bpe.bpe_stats(docs, "text", seg).collect()[0]
        assert row.n_docs == 3 and row.n_words == 8
        # 3 OOV occurrences (zq, zq, unknownword), char fallback counts
        assert row.n_oov == 3
        assert row.oov_rate == round(3 / 8, 6)
        assert row.n_chars == sum(
            len(w)
            for w in "zq zq unknownword low low lower low lowest".split()
        )
        # in-vocab words tokenize to <= their char count; OOV fall back
        # to exactly their char count -> tokens never exceed chars
        assert row.n_tokens <= row.n_chars
        assert row.tokens_per_word == round(row.n_tokens / 8, 6)
        assert row.chars_per_token == round(row.n_chars / row.n_tokens, 6)
