"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Spark-first design, sized for 100 TB:

* **Shingling/hashing/signatures are pure Column expressions** (xxhash64,
  transform, aggregate) — whole-stage codegen, no Python workers.
* **Candidate generation is a banded-LSH self-join**: explode (band_id,
  band_hash) — one shuffle keyed by band hash, so only documents sharing
  a band collide; never an O(n²) cross join.
* **Verification joins only the candidate pairs** and computes exact
  Jaccard JVM-side.
* Skew: a degenerate band (e.g. empty documents hashing alike) would
  hot-spot one reducer; callers can pre-filter empties (``min_len``).
  AQE skew-join handles the rest.

ANSI-safety: minhash permutations run in modular space (values < 2^31,
multipliers < 2^31 ⇒ products < 2^62) so ANSI mode never sees overflow;
bit-mixing uses shifts/xor which don't overflow-check.
"""

from __future__ import annotations

import random
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import char_ngrams, tokens, word_ngrams

__all__ = [
    "exact_dedup",
    "exact_dup_groups",
    "shingle_hashes",
    "minhash_signature",
    "lsh_bands",
    "minhash_dup_pairs",
    "minhash_dup_pairs_from_index",
    "minhash_index",
    "minhash_dup_pairs_against",
    "minhash_band_table",
    "minhash_dup_pairs_against_bucketed",
    "minhash_dedup",
    "fuzzy_decontaminate",
    "simhash",
    "simhash_dup_pairs",
    "jaccard_tokens",
    "ngram_jaccard_pairs",
    "band_candidate_stats",
    "minhash_candidate_stats",
    "simhash_candidate_stats",
]

_MH_PRIME = 2147483647  # 2^31 - 1 (Mersenne), the classic minhash modulus


def _eager_pairs(pairs: DataFrame, *release: DataFrame) -> DataFrame:
    """Persist + force the (small) pairs table, then release the given
    larger upstream caches. If the eager count itself fails (executor
    fault, corrupt input), the pairs cache is released before
    re-raising — it was persisted INSIDE this module, so no caller's
    finally could ever reach it, and a streaming replay loop would
    otherwise leak one CacheManager entry per retry (review finding).
    The upstream releases run on both paths for the same reason."""
    pairs = pairs.persist()
    try:
        pairs.count()
    except Exception:
        try:
            pairs.unpersist()
        except Exception:  # pragma: no cover - best-effort release
            pass
        raise
    finally:
        for r in release:
            try:
                r.unpersist()
            except Exception:  # pragma: no cover - best-effort release
                pass
    return pairs


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------- exact

def _spread(df: DataFrame) -> DataFrame:
    """Ensure the heavy per-row map (shingling/hashing) runs with at
    least one partition per core. A single large input file otherwise
    serializes the whole signature computation into one task — on a real
    cluster input splits usually provide parallelism, but a repartition
    here is cheap insurance relative to the per-row work it spreads."""
    sc = df.sparkSession.sparkContext
    from ..plans import needs_spread

    # needs_spread replaces the df.rdd partition probe (round-17): the
    # RDD conversion cost 130-240 ms of DRIVER time per operator build
    # — pure overhead whenever the input was already spread
    if needs_spread(df, sc.defaultParallelism):
        df = df.repartition(sc.defaultParallelism)
    return df


def _bcast_if_small(side: DataFrame, gate_df: DataFrame):
    """Size-gated explicit broadcast hint (guide §3.1): the candidate
    self-join and verification joins of the pairs pipelines plan as
    shuffle joins because statistics above a Python UDF are unknown —
    but the operator KNOWS the side is index-proportional (a few ints
    per doc). When the optimizer's free ``sizeInBytes`` estimate for
    ``gate_df`` (the signature input / index) reads under
    ``SPARK_GRAFT_DEDUP_BCAST_MAX_BYTES`` (default 32 MB), hint the
    broadcast and the post-signature pipeline becomes map-side-only
    except the dropDuplicates exchange — measured at sf0.1 (cold,
    same-session min-of-6): minhash_pairs 0.82 -> 0.76 s, simhash_pairs
    0.80 -> 0.74 s. Above the cap (sf10+, any production corpus) the
    plan is byte-identical to before — a size-gated strategy choice,
    not a local tune. Estimate unknown -> no hint (the conservative
    choice at scale)."""
    import os as _os

    from ..plans import plan_size_bytes

    try:
        sz = plan_size_bytes(gate_df)
    except Exception:  # pragma: no cover - defensive
        return side
    cap = int(
        _os.environ.get("SPARK_GRAFT_DEDUP_BCAST_MAX_BYTES", str(32 << 20))
    )
    if sz is not None and sz < cap:
        return F.broadcast(side)
    return side


def exact_dedup(df: DataFrame, *cols: str) -> DataFrame:
    """Exact deduplication on ``cols`` (all columns when empty). Plain
    ``dropDuplicates`` — Catalyst plans a hash aggregate with map-side
    partial dedup; one shuffle on the key."""
    return df.dropDuplicates(list(cols) if cols else None)


def exact_dup_groups(
    df: DataFrame,
    key_col: str,
    id_col: str,
    *,
    hash_key: bool = False,
    max_ids: int | None = None,
) -> DataFrame:
    """Groups of exact duplicates: one row per duplicated key value with
    its count and member ids (ids sorted for determinism).

    ``hash_key=True`` groups on ``sha2(key)`` so the shuffle key is a
    32-byte digest instead of the key value — the right call at 100 TB
    when the key is document text (equal digest treated as equal key,
    2^-256 collision odds); the key value is still carried into the
    output via ``first``. Default ``False`` keeps value-grouping for
    oracle-parity queries on small keys.

    ``max_ids`` bounds the per-group id list: ``collect_list`` builds
    its array IN MEMORY with no spill, so one degenerate key (the empty
    document, a boilerplate page) holding 10^8 duplicates at corpus
    scale OOMs its aggregation task. With ``max_ids`` set, a
    ``row_number`` window (which DOES spill) ranks ids per key first
    and only the first ``max_ids`` enter the list — ``dup_count`` stays
    exact, ``ids`` holds the ``max_ids`` smallest ids. The window
    shares the aggregation's key partitioning, so it reuses the same
    exchange (still one shuffle). Default ``None`` keeps the exact full
    list (oracle-parity)."""
    kexpr = (
        F.sha2(_col(key_col).cast("string"), 256)
        if hash_key
        else _col(key_col)
    )
    base = df
    id_expr = _col(id_col)
    if max_ids is not None:
        if max_ids < 1:
            raise ValueError(f"max_ids must be >= 1, got {max_ids}")
        # nulls LAST: collect_list drops NULL ids anyway, so a NULL
        # sorted first would consume a rank slot and shrink the list
        # below max_ids even when enough non-null ids exist
        w = Window.partitionBy(kexpr).orderBy(id_expr.asc_nulls_last())
        base = df.withColumn("_rn", F.row_number().over(w))
        id_expr = F.when(F.col("_rn") <= max_ids, _col(id_col))
    if hash_key:
        return (
            base.groupBy(kexpr.alias("_kh"))
            .agg(
                F.first(_col(key_col)).alias(key_col),
                F.count("*").alias("dup_count"),
                F.sort_array(F.collect_list(id_expr)).alias("ids"),
            )
            .filter(F.col("dup_count") > 1)
            .select(key_col, "dup_count", "ids")
        )
    return (
        base.groupBy(key_col)
        .agg(
            F.count("*").alias("dup_count"),
            F.sort_array(F.collect_list(id_expr)).alias("ids"),
        )
        .filter(F.col("dup_count") > 1)
    )


# -------------------------------------------------------------- minhash

def shingle_hashes(text, *, mode: str = "char", n: int = 5) -> Column:
    """Distinct shingles hashed to non-negative ints < 2^31 via xxhash64
    (JVM). ``mode``: 'char' (character n-grams) or 'word' (token
    n-grams). Empty-string shingles are dropped — char_ngrams('') yields
    [''], which would give every EMPTY document a real (identical)
    signature instead of the documented NULL, re-enabling the
    mega-bucket the NULL guard exists to prevent."""
    sh = char_ngrams(text, n) if mode == "char" else word_ngrams(text, n)
    sh = F.filter(sh, lambda s: F.length(s) > 0)
    return F.transform(sh, lambda s: F.pmod(F.xxhash64(s), F.lit(_MH_PRIME)))


def _perm_coeffs(num_perm: int, seed: int):
    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, _MH_PRIME), rnd.randrange(0, _MH_PRIME))
        for _ in range(num_perm)
    ]


def minhash_signature(
    text,
    *,
    num_perm: int = 64,
    seed: int = 42,
    mode: str = "char",
    n: int = 5,
    impl: str = "pandas",
) -> Column:
    """MinHash signature: array<bigint> of length ``num_perm``.

    Shingling + xxhash64 stay JVM-side; the permutation minima
    ``min((a*h + b) mod p)`` run in a numpy-vectorized pandas UDF by
    default. Rationale: Spark's higher-order array functions are
    interpreted (excluded from whole-stage codegen), so an
    O(shingles × num_perm) expression pays tree-walk costs per element —
    the Arrow hop plus one numpy broadcast is ~10× faster at num_perm=32+.
    ``impl='expr'`` keeps the pure-JVM single-pass fold (useful where
    Python workers are unavailable).

    Empty documents get NULL signatures so they never collide into
    a mega-bucket.

    SIGNATURE FAMILIES: char-mode signatures are identical across
    impls (both hash the same JVM shingle strings through the same
    permutations). WORD-mode signatures are NOT — the pandas default
    mixes per-token xxhash64 values numerically (and NULLs docs with
    fewer than ``n`` tokens), while ``impl='expr'`` hashes the n-gram
    STRINGS; never band one family against the other (zero collisions,
    silent total recall loss). :func:`minhash_index` and every operator
    in this module build on the pandas family."""
    coeffs = _perm_coeffs(num_perm, seed)
    if impl == "expr":
        if mode == "word":
            # mirror the pandas family's short-doc contract: fewer than
            # n tokens => NULL (word_ngrams would emit one partial gram)
            hashes = F.when(
                F.size(tokens(_col(text))) >= n,
                shingle_hashes(text, mode=mode, n=n),
            )
        else:
            hashes = shingle_hashes(text, mode=mode, n=n)
        sig = F.aggregate(
            hashes,
            F.array_repeat(F.lit(_MH_PRIME).cast("bigint"), num_perm),
            lambda acc, h: F.zip_with(
                acc,
                F.array(*[(h * a + b) % _MH_PRIME for a, b in coeffs]),
                lambda x, y: F.least(x, y),
            ),
        )
        return F.when(F.size(hashes) > 0, sig)

    a_vec = np.array([a for a, _ in coeffs], dtype=np.int64)[:, None]
    b_vec = np.array([b for _, b in coeffs], dtype=np.int64)[:, None]

    def _minima(shingle_hashes_i64: np.ndarray):
        hv = shingle_hashes_i64[None, :]
        # h,a < 2^31 => products < 2^62: no int64 overflow
        return ((a_vec * hv + b_vec) % _MH_PRIME).min(axis=1).tolist()

    if mode == "word":
        # Word mode never materializes n-gram STRINGS: tokens are hashed
        # once JVM-side (xxhash64), and an n-gram's hash is a numeric mix
        # of its n consecutive token hashes — vectorized slicing in numpy.
        # Building 100s of concat_ws(slice(...)) strings per row through
        # Spark's interpreted higher-order functions costs more than the
        # whole signature otherwise.
        tok_hashes = F.transform(tokens(_col(text)), lambda t: F.xxhash64(t))
        mix = np.array(
            [0x9E3779B1, 0x85EBCA77, 0xC2B2AE3D, 0x27D4EB2F, 0x165667B1][:n]
            if n <= 5
            else [0x9E3779B1 + 2 * i + 1 for i in range(n)],
            dtype=np.uint64,
        )

        @F.pandas_udf("array<bigint>")
        def _sig_words(hs: pd.Series) -> pd.Series:
            out = []
            for h in hs:
                if h is None or len(h) < n:
                    out.append(None)
                    continue
                hv = np.asarray(h, dtype=np.int64).astype(np.uint64)
                acc = hv[: len(hv) - n + 1] * mix[0]
                for i in range(1, n):
                    acc = acc ^ (hv[i : len(hv) - n + 1 + i] * mix[i])
                sh = np.unique((acc % np.uint64(_MH_PRIME)).astype(np.int64))
                out.append(_minima(sh))
            return pd.Series(out, dtype=object)

        # asNondeterministic: optimizer hint ONLY (the signature is
        # deterministic) — it stops Catalyst duplicating this expensive
        # UDF when a consumer filters on its output (guide §4.4: the
        # pushed-down filter re-evaluates the UDF below the spread
        # exchange, i.e. serially on the unspread scan — round-17
        # measured 2x signature evaluation in minhash_pairs' plan).
        return _sig_words.asNondeterministic()(tok_hashes)

    hashes = shingle_hashes(text, mode=mode, n=n)

    @F.pandas_udf("array<bigint>")
    def _sig(hs: pd.Series) -> pd.Series:
        out = []
        for h in hs:
            if h is None or len(h) == 0:
                out.append(None)
                continue
            out.append(_minima(np.asarray(h, dtype=np.int64)))
        return pd.Series(out, dtype=object)

    # optimizer hint only — see the word-mode return above (guide §4.4)
    return _sig.asNondeterministic()(hashes)


def _signature_with_hashes(
    text, *, num_perm: int, seed: int, mode: str, n: int
) -> Column:
    """struct<sig: array<bigint>, hashes: array<bigint>> in ONE pandas
    pass: the banding uses ``sig``; verification uses the distinct
    shingle-hash set directly (exact Jaccard over hashes ≡ over shingles
    modulo 2^31-hash collisions) — the text is never re-shingled."""
    coeffs = _perm_coeffs(num_perm, seed)
    a_vec = np.array([a for a, _ in coeffs], dtype=np.int64)[:, None]
    b_vec = np.array([b for _, b in coeffs], dtype=np.int64)[:, None]
    ret = "struct<sig:array<bigint>,hashes:array<bigint>>"

    if mode == "word":
        tok_hashes = F.transform(tokens(_col(text)), lambda t: F.xxhash64(t))
        mix = np.array(
            [0x9E3779B1, 0x85EBCA77, 0xC2B2AE3D, 0x27D4EB2F, 0x165667B1][:n]
            if n <= 5
            else [0x9E3779B1 + 2 * i + 1 for i in range(n)],
            dtype=np.uint64,
        )

        @F.pandas_udf(ret)
        def _sw(hs: pd.Series) -> pd.DataFrame:
            sigs, hsets = [], []
            for h in hs:
                if h is None or len(h) < n:
                    sigs.append(None)
                    hsets.append(None)
                    continue
                hv = np.asarray(h, dtype=np.int64).astype(np.uint64)
                acc = hv[: len(hv) - n + 1] * mix[0]
                for i in range(1, n):
                    acc = acc ^ (hv[i : len(hv) - n + 1 + i] * mix[i])
                sh = np.unique((acc % np.uint64(_MH_PRIME)).astype(np.int64))
                sigs.append(((a_vec * sh[None, :] + b_vec) % _MH_PRIME).min(axis=1).tolist())
                hsets.append(sh.tolist())
            return pd.DataFrame({"sig": sigs, "hashes": hsets}, dtype=object)

        # asNondeterministic: optimizer hint ONLY (deterministic in
        # fact) — prevents Catalyst pushing a consumer's
        # isnotnull(sig) filter below the spread exchange by
        # DUPLICATING this whole signature pass (guide §4.4; round-17
        # plan audit: minhash_pairs evaluated _sw twice, the pushed
        # copy serially below the exchange).
        return _sw.asNondeterministic()(tok_hashes)

    hashes = shingle_hashes(text, mode=mode, n=n)

    @F.pandas_udf(ret)
    def _sc(hs: pd.Series) -> pd.DataFrame:
        sigs, hsets = [], []
        for h in hs:
            if h is None or len(h) == 0:
                sigs.append(None)
                hsets.append(None)
                continue
            sh = np.unique(np.asarray(h, dtype=np.int64))
            sigs.append(((a_vec * sh[None, :] + b_vec) % _MH_PRIME).min(axis=1).tolist())
            hsets.append(sh.tolist())
        return pd.DataFrame({"sig": sigs, "hashes": hsets}, dtype=object)

    # optimizer hint only — see the word-mode return above (guide §4.4)
    return _sc.asNondeterministic()(hashes)


def lsh_bands(sig: Column, *, bands: int, rows: int) -> Column:
    """Split a signature into ``bands`` bands of ``rows`` and hash each:
    array of (band_id, band_hash) structs. Two documents agreeing on ANY
    band become join candidates."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.xxhash64(
                    F.concat_ws(",", *[
                        F.element_at(sig, b * rows + r + 1).cast("string")
                        for r in range(rows)
                    ])
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )


def band_candidate_stats(
    keyed: DataFrame, *, distinct_pairs: bool = True
) -> dict:
    """Candidate-volume statistics for a bucketed LSH join.

    ``keyed``: (id, key) rows — one row per (document, bucket key), the
    exact relation the banded self-join joins on. Returns a dict:

    - ``join_rows``: sum over buckets of C(c, 2) — the number of rows
      the self-join MATERIALIZES before any verification filter. This,
      not the verified-pair count, is the quantity that blows up when
      banding parameters are too loose for the corpus's duplicate
      density: it is the shuffle+compare cost the cluster actually
      pays.
    - ``distinct_pairs``: unique (id_a, id_b) candidates across buckets
      (a pair agreeing on k buckets costs k join rows but verifies
      once after dropDuplicates). Skipped when ``distinct_pairs=False``
      (it requires executing the join; join_rows needs only an agg).
    - ``max_bucket``: the largest bucket — the skew indicator; one hot
      bucket of size c contributes C(c, 2) rows on a single reduce
      task, the first thing to check when join_rows looks pathological.
    - ``buckets_multi``: buckets with ≥ 2 members.

    Scale guidance (measured round 17 on a planted-density fixture):
    candidate volume is linear in planted near-dup density for
    minhash banding (num_perm=32/bands=8: join_rows ≈ bands x
    true_pairs + O(1) background on a 50k-doc corpus) and for
    simhash 16-bit blocking at ≥ 100k docs the BACKGROUND term
    dominates instead: join_rows grows ~ n²/2^block_bits x n_blocks
    from birthday collisions alone — raise block_bits (more, smaller
    buckets would break the pigeonhole bound; fewer bits = bigger
    buckets) or pre-partition by a cheap exact key before blocking
    when n per partition exceeds ~1M."""
    agg = (
        keyed.groupBy("key")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .agg(
            F.coalesce(
                F.sum(F.expr("c * (c - 1) / 2")), F.lit(0)
            ).cast("long").alias("join_rows"),
            F.coalesce(F.max("c"), F.lit(0)).alias("max_bucket"),
            F.count("*").alias("buckets_multi"),
        )
        .collect()[0]
    )
    out = {
        "join_rows": agg["join_rows"],
        "max_bucket": agg["max_bucket"],
        "buckets_multi": agg["buckets_multi"],
    }
    if distinct_pairs:
        L, R = keyed.alias("L"), keyed.alias("R")
        out["distinct_pairs"] = (
            L.join(R, F.col("L.key") == F.col("R.key"))
            .filter(F.col("L.id") < F.col("R.id"))
            .select("L.id", "R.id")
            .distinct()
            .count()
        )
    return out


def minhash_candidate_stats(
    index: DataFrame,
    *,
    num_perm: int = 64,
    bands: int = 16,
    distinct_pairs: bool = True,
) -> dict:
    """:func:`band_candidate_stats` over a :func:`minhash_index`'s
    banding — the pre-verification join volume of
    :func:`minhash_dup_pairs_from_index` under the same parameters."""
    rows = _band_rows(num_perm, bands)
    keyed = index.select(
        "id",
        F.explode(lsh_bands(F.col("sig"), bands=bands, rows=rows)).alias(
            "key"
        ),
    )
    return band_candidate_stats(keyed, distinct_pairs=distinct_pairs)


def simhash_candidate_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    block_bits: int = 16,
    distinct_pairs: bool = True,
) -> dict:
    """:func:`band_candidate_stats` over :func:`simhash_dup_pairs`'s
    block decomposition — the pre-Hamming join volume under the same
    ``block_bits``."""
    if block_bits < 1 or 64 % block_bits:
        raise ValueError(f"block_bits ({block_bits}) must divide 64")
    n_blocks = 64 // block_bits
    keyed = df.select(
        F.col(id_col).alias("id"), simhash(text_col).alias("_sh")
    ).filter(
        # a shared NULL hash must not pool every empty doc into one
        # quadratic bucket
        F.col("_sh").isNotNull()
    ).select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block_id"),
                        F.shiftright(F.col("_sh"), i * block_bits)
                        .bitwiseAND(F.lit((1 << block_bits) - 1))
                        .alias("block_val"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("key"),
    )
    return band_candidate_stats(keyed, distinct_pairs=distinct_pairs)


def jaccard_tokens(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two string arrays (JVM)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def _band_rows(num_perm: int, bands: int) -> int:
    """rows-per-band, validating divisibility: a remainder would make
    banding silently ignore the trailing signature elements — degraded
    candidate recall with no error, the worst failure mode for a dedup
    pass you trust at corpus scale."""
    if bands < 1 or num_perm % bands:
        raise ValueError(
            f"num_perm ({num_perm}) must be a positive multiple of "
            f"bands ({bands}); a remainder would drop trailing signature "
            "elements from banding and silently degrade recall"
        )
    return num_perm // bands


def minhash_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
    mode: str = "char",
    n: int = 5,
    threshold: float = 0.7,
    materialize: bool = True,
) -> DataFrame:
    """Near-duplicate candidate pairs with exact-Jaccard verification.

    Plan shape (the 100 TB story):
      1. map: signature + bands per doc  (scan-speed, no shuffle)
      2. explode bands → shuffle keyed by (band_id, band_hash) — the ONLY
         large shuffle; identical docs co-locate, everything else spreads
      3. self-join within buckets (id_a < id_b cuts mirror pairs)
      4. verify: exact Jaccard on shingle sets, filter by threshold

    Returns (id_a, id_b, jaccard).

    Cache contract: the signature base is read by the self-join and both
    verification joins, so it must be cached while the pairs compute.
    With ``materialize=True`` (default) the pairs are computed eagerly,
    cached, and the big signature base is unpersisted before returning —
    nothing large stays pinned in executor memory. ``materialize=False``
    returns a fully lazy plan and persists NOTHING (the base recomputes
    per branch; Spark still reuses the shuffle files where plans share
    exchanges) — for callers composing further before executing.
    """
    _band_rows(num_perm, bands)  # validate BEFORE anything persists
    base = minhash_index(
        df, id_col, text_col, num_perm=num_perm, seed=seed, mode=mode, n=n
    )
    if materialize:
        base = base.persist()
    try:
        return minhash_dup_pairs_from_index(
            base,
            num_perm=num_perm,
            bands=bands,
            seed=seed,
            mode=mode,
            n=n,
            threshold=threshold,
            materialize=materialize,
        )
    finally:
        if materialize:
            base.unpersist()  # pairs eagerly cached by from_index


def minhash_dup_pairs_from_index(
    index: DataFrame,
    *,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
    mode: str = "char",
    n: int = 5,
    threshold: float = 0.7,
    materialize: bool = True,
) -> DataFrame:
    """:func:`minhash_dup_pairs` steps 2-4 over a PRECOMPUTED
    :func:`minhash_index` — band explode → (band)-keyed self-join →
    exact-Jaccard verify — for callers that already paid the one
    expensive text pass and want to reuse it (the streaming near-dedup
    sink computes ONE batch index and feeds it here, the
    against-the-store join, AND the index write — one signature pass
    instead of three). The index is read by the band branch and both
    verification joins: persist it around this call (the caller owns
    its lifecycle; ``materialize=True`` eagerly caches only the small
    PAIRS output, never touching the input's persistence)."""
    rows = _band_rows(num_perm, bands)
    validate_index_meta(index, num_perm=num_perm, seed=seed, mode=mode, n=n)
    band_df = index.withColumn(
        "_band", F.explode(lsh_bands(F.col("sig"), bands=bands, rows=rows))
    ).select("_band", F.col("id").alias("_id"))
    cand = (
        band_df.alias("L")
        .join(
            _bcast_if_small(band_df.alias("R"), index),
            F.col("L._band") == F.col("R._band"),
        )
        .filter(F.col("L._id") < F.col("R._id"))
        .select(F.col("L._id").alias("id_a"), F.col("R._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hs = _bcast_if_small(
        index.select(F.col("id").alias("_hid"), F.col("hashes").alias("_h")),
        index,
    )
    pairs = (
        cand.join(hs, cand.id_a == hs._hid)
        .withColumnRenamed("_h", "ha")
        .drop("_hid")
        .join(hs, cand.id_b == hs._hid)
        .withColumnRenamed("_h", "hb")
        .drop("_hid")
        # exact Jaccard over the hashed shingle sets (array_intersect /
        # array_union are codegen'd collection ops, not interpreted HOFs)
        .withColumn("jaccard", jaccard_tokens(F.col("ha"), F.col("hb")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    if materialize:
        pairs = _eager_pairs(pairs)
    return pairs


def minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_perm: int = 64,
    seed: int = 42,
    mode: str = "char",
    n: int = 5,
) -> DataFrame:
    """Persistable near-dup index: ``(id, sig, hashes)`` — the one
    expensive text pass (shingle + signature) materialized so
    INCREMENTAL dedup never re-reads corpus text. Write it out once
    (parquet; bucket by ``id`` for the verification joins), then run
    :func:`minhash_dup_pairs_against` per new batch. At 100 TB this is
    the difference between O(corpus) and O(batch) per increment: the
    index is ~``num_perm + |shingle set|`` ints per doc, and each
    increment touches the index via one keyed band join.

    The permutation-family parameters ride along as column metadata on
    ``sig`` (survives a parquet round-trip), so
    :func:`minhash_dup_pairs_against` can reject an index built under a
    different family instead of silently losing recall."""
    base = _spread(df).select(
        F.col(id_col).alias("id"),
        _signature_with_hashes(
            text_col, num_perm=num_perm, seed=seed, mode=mode, n=n
        ).alias("_s"),
    ).filter(F.col("_s.sig").isNotNull())
    return base.select(
        "id",
        F.col("_s.sig").alias(
            "sig",
            metadata={"num_perm": num_perm, "seed": seed, "mode": mode, "n": n},
        ),
        F.col("_s.hashes").alias("hashes"),
    )


def _validate_family(
    df: DataFrame, field: str, want: dict, what: str, remedy: str
) -> dict:
    """Shared metadata-mismatch check for :func:`validate_index_meta`
    and the band-table matcher: compares ``want`` against ``field``'s
    column metadata (absent metadata = trusted as-is) and raises with a
    uniform message on any clash. Returns the metadata read."""
    try:
        meta = dict(df.schema[field].metadata or {})
    except (KeyError, TypeError):
        meta = {}
    mismatch = {
        k: (meta[k], v) for k, v in want.items() if k in meta and meta[k] != v
    }
    if mismatch:
        detail = ", ".join(
            f"{k}: {what}={a!r} vs requested={b!r}"
            for k, (a, b) in sorted(mismatch.items())
        )
        raise ValueError(
            f"minhash {what} was built under a different permutation "
            f"family ({detail}); {remedy}"
        )
    return meta


def validate_index_meta(
    index: DataFrame, *, num_perm: int, seed: int, mode: str, n: int
) -> None:
    """Reject a :func:`minhash_index` built under a different
    permutation family (signatures are only comparable within one) —
    the ONE definition shared by the batch matcher and the streaming
    :func:`~..streaming.contamination_alerts` monitor. An index written
    by other tooling, without the metadata, is trusted as-is."""
    _validate_family(
        index,
        "sig",
        {"num_perm": num_perm, "seed": seed, "mode": mode, "n": n},
        "index",
        "signatures are not comparable — rebuild the index or match its "
        "parameters",
    )


def minhash_dup_pairs_against(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
    mode: str = "char",
    n: int = 5,
    threshold: float = 0.7,
    materialize: bool = True,
    exclude_same_id: bool = True,
    new_index: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup detection: verified pairs ``(new_id,
    index_id, jaccard)`` between a NEW batch and an existing
    :func:`minhash_index` (built with the SAME num_perm/seed/mode/n —
    signatures are only comparable under one permutation family).

    ``new_index``: a PRECOMPUTED :func:`minhash_index` of the batch —
    skips the batch's signature pass entirely (``new_df`` is then
    ignored; the caller owns its persistence, and ``materialize`` only
    eagerly caches the small pairs output). The streaming sink uses
    this to pay one signature pass per micro-batch instead of three.

    ``exclude_same_id=True`` (default) drops pairs whose ids are equal —
    right when the batch and index share an id namespace (re-submitted
    rows must not match themselves). Pass ``False`` when the two sides
    use UNRELATED id spaces (e.g. training ids vs benchmark ids in
    :func:`fuzzy_decontaminate`): there an accidental numeric collision
    would otherwise silently suppress a genuine match.

    ``materialize=True`` (default) caches the batch's signatures while
    the pairs compute (the signature UDF otherwise re-runs in the band
    branch AND both verification joins — a plan-audit finding), then
    unpersists before returning; ``materialize=False`` returns a fully
    lazy plan and persists nothing.

    Plan shape: the batch pays the text pass (signature map, no
    shuffle); both sides explode to band keys and meet in ONE
    ``(band_id, band_hash)``-keyed equi-join — the index side ships
    only ``(band, id)`` pairs into that shuffle, with hash sets joined
    back by id afterwards, so shuffle volume stays bands×ids, not
    bands×shingle-sets. Batch-vs-batch duplicates are NOT reported
    (run :func:`minhash_dup_pairs` on the batch for those); rows whose
    ids already appear in the index are not matched to themselves.

    If the index carries :func:`minhash_index`'s permutation-family
    metadata, a num_perm/seed/mode/n mismatch raises instead of
    silently comparing incomparable signatures (an index written by
    other tooling, without the metadata, is trusted as-is).
    """
    rows = _band_rows(num_perm, bands)
    validate_index_meta(index, num_perm=num_perm, seed=seed, mode=mode, n=n)
    own_newx = new_index is None
    if own_newx:
        newx = minhash_index(
            new_df, id_col, text_col,
            num_perm=num_perm, seed=seed, mode=mode, n=n,
        )
    else:
        validate_index_meta(
            new_index, num_perm=num_perm, seed=seed, mode=mode, n=n
        )
        newx = new_index
    if materialize and own_newx:
        newx = newx.persist()
    nb = newx.withColumn(
        "_band", F.explode(lsh_bands(F.col("sig"), bands=bands, rows=rows))
    ).select(F.col("_band"), F.col("id").alias("new_id"))
    ib = index.withColumn(
        "_band", F.explode(lsh_bands(F.col("sig"), bands=bands, rows=rows))
    ).select(F.col("_band"), F.col("id").alias("index_id"))
    cand = nb.join(ib, "_band")
    if exclude_same_id:
        cand = cand.filter(F.col("new_id") != F.col("index_id"))
    cand = cand.select("new_id", "index_id").dropDuplicates(
        ["new_id", "index_id"]
    )
    nh = newx.select(F.col("id").alias("_nid"), F.col("hashes").alias("ha"))
    ih = index.select(F.col("id").alias("_iid"), F.col("hashes").alias("hb"))
    pairs = (
        cand.join(nh, cand.new_id == nh._nid)
        .drop("_nid")
        .join(ih, cand.index_id == ih._iid)
        .drop("_iid")
        .withColumn("jaccard", jaccard_tokens(F.col("ha"), F.col("hb")))
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "index_id", "jaccard")
    )
    if materialize:
        pairs = _eager_pairs(pairs, *((newx,) if own_newx else ()))
    return pairs


def _index_fingerprint(index: DataFrame) -> tuple[int, str]:
    """(row count, order-insensitive content checksum) of a
    :func:`minhash_index` — one joint ``xxhash64(id, sig)`` per row,
    summed as decimal(38,0) (ANSI-safe: a bigint sum of hash values
    would overflow-error at real index sizes). One agg job, one index
    scan; used at band-table build time and under ``check_sync="full"``."""
    row = index.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(
                F.xxhash64(
                    F.col("id").cast("string"), F.col("sig")
                ).cast("decimal(38,0)")
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("h"),
    ).collect()[0]
    return int(row.n), str(row.h)


def minhash_band_table(
    index: DataFrame,
    table: str,
    *,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
    mode: str = "char",
    n: int = 5,
    num_buckets: int = 64,
    record_checksum: bool = True,
) -> None:
    """Materialize a :func:`minhash_index`'s exploded band table —
    ``(band_id, band_hash, id)`` — as a catalog table BUCKETED and
    sorted on the band key (``saveAsTable``; bucketing needs the
    catalog).

    This pre-pays the index side of the incremental band join ONCE at
    build time: :func:`minhash_dup_pairs_against` re-explodes the whole
    index and shuffles its band rows on EVERY batch, while
    :func:`minhash_dup_pairs_against_bucketed` joins the (small) batch
    against this table's bucket layout with NO index-side exchange —
    the difference between re-shuffling a corpus-sized index nightly
    and shuffling only each night's drop. Rebuild (or append a new
    partition) when the index grows.

    The permutation-family parameters (plus ``bands`` and the index row
    count at build time) ride along as column metadata on
    ``band_hash``, surviving the catalog round-trip, so the bucketed
    matcher can reject a mismatched family AND an out-of-sync
    index/table pair. ``record_checksum`` (default True) additionally
    records a content checksum — one extra full index scan, paid once
    at build, that lets ``check_sync="full"`` catch equal-cardinality
    in-place replacement; pass False to keep the build at a single
    index scan when that protection isn't wanted."""
    rows = _band_rows(num_perm, bands)
    validate_index_meta(index, num_perm=num_perm, seed=seed, mode=mode, n=n)
    from ..sources import write_bucketed

    # content checksum is a FULL extra index scan at build time (the
    # banding write scans it once more) — build-time-only, paid once to
    # let check_sync="full" catch equal-cardinality in-place
    # replacement forever after; pass record_checksum=False to keep the
    # build at one scan (the matcher then only has the count probe)
    if record_checksum:
        index_rows, index_checksum = _index_fingerprint(index)
    else:
        index_rows, index_checksum = index.count(), None
    meta = {
        "num_perm": num_perm,
        "seed": seed,
        "mode": mode,
        "n": n,
        "bands": bands,
        # parquet count-star is metadata-cheap; recording it lets the
        # matcher catch an index that grew after this table was built
        # (silent recall loss otherwise)
        "index_rows": index_rows,
    }
    if index_checksum is not None:
        # order-insensitive content checksum (joint per-row hash over
        # id+sig): catches an index whose rows were REPLACED in place
        # at equal cardinality — the count probe's blind spot.
        # Compared only under check_sync="full" (it costs a scan).
        meta["index_checksum"] = index_checksum
    banded = (
        index.withColumn(
            "_band",
            F.explode(lsh_bands(F.col("sig"), bands=bands, rows=rows)),
        )
        .select(
            F.col("_band.band_id").alias("band_id"),
            F.col("_band.band_hash").alias("band_hash", metadata=meta),
            "id",
        )
    )
    write_bucketed(
        banded,
        table,
        bucket_by=["band_id", "band_hash"],
        num_buckets=num_buckets,
        sort_by=["band_id", "band_hash"],
    )


def minhash_dup_pairs_against_bucketed(
    new_df: DataFrame,
    band_table: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
    mode: str = "char",
    n: int = 5,
    threshold: float = 0.7,
    materialize: bool = True,
    exclude_same_id: bool = True,
    check_sync: bool = True,
) -> DataFrame:
    """:func:`minhash_dup_pairs_against` with the candidate join fed by
    a pre-built :func:`minhash_band_table` (``spark.table(name)``):
    identical output ``(new_id, index_id, jaccard)``, but the
    corpus-sized index band rows arrive PRE-SHUFFLED from the bucketed
    layout — only the batch side exchanges into the join (plan-asserted
    in tests). ``index`` is still needed for the hash-set verification
    joins (id-keyed; bucket it by ``id`` too if those dominate).

    Validates the band table's recorded permutation family/bands, and —
    when the table recorded its build-time index size — that ``index``
    still has that many rows: an index that grew after the table was
    built would otherwise lose recall SILENTLY (its new docs are never
    band candidates), the exact failure mode this tier must never have.
    A table written by other tooling, without the metadata, is trusted
    as-is.

    ``check_sync`` tiers: ``True`` (default) runs the metadata-cheap
    row-count probe only — it is BLIND to an index whose rows were
    replaced in place at equal cardinality. ``"full"`` additionally
    compares the build-time content checksum (joint id+sig hash sum)
    recorded by :func:`minhash_band_table`, catching in-place
    replacement at the cost of one index scan per call — use it after
    any index rewrite, or periodically; it RAISES when the table
    carries no checksum (built with ``record_checksum=False`` or by
    other tooling) rather than silently degrading to the count probe.
    ``False`` skips both probes."""
    rows = _band_rows(num_perm, bands)
    validate_index_meta(index, num_perm=num_perm, seed=seed, mode=mode, n=n)
    bt_meta = _validate_family(
        band_table,
        "band_hash",
        {"num_perm": num_perm, "seed": seed, "mode": mode, "n": n,
         "bands": bands},
        "band table",
        "rebuild it or match its parameters",
    )
    if check_sync == "full" and "index_checksum" not in bt_meta:
        # silently degrading to the count probe would leave exactly
        # the equal-cardinality blind spot "full" exists to close
        raise ValueError(
            "check_sync=\"full\" requested but this band table carries "
            "no content checksum (built with record_checksum=False or "
            "by other tooling) — rebuild it with minhash_band_table("
            "record_checksum=True) or drop to check_sync=True"
        )
    if check_sync and "index_rows" in bt_meta:
        if check_sync == "full":
            have, have_ck = _index_fingerprint(index)
        else:
            have, have_ck = index.count(), None
        if have != bt_meta["index_rows"]:
            raise ValueError(
                f"minhash band table was built from an index of "
                f"{bt_meta['index_rows']} rows but the index now has "
                f"{have} — its extra/removed docs would silently miss "
                "the band join; rebuild the band table "
                "(minhash_band_table) or pass check_sync=False if the "
                "drift is intentional"
            )
        if have_ck is not None and have_ck != bt_meta["index_checksum"]:
            raise ValueError(
                "minhash band table is out of sync with the index: row "
                "counts match but the content checksum differs — the "
                "index's rows were replaced/updated in place since the "
                "table was built, so its changed docs would silently "
                "miss the band join; rebuild the band table "
                "(minhash_band_table)"
            )
    newx = minhash_index(
        new_df, id_col, text_col, num_perm=num_perm, seed=seed, mode=mode, n=n
    )
    if materialize:
        newx = newx.persist()
    nb = newx.withColumn(
        "_band", F.explode(lsh_bands(F.col("sig"), bands=bands, rows=rows))
    ).select(
        F.col("_band.band_id").alias("band_id"),
        F.col("_band.band_hash").alias("band_hash"),
        F.col("id").alias("new_id"),
    )
    cand = nb.join(band_table, ["band_id", "band_hash"]).select(
        "new_id", F.col("id").alias("index_id")
    )
    if exclude_same_id:
        cand = cand.filter(F.col("new_id") != F.col("index_id"))
    cand = cand.dropDuplicates(["new_id", "index_id"])
    nh = newx.select(F.col("id").alias("_nid"), F.col("hashes").alias("ha"))
    ih = index.select(F.col("id").alias("_iid"), F.col("hashes").alias("hb"))
    pairs = (
        cand.join(nh, cand.new_id == nh._nid)
        .drop("_nid")
        .join(ih, cand.index_id == ih._iid)
        .drop("_iid")
        .withColumn("jaccard", jaccard_tokens(F.col("ha"), F.col("hb")))
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "index_id", "jaccard")
    )
    if materialize:
        pairs = _eager_pairs(pairs, newx)
    return pairs


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    method: str = "pairs",
    score_col: str | None = None,
    **kwargs,
) -> DataFrame:
    """Drop near-duplicates.

    ``method="pairs"`` (default): one-shot removal of the larger id of
    each verified pair — the standard single-pass approximation (over-
    deletes on chains: A~B, B~C removes C even if A,C were never
    compared, but never under-deletes a true duplicate edge).

    ``method="components"``: exact single-link clustering — connected
    components (O(log n) alternating-star rounds, operators/graph.py)
    over the pair graph, keeping the minimum id per component.

    ``method="keep_best"``: component clustering, keeping the
    highest-``score_col`` row per component (ties → min id) — the
    canonical-selection policy production corpora ship. Requires
    ``score_col``."""
    if method not in ("pairs", "components", "keep_best"):
        # validate BEFORE minhash_dup_pairs eagerly materializes the
        # whole LSH pipeline — a typo'd method must not cost a corpus
        # pass before erroring
        raise ValueError(f"unknown dedup method: {method!r}")
    if method == "keep_best" and score_col is None:
        raise ValueError('method="keep_best" requires score_col')
    pairs = minhash_dup_pairs(df, id_col, text_col, **kwargs)
    if method == "components":
        from .graph import dedup_by_components

        return dedup_by_components(df, id_col, pairs)
    if method == "keep_best":
        from .graph import dedup_keep_best

        return dedup_keep_best(df, id_col, pairs, score_col)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


# -------------------------------------------------------------- simhash

def simhash(text, *, mode: str = "word", n: int = 1, impl: str = "pandas") -> Column:
    """64-bit SimHash of the document (BIGINT): per-feature xxhash64
    (JVM), bit votes, sign-threshold to bits.

    Default impl is a numpy-vectorized pandas UDF over the JVM-computed
    hash array (same interpreted-HOF rationale as minhash_signature);
    ``impl='expr'`` keeps the pure-JVM fold. Both produce identical
    values.

    ``mode='word', n=1`` votes over unique tokens; char mode votes over
    shingles."""
    feats = (
        F.array_distinct(tokens(_col(text)))
        if mode == "word" and n == 1
        else (char_ngrams(text, n) if mode == "char" else word_ngrams(text, n))
    )
    hashes = F.transform(feats, lambda s: F.xxhash64(s))
    if impl == "pandas":

        @F.pandas_udf("bigint")
        def _simhash(hs: pd.Series) -> pd.Series:
            shifts = np.arange(64, dtype=np.uint64)
            out = []
            for h in hs:
                if h is None:
                    out.append(None)
                    continue
                hv = np.asarray(h, dtype=np.int64).astype(np.uint64)[:, None]
                votes = (((hv >> shifts[None, :]) & 1).astype(np.int64) * 2 - 1).sum(
                    axis=0
                )
                v = int(((votes > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64))
                out.append(v - (1 << 64) if v >= (1 << 63) else v)
            return pd.Series(out, dtype=object)

        # optimizer hint only (deterministic in fact) — stops Catalyst
        # duplicating the signature below a pushed isnotnull filter
        # (guide §4.4; round-17: simhash_pairs evaluated _simhash twice)
        return _simhash.asNondeterministic()(hashes)
    # Bit positions are plan-time constants (shift amounts must be python
    # ints in Spark), so the 64 vote lanes unroll here; the per-row work
    # stays one aggregate pass over the feature hashes.
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(
                        F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                    ).otherwise(F.lit(-1))
                    for b in range(64)
                ]
            ),
            lambda x, y: x + y,
        ),
    )
    out = F.lit(0).cast("bigint")
    for b in range(64):
        out = out + F.when(
            F.element_at(votes, b + 1) > 0,
            F.shiftleft(F.lit(1).cast("bigint"), b),
        ).otherwise(F.lit(0).cast("bigint"))
    return out


def _popcount64(x: Column) -> Column:
    """Hamming weight of a BIGINT via bit_count (Spark 3.3+)."""
    return F.bit_count(x)


def simhash_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    block_bits: int = 16,
    block_cap: Optional[int] = None,
    materialize: bool = True,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.

    Blocked join: split the 64-bit hash into 4 16-bit blocks; by
    pigeonhole, two hashes within Hamming distance 3 agree on ≥1 block —
    join on (block_id, block_value) instead of cross join (same shuffle
    discipline as minhash banding). Returns (id_a, id_b, hamming).

    ``block_cap``: drop block buckets holding more than this many docs
    before the self-join. The block join's background volume grows
    ~ n²·n_blocks/2^block_bits (birthday) PLUS a block-value skew term
    from template-shared tokens — measured round 17 on the planted
    fixture: 500k docs produced **1.41e9 join rows** (max bucket
    12,168 → 74M rows from ONE bucket) for 467k verified pairs.
    Raising block_bits is not available (pigeonhole needs
    ≥ max_hamming+1 blocks). Recall
    contract: a true pair is lost only if EVERY block the two hashes
    agree on is capped-hot. MEASURED on the planted 500k fixture:
    cap=2,000 cut wall 524 s → 250 s (~2.1x) at recall **0.849** — the
    loss concentrates exactly in template-heavy docs whose every block
    is hot, so the cap is an explicit recall trade, not a free win;
    prefer sharding/pre-partitioning when full recall matters.
    ``None`` (default) keeps exact pigeonhole semantics.

    Cache contract: same as :func:`minhash_dup_pairs` — the simhash base
    is read by both sides of the self-join; ``materialize=True``
    (default) computes the (small) pairs eagerly, caches them, and
    unpersists the base before returning; ``materialize=False`` returns
    a lazy plan with no caching at all.
    """
    if block_bits < 1 or 64 % block_bits:
        raise ValueError(
            f"block_bits ({block_bits}) must divide 64; a remainder would "
            "silently drop high bits from blocking and degrade recall"
        )
    n_blocks = 64 // block_bits
    if max_hamming > n_blocks - 1:
        raise ValueError(
            f"max_hamming ({max_hamming}) breaks the pigeonhole guarantee "
            f"for {n_blocks} blocks of {block_bits} bits: a pair can "
            f"differ in every block at distance > {n_blocks - 1} and never "
            "become a candidate — use smaller block_bits (more blocks) or "
            "a lower max_hamming"
        )
    df = _spread(df)
    base = df.select(
        F.col(id_col).alias("_id"), simhash(text_col).alias("_sh")
    ).filter(
        # NULL-text docs have a NULL simhash, and Spark struct equality
        # treats NULL fields as EQUAL — without this filter every
        # null-hash doc lands in one all-pairs join bucket (quadratic
        # join volume; the hamming filter then drops every row, so the
        # blow-up is invisible in the RESULT and only shows as shuffle
        # cost). Round-17 planted-density work surfaced it.
        F.col("_sh").isNotNull()
    ).withColumn(
        "_blk",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block_id"),
                        F.shiftright(F.col("_sh"), i * block_bits)
                        .bitwiseAND(F.lit((1 << block_bits) - 1))
                        .alias("block_val"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ),
    )
    base = base.select("_blk", "_id", "_sh")
    if block_cap is not None:
        if block_cap < 2:
            raise ValueError(
                f"block_cap ({block_cap}) must be >= 2: a bucket needs "
                "two members to produce a candidate at all"
            )
        # hot-block list is tiny (block values over the cap), so it
        # broadcasts; the anti-join prunes the quadratic buckets before
        # they reach the self-join's shuffle
        hot = (
            base.groupBy("_blk")
            .agg(F.count("*").alias("_c"))
            .filter(F.col("_c") > block_cap)
            .select("_blk")
        )
        base = base.join(F.broadcast(hot), "_blk", "left_anti")
    if materialize:
        # simhash is the expensive map and a broadcast self-join would
        # otherwise compute it once per side
        base = base.persist()
    pairs = (
        base.alias("L")
        .join(
            _bcast_if_small(base.alias("R"), df),
            F.col("L._blk") == F.col("R._blk"),
        )
        .filter(F.col("L._id") < F.col("R._id"))
        .select(
            F.col("L._id").alias("id_a"),
            F.col("R._id").alias("id_b"),
            F.col("L._sh").alias("sh_a"),
            F.col("R._sh").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", _popcount64(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    if materialize:
        pairs = _eager_pairs(pairs, base)
    return pairs


# ------------------------------------------------------- n-gram jaccard

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
    band_on: str = "fingerprint",
) -> DataFrame:
    """Exact word-n-gram Jaccard over candidate pairs.

    Candidates come from a cheap blocking key (default: shared rare
    n-gram via min-hash of the n-gram set — one permutation) so the join
    stays linear-ish; the exact Jaccard then verifies. For guaranteed
    completeness use minhash_dup_pairs with more permutations.
    """
    grams = word_ngrams(F.col(text_col), n)
    block = F.array_min(
        F.transform(grams, lambda g: F.pmod(F.xxhash64(g), F.lit(_MH_PRIME)))
    )
    base = _spread(df).select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_text"), block.alias("_blk")
    ).filter(F.col("_blk").isNotNull())
    return (
        base.alias("L")
        .join(base.alias("R"), F.col("L._blk") == F.col("R._blk"))  # ReusedExchange
        .filter(F.col("L._id") < F.col("R._id"))
        .select(
            F.col("L._id").alias("id_a"),
            F.col("R._id").alias("id_b"),
            F.col("L._text").alias("ta"),
            F.col("R._text").alias("tb"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "jaccard",
            jaccard_tokens(word_ngrams(F.col("ta"), n), word_ngrams(F.col("tb"), n)),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def fuzzy_decontaminate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    benchmark: DataFrame,
    bench_id_col: str = "doc_id",
    bench_text_col: str | None = None,
    *,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
    mode: str = "char",
    n: int = 5,
    threshold: float = 0.7,
    materialize: bool = True,
) -> DataFrame:
    """Fuzzy benchmark decontamination: drop training documents whose
    MinHash Jaccard against ANY benchmark document reaches
    ``threshold`` — the near-duplicate rung above the exact-n-gram
    :func:`~..text.decontaminate` (paraphrased or lightly edited eval
    leakage survives exact n-gram checks; it does not survive a 0.7
    Jaccard gate).

    Plan shape: benchmark → :func:`minhash_index` (benchmarks are
    small — MBs of signatures); train batch pays one signature pass;
    candidates meet in the banded equi-join of
    :func:`minhash_dup_pairs_against`; contaminated ids anti-join back
    against the input. At 100 TB the train side is never shuffled by
    content — only (band, id) pairs move.

    Cache contract (matches :func:`minhash_dup_pairs`): with
    ``materialize=True`` (default) the benchmark index is persisted and
    forced before the band join — the benchmark-side signature UDF would
    otherwise re-run in the band branch AND the verification join (a
    round-6 plan-audit finding: 18 ArrowEvalPython nodes in the lazy
    lineage) — and the contaminated-id set is computed eagerly and
    localCheckpoint'ed (it is a bounded id list — benchmark-hit
    training ids — so executor-local storage is fine, same trade
    :mod:`..graph` makes per CC round), so the RETURNED plan is just
    scan + anti-join against an in-memory id table with zero Python
    hops left. The index and pair caches are released before
    returning. ``materialize=False`` returns the fully lazy
    composition and persists nothing."""
    bench_text = bench_text_col or text_col
    idx = minhash_index(
        benchmark.select(
            F.col(bench_id_col).alias("doc_id"),
            F.col(bench_text).alias("text"),
        ),
        "doc_id",
        "text",
        num_perm=num_perm,
        seed=seed,
        mode=mode,
        n=n,
    )
    if materialize:
        idx = idx.persist()
    hits = minhash_dup_pairs_against(
        df.select(F.col(id_col), F.col(text_col)),
        idx,
        id_col,
        text_col,
        num_perm=num_perm,
        bands=bands,
        seed=seed,
        mode=mode,
        n=n,
        threshold=threshold,
        materialize=materialize,
        # training ids and benchmark ids are UNRELATED namespaces: a
        # numeric collision (train id 7 vs benchmark doc_id 7) must not
        # suppress a real contamination hit
        exclude_same_id=False,
    )
    contaminated = hits.select(F.col("new_id").alias(id_col)).distinct()
    if materialize:
        # hits is already persisted+forced by minhash_dup_pairs_against;
        # truncate lineage at the (even smaller) distinct-id set, then
        # release every intermediate cache — only the id table remains.
        contaminated = contaminated.localCheckpoint(eager=True)
        hits.unpersist()
        idx.unpersist()
    return df.join(contaminated, id_col, "left_anti")
