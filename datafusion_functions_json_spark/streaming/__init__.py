"""Structured Streaming composition.

The reference's functions are stateless deterministic scalars, so they
compose with Spark streaming for free (SURVEY.md §2.4) — these helpers
package the common shapes: JSON-parsing a stream, watermarked windowed
aggregation over an extracted field, and late-data handling.

All our JSON functions work unchanged on streaming DataFrames: pandas
UDFs are supported in streaming plans, and every function is
deterministic + stateless (no accumulated state per row)."""

from __future__ import annotations

import sys

import pandas as pd  # module-level: pandas_udf type hints must resolve
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import _register_pickle_by_value
from ..functions import api as jsonf

# stateful operators' closures reference module-level helpers
# (_session_frame, the session DDLs) that must travel with the pickled
# function: without it, sessionize from a foreign cwd dies with
# ModuleNotFoundError at the first micro-batch
_register_pickle_by_value(sys.modules[__name__])

__all__ = [
    "extract_json_stream",
    "windowed_json_counts",
    "enrich_stream",
    "curate_stream",
    "decontaminate_stream",
    "contamination_alerts",
    "dedup_stream",
    "sessionize",
    "sessionize_batch",
    "sessionize_tws",
    "upsert_sink",
    "merge_batch_fn",
    "neardedup_sink",
    "neardedup_batch_fn",
    "neardedup_compact",
    "drift_monitor_sink",
    "read_deduped",
    "cap_stream",
    "read_current",
    "read_version",
    "list_versions",
]


def extract_json_stream(
    stream: DataFrame,
    json_col: str,
    fields: dict,
    ts_col: str = "ts",
) -> DataFrame:
    """Project typed fields out of a JSON column on a (possibly
    streaming) DataFrame. ``fields``: {out_name: (kind, *path)} with
    kind in {str,int,float,bool,text,length,exists} — the full
    :func:`~..functions.multi.json_extract_multi` kind set, because the
    extraction IS the fused extractor: one parse and at most one Arrow
    hop per document however many fields you pull (K separate getter
    calls would pay K parses and K JVM->Python round trips on the
    streaming hot path — the exact cost multi.py exists to remove).
    The extraction is a stateless projection, so streaming plans carry
    it unchanged."""
    from ..functions.multi import json_extract_multi

    u = json_extract_multi(json_col, fields)
    cols = [F.col(ts_col)] if ts_col in stream.columns else []
    cols += [F.col(c) for c in stream.columns if c not in (json_col, ts_col)]
    tmp = "_jx_fused"
    out = stream.withColumn(tmp, u)
    return out.select(
        *cols, *[F.col(f"{tmp}.{name}").alias(name) for name in fields]
    )


def windowed_json_counts(
    stream: DataFrame,
    json_col: str,
    key_path: tuple,
    *,
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked tumbling-window counts grouped by a JSON-extracted
    key: the canonical streaming composition (readStream → extract →
    withWatermark → window/groupBy). Late rows beyond the watermark are
    dropped by Spark's state store; state size stays bounded."""
    extracted = stream.withColumn(
        "_key", jsonf.json_as_text(json_col, *key_path)
    ).withWatermark(ts_col, watermark)
    return extracted.groupBy(
        F.window(F.col(ts_col), window).alias("win"), F.col("_key")
    ).agg(F.count("*").alias("n"))



def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    on,
    *,
    how: str = "left",
    broadcast: bool = True,
) -> DataFrame:
    """Stream-static enrichment join: attach dimension attributes to a
    live stream (events → user/account/document metadata) — the
    streaming twin of the batch broadcast join (`orders_join`).

    Stream-static joins are STATELESS on the stream side: each
    micro-batch joins against the static plan with no state store, no
    watermark requirement, and unbounded-stream safety (contrast with
    stream-stream joins, which buffer both sides). ``broadcast=True``
    hints the dim side — at 100 TB of stream the alternative is a
    per-micro-batch shuffle of the batch's rows against the dim, which
    is exactly the hot-path cost you don't want; drop the hint only
    when the dim is too big to broadcast (Spark then plans a
    shuffle-hash/sort-merge per micro-batch).

    Note file-source dims are re-listed per micro-batch by Spark, so a
    dim path that gets rewritten between batches is picked up — the
    standard slowly-changing-dimension refresh pattern.

    ``how`` is restricted to stream-preserving joins: ``inner`` and
    ``left`` (left = keep stream rows with no dim match, nulls for dim
    columns). Right/full joins would need the unmatched STATIC side,
    which is unknowable mid-stream.
    """
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(
            f"enrich_stream supports inner/left joins only, got {how!r}"
        )
    d = F.broadcast(dim) if broadcast else dim
    return stream.join(d, on, how)


def sessionize_batch(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    *,
    gap_seconds: int = 600,
) -> DataFrame:
    """Batch twin of the streaming sessionizers: gap sessionization as
    two window passes over (user, ts) — ``lag`` marks gap starts,
    a running sum numbers the sessions. ONE shuffle keyed by user (both
    windows share the partitioning; Spark reuses the exchange and sorts
    once). Returns one row per session: ``(user, session_idx, n_events,
    start_s, end_s)`` with epoch-second bounds.

    Backfill runs this over the historical table; the live path runs
    `sessionize`/`sessionize_tws` with the same gap — the classic
    lambda pairing, with identical session semantics.
    """
    from pyspark.sql import Window
    from pyspark.sql import types as T

    # TIMESTAMP_NTZ (how newer Spark reads the testdata's NANOS parquet)
    # cannot cast straight to LONG — route timestamp-like columns
    # through a TIMESTAMP cast (session-tz epoch; one fixed offset per
    # session, so gaps and session bounds are unaffected)
    ts_dt = df.schema[ts_col].dataType
    tcol = F.col(ts_col)
    if isinstance(ts_dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        tcol = tcol.cast("timestamp")
    base = df.select(
        F.col(user_col).alias("user"), tcol.cast("long").alias("_s")
    )
    w = Window.partitionBy("user").orderBy("_s")
    prev = F.lag("_s").over(w)
    new_sess = F.when(
        prev.isNull() | ((F.col("_s") - prev) > gap_seconds), F.lit(1)
    ).otherwise(F.lit(0))
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_idx = base.withColumn("session_idx", F.sum(new_sess).over(wsum))
    return with_idx.groupBy("user", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min("_s").alias("start_s"),
        F.max("_s").alias("end_s"),
    )


def dedup_stream(
    stream: DataFrame,
    key_cols,
    *,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` expires each key from the state
    store once the watermark passes it, so state size is O(keys per
    watermark window) — a plain ``dropDuplicates`` on a stream stores
    every key ever seen and grows without bound (the thing that kills a
    long-running 100 TB ingest). Duplicates arriving farther apart than
    the watermark delay are deliberately kept: that is the documented
    within-watermark contract; pair with a batch `operators.dedup` pass
    for full-corpus exactness."""
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def _session_frame(pd, rows):
    # datetime64 columns, NOT object-dtype Timestamp lists: the Arrow
    # serializer hard-crashes the worker on object-dtype timestamps
    return pd.DataFrame(
        {
            "key": [r[0] for r in rows],
            "session_start": pd.to_datetime([r[1] for r in rows], unit="s"),
            "session_end": pd.to_datetime([r[2] for r in rows], unit="s"),
            "n_events": [r[3] for r in rows],
        }
    )


SESSION_OUTPUT_DDL = (
    "key string, session_start timestamp, session_end timestamp, n_events bigint"
)
_SESSION_STATE_DDL = "start double, last double, n bigint"


def sessionize(
    stream: DataFrame,
    json_col: str,
    key_path: tuple,
    *,
    ts_col: str = "ts",
    gap_seconds: float = 300.0,
):
    """Custom stateful streaming operator: gap-based sessionization keyed
    by a JSON-extracted field, via ``applyInPandasWithState``.

    A session for a key closes when no event arrives within
    ``gap_seconds``; closed sessions are emitted with start/end/count.
    In-batch gaps close sessions immediately; the trailing open session
    is held in the state store and emitted when the processing-time
    timeout fires (real streams) — state per key is three numbers, so
    the store stays O(active keys) regardless of input volume.

    Works identically on batch DataFrames for backfill (groupBy the same
    logic); the streaming path is the reference pattern for "custom
    stateful operator" composition on top of our stateless JSON scalars.
    """
    import pandas as pd  # local: runs on workers
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    extracted = stream.select(
        jsonf.json_as_text(json_col, *key_path).alias("_key"),
        F.col(ts_col).cast("timestamp").alias("_ts"),
    ).filter(F.col("_key").isNotNull())

    gap = float(gap_seconds)

    def fn(key, pdf_iter, state: GroupState):
        rows = []
        if state.hasTimedOut:
            if state.exists:
                start, last, n = state.get
                rows.append((key[0], start, last, int(n)))
                state.remove()
            if rows:
                yield _session_frame(pd, rows)
            return

        ts_all = []
        for pdf in pdf_iter:
            # pd.notna, NOT `is not None`: a NULL/uncastable timestamp
            # arrives as NaT, which passes an identity check and then
            # raises on .timestamp(), killing the whole streaming query
            ts_all.extend(t.timestamp() for t in pdf["_ts"] if pd.notna(t))
        ts_all.sort()
        if state.exists:
            start, last, n = state.get
        else:
            start = last = None
            n = 0
        for t in ts_all:
            if last is None:
                start, last, n = t, t, 1
            elif t - last > gap:
                rows.append((key[0], start, last, int(n)))
                start, last, n = t, t, 1
            else:
                last = t
                n += 1
        if ts_all:
            state.update((float(start), float(last), int(n)))
            state.setTimeoutDuration(int(gap * 1000))
        elif state.exists:
            # all-NaT invocation with an OPEN session: applyInPandas-
            # WithState rebuilds GroupState per invocation with NO
            # timeout carried over, so skipping setTimeoutDuration here
            # doesn't "preserve" the old timer — it DELETES it, the
            # session is never emitted, and its state entry leaks
            # forever. Re-arming with the full gap is the only liveness-
            # preserving option this API offers: a bounded extension
            # (≤ gap per spurious batch), state (start/last/n) untouched.
            # The transformWithState twin genuinely preserves the old
            # deadline — its explicit registered timers persist.
            state.setTimeoutDuration(int(gap * 1000))
        if rows:
            yield _session_frame(pd, rows)

    return extracted.groupBy("_key").applyInPandasWithState(
        fn,
        outputStructType=SESSION_OUTPUT_DDL,
        stateStructType=_SESSION_STATE_DDL,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def sessionize_tws(
    stream: DataFrame,
    json_col: str,
    key_path: tuple,
    *,
    ts_col: str = "ts",
    gap_seconds: float = 300.0,
):
    """Gap sessionization via Spark 4's ``transformWithStateInPandas`` —
    the modern stateful API (StatefulProcessor + typed ValueState +
    explicit timers) superseding ``applyInPandasWithState``. Same output
    contract and semantics as :func:`sessionize`.

    Differences that matter at scale: state is a NAMED, typed variable
    (schema evolution + TTL supported), timers are first-class (multiple
    per key), and the operator requires the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass`` =
    ``...RocksDBStateStoreProvider``) — the store you would run at
    100 TB anyway for incremental checkpointing.

    Requires the ``protobuf`` Python package (Spark's state-server
    protocol for this operator is protobuf-framed); raises a clear
    error up front when it is absent rather than crashing the query
    at start.
    """
    import pandas as pd  # local: runs on workers

    try:  # pragma: no cover - environment-dependent
        import google.protobuf  # noqa: F401
    except ImportError as e:  # pragma: no cover
        raise RuntimeError(
            "sessionize_tws requires the 'protobuf' package "
            "(transformWithStateInPandas speaks protobuf to the JVM "
            "state server); install protobuf or use sessionize() "
            "(applyInPandasWithState) instead"
        ) from e

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    extracted = stream.select(
        jsonf.json_as_text(json_col, *key_path).alias("_key"),
        F.col(ts_col).cast("timestamp").alias("_ts"),
    ).filter(F.col("_key").isNotNull())

    gap = float(gap_seconds)

    class _SessionProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            # extends the shared session tuple with the live timer's
            # expiry so stale timers are detectable (see below)
            self._state = handle.getValueState(
                "session", _SESSION_STATE_DDL + ", timer_ms bigint"
            )
            self._handle = handle

        def handleInputRows(self, key, rows, timerValues):
            ts_all = []
            for pdf in rows:
                # pd.notna: NaT passes `is not None` then raises on
                # .timestamp() (same hazard as the sessionize twin)
                ts_all.extend(
                    t.timestamp() for t in pdf["_ts"] if pd.notna(t)
                )
            ts_all.sort()
            cur = self._state.get()
            if cur is not None:
                start, last, n, old_timer = cur
            else:
                start = last = None
                n = 0
                old_timer = None
            out = []
            for t in ts_all:
                if last is None:
                    start, last, n = t, t, 1
                elif t - last > gap:
                    out.append((key[0], start, last, int(n)))
                    start, last, n = t, t, 1
                else:
                    last = t
                    n += 1
            if ts_all:
                # guarded on ts_all (mirrors the sessionize twin): an
                # all-NaT micro-batch must leave the live timer and
                # state untouched instead of extending an open
                # session's timeout with no valid events.
                # one LIVE timer per key: delete the previous batch's
                # timer and remember the new one — without this, a
                # stale timer from batch 1 fires mid-session and
                # handleExpiredTimer would close a still-active
                # session, splitting it into fragments (the
                # applyInPandasWithState twin's setTimeoutDuration
                # resets implicitly; explicit timers must do it here)
                new_timer = timerValues.getCurrentProcessingTimeInMs() + int(
                    gap * 1000
                )
                if old_timer is not None and int(old_timer) != new_timer:
                    try:
                        self._handle.deleteTimer(int(old_timer))
                    except Exception:
                        pass  # already fired/cleaned — staleness check below
                self._state.update(
                    (float(start), float(last), int(n), int(new_timer))
                )
                self._handle.registerTimer(new_timer)
            if out:
                yield _session_frame(pd, out)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            cur = self._state.get()
            if cur is not None:
                start, last, n, live_timer = cur
                # staleness guard: only the LATEST registered timer may
                # close the session (belt to deleteTimer's suspenders —
                # a timer that fired in the same batch as new events
                # must not emit the refreshed session early)
                if (
                    live_timer is not None
                    and expiredTimerInfo.getExpiryTimeInMs() < int(live_timer)
                ):
                    return
                self._state.clear()
                yield _session_frame(pd, [(key[0], start, last, int(n))])

        def close(self) -> None:
            pass

    return extracted.groupBy("_key").transformWithStateInPandas(
        statefulProcessor=_SessionProcessor(),
        outputStructType=SESSION_OUTPUT_DDL,
        outputMode="Update",
        timeMode="ProcessingTime",
    )


def curate_stream(
    stream: DataFrame,
    text_col: str,
    *,
    min_tokens: int = 10,
    langs: tuple = ("en",),
    apply_gopher: bool = True,
    apply_c4: bool = False,
    **gopher_kwargs,
) -> DataFrame:
    """Streaming document curation gate: language ID + token-count
    floor + the Gopher rule conjunction (and optionally the C4 line
    cleaner, which REWRITES ``text_col`` to the cleaned text) applied
    to a live document stream.

    Every gate is a STATELESS deterministic projection/filter
    (operators/text.py pure Column expressions), so this composes with
    ``readStream`` with no state store, no watermark, and no
    micro-batch cost beyond the scan itself — the streaming twin of
    the batch ``pipeline.curate`` front half. Near-dedup needs state:
    chain :func:`dedup_stream` (bounded-state exact dedup) downstream,
    or run MinHash against a static index via :func:`enrich_stream`.

    Adds ``lang`` and ``n_tokens`` columns; rows failing any enabled
    gate are filtered out.
    """
    from ..operators import text as optext

    out = stream.withColumn("lang", optext.lang_id(F.col(text_col)))
    out = out.withColumn("n_tokens", optext.token_count(F.col(text_col)))
    out = out.filter(
        (F.col("n_tokens") >= min_tokens) & F.col("lang").isin(*langs)
    )
    if apply_gopher:
        out = out.filter(
            optext.gopher_quality_flags(F.col(text_col), **gopher_kwargs)["keep"]
        )
    if apply_c4:
        cleaned = optext.c4_clean(F.col(text_col))
        out = (
            out.withColumn("_c4", cleaned)
            .filter(~F.col("_c4")["doc_dropped"])
            .withColumn(text_col, F.col("_c4")["cleaned_text"])
            .drop("_c4")
        )
        # lang/n_tokens must describe the REWRITTEN text the consumer
        # reads (same contract as the batch curate_strict)
        out = out.withColumn(
            "lang", optext.lang_id(F.col(text_col))
        ).withColumn("n_tokens", optext.token_count(F.col(text_col)))
    return out


def decontaminate_stream(
    stream: DataFrame,
    text_col: str,
    benchmark: DataFrame,
    bench_text_col: str | None = None,
    *,
    n: int = 8,
    max_hits: int = 0,
    max_benchmark_grams: int = 5_000_000,
) -> DataFrame:
    """Streaming twin of the batch
    :func:`~..operators.text.decontaminate_filter`: drop stream
    documents with more than ``max_hits`` exact word-``n``-gram overlaps
    with a STATIC eval benchmark. Adds ``contaminated_ngrams`` (count of
    distinct overlapping grams, same semantics as the batch op) and
    filters the leaking rows out.

    Why not the batch plan shape: the batch op is explode → broadcast
    semi-join → per-doc count → ANTI-join, and Structured Streaming
    supports neither stream-static anti-joins nor a non-windowed
    per-doc aggregation feeding a join. The streaming-native shape is
    STATELESS: the distinct benchmark gram set is collected once
    (bounded and validated — eval sets are MBs next to a training
    corpus; ``max_benchmark_grams`` guards against passing a corpus as
    the benchmark) and broadcast to executors, and the per-row hit
    count is one Arrow-batched set-intersection over the JVM-computed
    gram array. No state store, no watermark requirement, composes with
    any downstream windowing/output mode — and the same plan runs
    unchanged on batch DataFrames (pinned equivalent to the batch op
    in tests/test_streaming.py).

    At the 100 TB posture the trade is: the batch op never ships the
    gram set (broadcast-hash join builds it executor-side from the
    exchange), while this ships one compressed copy per executor —
    the price of zero streaming state. The driver-side collect is the
    documented bounded kind (benchmark-sized, like the k×dim centroid
    state), never the stream side.
    """
    from ..operators.text import word_ngrams

    bench_text_col = bench_text_col or text_col
    grams_df = benchmark.select(
        F.explode(word_ngrams(bench_text_col, n)).alias("_gram")
    ).distinct()
    # guard AND collect in ONE job: limit(bound+1) caps driver memory
    # at bound+1 rows whatever the benchmark size (Spark stops pulling
    # past the limit), the length check then rejects oversized inputs
    # — a post-collect check on an unlimited collect couldn't stop the
    # blow-up, and a separate count() probe would run the explode +
    # distinct shuffle twice
    gram_rows = grams_df.limit(max_benchmark_grams + 1).collect()
    if len(gram_rows) > max_benchmark_grams:
        raise ValueError(
            f"benchmark produced over {max_benchmark_grams} distinct "
            f"{n}-grams (driver-side bound) — this looks like a corpus, "
            "not an eval benchmark; use the batch decontaminate_filter "
            "(broadcast join, no collect) instead"
        )
    bench_set = frozenset(r["_gram"] for r in gram_rows)
    bc = stream.sparkSession.sparkContext.broadcast(bench_set)

    @F.pandas_udf("bigint")
    def _hits(grams: pd.Series) -> pd.Series:
        s = bc.value
        return pd.Series(
            [
                sum(1 for g in doc if g in s) if doc is not None else 0
                for doc in grams
            ],
            dtype="int64",
        )

    # asNondeterministic is an OPTIMIZER FENCE, not a semantic claim
    # (the count is pure): without it Catalyst pushes the max_hits
    # filter below the projection, re-inlining the alias, and both the
    # UDF and the JVM gram expansion feeding it evaluate TWICE per row
    # (two ArrowEvalPython nodes in one stage). Fenced, the plan is one
    # evaluation + a filter on the materialized column.
    hits_once = _hits.asNondeterministic()
    out = stream.withColumn(
        "contaminated_ngrams", hits_once(word_ngrams(F.col(text_col), n))
    )
    return out.filter(F.col("contaminated_ngrams") <= max_hits)


def contamination_alerts(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    benchmark_index: DataFrame,
    *,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
    mode: str = "char",
    n: int = 5,
    threshold: float = 0.7,
) -> DataFrame:
    """Live benchmark-contamination monitor: MinHash-match incoming
    documents against a STATIC :func:`~..operators.dedup.minhash_index`
    of the eval benchmarks and emit ``(id, bench_id, jaccard)`` alerts.

    Streaming-safe by construction — every step is stateless: the
    signature is a per-row projection, the band fan-out an explode, and
    the candidate meet a stream-static inner join (no state store, no
    watermark). The stream side CARRIES its hash set through the band
    join instead of joining it back by id (the batch variant's
    join-back would be a stream-stream join); verification happens on
    the joined row. Consequence: a pair colliding in k bands alerts k
    times — downstream dedup (or the batch
    :func:`~..operators.dedup.fuzzy_decontaminate` in ``foreachBatch``
    for corpus filtering) is the caller's choice.

    The index's permutation-family metadata is validated like the batch
    path: mismatched num_perm/seed/mode/n raises instead of silently
    losing recall.
    """
    from ..operators import dedup as dd

    rows = dd._band_rows(num_perm, bands)
    dd.validate_index_meta(
        benchmark_index, num_perm=num_perm, seed=seed, mode=mode, n=n
    )
    sig = dd._signature_with_hashes(
        text_col, num_perm=num_perm, seed=seed, mode=mode, n=n
    )
    s = (
        stream.withColumn("_s", sig)
        .filter(F.col("_s.sig").isNotNull())
        .withColumn(
            "_band",
            F.explode(dd.lsh_bands(F.col("_s.sig"), bands=bands, rows=rows)),
        )
        .select(F.col(id_col), F.col("_s.hashes").alias("_ha"), "_band")
    )
    ib = (
        benchmark_index.withColumn(
            "_band",
            F.explode(dd.lsh_bands(F.col("sig"), bands=bands, rows=rows)),
        )
        .select(
            "_band",
            F.col("id").alias("bench_id"),
            F.col("hashes").alias("_hb"),
        )
    )
    from ..operators.dedup import jaccard_tokens

    return (
        s.join(F.broadcast(ib), "_band")
        .withColumn("jaccard", F.round(jaccard_tokens(F.col("_ha"), F.col("_hb")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select(id_col, "bench_id", "jaccard")
    )


_LATEST = "_LATEST"
# append-only commit ledger for upsert_sink targets: one
# `v4:<version>:<rowcount>:<hashsum>` line per committed batch (v2/v3
# lines from earlier targets are still verified, each with its own
# formula), used to distinguish an at-least-once replay (same content,
# safe no-op) from a checkpoint reset feeding NEW data under a recycled
# batch id (refused)
_COMMITS = "_COMMITS"
# writer fence: an exclusive advisory lock on this file is held for the
# duration of each batch commit, making the read-merge-write-pointer-
# ledger-prune sequence atomic against a second writer aimed at the same
# target_dir (which would otherwise interleave pointer commits and prune
# the other's versions). LOCK_NB: a contending writer is REFUSED loudly,
# never queued — two streams on one target is a misconfiguration.
_OWNER = "_OWNER"


def _read_pointer(target_dir: str) -> str:
    """The committed ``_LATEST`` version name, or ``""`` before the
    first commit. ONLY a missing pointer file means "never committed":
    any other I/O failure (NFS hiccup, permissions) propagates — on the
    merge path, swallowing it would make the sink read an empty current
    state and commit a snapshot containing just the incoming batch,
    silently dropping every previously merged key."""
    import os

    try:
        with open(os.path.join(target_dir, _LATEST)) as f:
            return f.read().strip()
    except FileNotFoundError:
        return ""
    except NotADirectoryError as e:
        # target_dir (or a component of it) is an existing FILE — a
        # misconfiguration, not "never committed"; reading it as empty
        # state would commit a snapshot that drops every merged key
        raise ValueError(
            f"upsert_sink target_dir {target_dir!r} points through an "
            "existing file, not a directory — fix the path (refusing "
            "to treat a misconfigured target as empty state)"
        ) from e


def read_current(spark, target_dir: str):
    """Current state of an :func:`upsert_sink` target: resolve the
    ``_LATEST`` pointer file and read that version's parquet. Returns
    ``None`` before the first commit; transient pointer-read I/O errors
    propagate (see :func:`_read_pointer`)."""
    import os

    name = _read_pointer(target_dir)
    if not name:
        return None
    return spark.read.parquet(os.path.join(target_dir, name))


def upsert_sink(
    stream: DataFrame,
    target_dir: str,
    keys,
    *,
    delete_col: str | None = None,
    seq_col: str | None = None,
    op_col: str = "op",
    delete_op: str = "D",
    keep_versions: int = 2,
    verify_replays: bool = True,
):
    """Maintain a keyed table under a CDC/upsert stream — the streaming
    twin of :func:`~.operators.cdc.merge_upsert` /
    :func:`~.operators.cdc.apply_cdc_log`.

    Every micro-batch merges into the current state copy-on-write:
    read the live version, merge the batch (full CDC compaction when
    ``seq_col`` is given — latest event per key wins, ``delete_op``
    drops the key; plain upsert otherwise, with the optional
    ``delete_col`` flag arm — the plain path REQUIRES each batch to be
    key-unique and fails loudly otherwise, since without a sequence
    column there is no principled winner and committing both rows
    would leave permanent duplicate keys), write a NEW version directory
    ``v<batch_id>``, then commit by atomically replacing the
    ``_LATEST`` pointer file. Readers (:func:`read_current`) never see
    a half-written version — pointer-file commit is exactly how the
    production table formats publish snapshots on object stores, where
    directory renames aren't atomic.

    Restart safety: foreachBatch is at-least-once, so a replayed batch
    rewrites the SAME ``v<batch_id>`` directory (idempotent — upserts
    and deletes of identical rows converge) and a stale replay can
    never regress the pointer (monotonic batch-id guard). A stale
    replay is additionally checked against the append-only ``_COMMITS``
    ledger (per-batch content fingerprint, written after the pointer
    commit): identical content no-ops, but a CHECKPOINT RESET feeding
    new data under a recycled batch id refuses loudly instead of
    silently dropping the batch. Old versions beyond ``keep_versions``
    are pruned best-effort after commit — keep it >= 2 so a reader that
    resolved the pointer just before a commit can still finish reading
    its version.

    Returns a started-ready ``DataStreamWriter`` — caller adds
    ``.option("checkpointLocation", ...)`` and ``.start()``.

    Filesystem contract: the pointer file is written with local file
    APIs, so ``target_dir`` must be a driver-mounted path (local disk,
    NFS, fuse mounts). On a raw object store, atomic publish needs a
    real table format's commit log — this sink demonstrates the same
    pointer-commit PATTERN those formats use, on filesystems that give
    you an atomic rename.

    **SINGLE WRITER per target_dir.** The commit protocol (monotonic
    pointer + ledger) assumes one writer; two concurrent streams on one
    target would interleave pointer commits and prune each other's
    versions. Each commit therefore holds an exclusive advisory lock on
    ``_OWNER`` — a second writer caught committing concurrently is
    refused with a loud error, never silently serialized. Concurrent
    READERS are always safe (pointer resolution + ``keep_versions >= 2``).
    """
    import os

    _merge = merge_batch_fn(
        target_dir,
        keys,
        delete_col=delete_col,
        seq_col=seq_col,
        op_col=op_col,
        delete_op=delete_op,
        keep_versions=keep_versions,
        verify_replays=verify_replays,
    )
    os.makedirs(target_dir, exist_ok=True)
    return stream.writeStream.foreachBatch(_merge)


def _canonical(col, dtype):
    """Rewrite a nested ``col`` (of ``dtype``) into an xxhash64-hashable,
    COLLISION-RESISTANT canonical form — the v4 upsert-sink fingerprint
    encoding for every column whose type is a container:

    - every MapType (at any nesting depth) becomes its key-sorted
      entries array (``array_sort`` over rewritten ``map_entries``), so
      maps hash structurally — timestamps by internal epoch value,
      session-timezone-independent (the v3 ``to_json`` fallback
      re-fingerprinted byte-identical replays of map<...,timestamp>
      batches after a session-tz change) — and entry-order-canonically
      (runtime entry order is unspecified; keys are distinct and every
      canonical type is orderable in Spark);
    - every NESTED nullable position gains an explicit never-null
      boolean marker: array elements become ``struct(isnull, value)``,
      map values likewise, struct fields get a flag field beside each
      value field, and a NULL struct stays NULL (``when(isNotNull)``
      guard). Spark's hash functions SKIP null inputs (the accumulator
      is unchanged), so without markers ``['x', null]`` / ``[null,
      'x']`` and ``[null]`` / ``[struct(null, null)]`` hash EQUAL —
      a checkpoint reset differing exactly there would replay as
      "identical content". Top-level columns get their marker in
      ``_fingerprint`` itself; this extends the same rule inward.
    """
    n = dtype.__class__.__name__
    if n == "MapType":
        return F.array_sort(
            F.transform(
                F.map_entries(col),
                lambda e: F.struct(
                    _canonical(e["key"], dtype.keyType).alias("k"),
                    e["value"].isNull().alias("n"),
                    _canonical(e["value"], dtype.valueType).alias("v"),
                ),
            )
        )
    if n == "ArrayType":
        return F.transform(
            col,
            lambda x: F.struct(
                x.isNull().alias("n"),
                _canonical(x, dtype.elementType).alias("v"),
            ),
        )
    if n == "StructType":
        parts = []
        for f in dtype.fields:
            parts.append(col[f.name].isNull().alias(f.name + "__n"))
            parts.append(
                _canonical(col[f.name], f.dataType).alias(f.name)
            )
        return F.when(col.isNotNull(), F.struct(*parts))
    return col


def merge_batch_fn(
    target_dir: str,
    keys,
    *,
    delete_col: str | None = None,
    seq_col: str | None = None,
    op_col: str = "op",
    delete_op: str = "D",
    keep_versions: int = 2,
    verify_replays: bool = True,
):
    """The per-micro-batch merge-and-commit step of :func:`upsert_sink`
    as a standalone ``(batch_df, batch_id) -> None`` callable — exposed
    so the crash-window semantics (version written but pointer not yet
    committed; stale replays; prune safety) are directly testable, and
    so a batch job can apply an incremental file drop through the exact
    code path the streaming sink uses.

    ``verify_replays`` (default True) maintains the ``_COMMITS``
    content-fingerprint ledger and REFUSES a stale replay whose content
    differs from what was committed under that batch id (a checkpoint
    reset feeding new data — silently dropping it loses the batch).
    The fingerprint hashes every column, so a batch carrying a
    NONDETERMINISTIC column (``current_timestamp()``, ``rand()``, or a
    float aggregation whose accumulation order varies on recomputation)
    would legitimately re-fingerprint differently on replay and turn a
    safe no-op into a crash-loop — pass ``verify_replays=False`` for
    such sources (or stabilize the column upstream); replays then fall
    back to the bare monotonic batch-id no-op."""
    import os
    import re as _re
    import shutil

    from ..operators import cdc as _cdc

    ks = [keys] if isinstance(keys, str) else list(keys)

    def _fingerprint(df: DataFrame, version: str = "v4") -> str:
        # order-insensitive batch content hash: per-row xxhash64 over the
        # full row (fixed column order), summed as decimal(38,0) — a
        # bigint sum would overflow-error under ANSI at real batch sizes.
        #
        # v4 (current) hashes scalar columns directly (xxhash64 reads
        # the internal representation — timestamps as epoch micros,
        # dates as days — so the fingerprint is independent of
        # spark.sql.session.timeZone) and container columns through
        # _canonical: maps become key-sorted entries arrays (structural
        # + entry-order-canonical, tz-independent for timestamps inside
        # maps), and every nested nullable position carries an explicit
        # marker. Each top-level column is likewise preceded by its
        # never-null isNull indicator: Spark's hash leaves the
        # accumulator UNCHANGED on a NULL input, so without markers
        # (NULL,'a') and ('a',NULL) — at any depth — would collide.
        #
        # v3 (verify-only) hashed columns directly with a to_json
        # fallback for map-bearing columns (tz-sensitive inside maps,
        # nested-null collisions); v2 (verify-only) hashed
        # to_json(struct(*cols)) (tz-sensitive everywhere). Both are
        # kept EXACTLY as written so ledger lines from older targets
        # keep verifying; new commits write v4.
        if version == "v2":
            per_row = F.xxhash64(F.to_json(F.struct(*sorted(df.columns))))
        elif version == "v3":
            fields = dict(df.dtypes)
            parts: list = []
            for c in sorted(df.columns):
                col = F.col(c)
                parts.append(col.isNull())
                # substring match, not startswith: a map nested inside
                # an array/struct also makes xxhash64 fail analysis
                parts.append(
                    F.to_json(col) if "map<" in fields[c] else col
                )
            per_row = F.xxhash64(*parts)
        else:
            nested = ("ArrayType", "MapType", "StructType")
            fields = {f.name: f.dataType for f in df.schema.fields}
            parts = []
            for c in sorted(df.columns):
                col = F.col(c)
                dt = fields[c]
                parts.append(col.isNull())
                parts.append(
                    _canonical(col, dt)
                    if dt.__class__.__name__ in nested
                    else col
                )
            per_row = F.xxhash64(*parts)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(per_row.cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).collect()[0]
        return f"{int(row.n)}:{row.h}"

    _FP_SHAPE = _re.compile(r"\d+:-?\d+")
    # parsed-ledger cache: {"pos": bytes consumed, "map": name -> (ver, fp)}.
    # Each lookup reads only the bytes appended since the last one (O(1)
    # amortized per batch instead of re-scanning the whole file), valid
    # because the ledger is append-only and this sink is the single
    # writer of its target_dir (enforced by the _OWNER fence).
    _ledger_cache: dict = {"pos": 0, "map": {}}

    def _ledger_lookup(name: str) -> tuple[str, str] | None:
        """Committed ``(version, fingerprint)`` for ``name``, or None.
        A TORN line (crash mid-append: missing newline or truncated hash
        digits) must read as absent — trusted replay — never as a
        mismatched fingerprint that would refuse a byte-identical
        replay, so only newline-terminated lines whose fingerprint
        matches the ``<count>:<hashsum>`` shape are believed.

        The file is read in BINARY mode: the cached resume position is
        a byte offset, and ``TextIOWrapper.seek`` is only defined for
        ``tell()`` cookies — the previous text-mode read worked only
        because ledger content is ASCII and the locale encoding
        cooperated (round-13 ADVICE)."""
        try:
            with open(os.path.join(target_dir, _COMMITS), "rb") as f:
                f.seek(_ledger_cache["pos"])
                raw = f.read()
        except OSError:
            return None
        consumed = 0
        for bline in raw.splitlines(keepends=True):
            if not bline.endswith(b"\n"):
                break  # torn trailing append: re-read next time
            consumed += len(bline)
            line = bline.decode("utf-8", "surrogateescape")
            parts = line.strip().split(":", 2)
            if (
                len(parts) == 3
                and parts[0] in ("v2", "v3", "v4")
                and _FP_SHAPE.fullmatch(parts[2])
            ):
                _ledger_cache["map"][parts[1]] = (parts[0], parts[2])
        _ledger_cache["pos"] += consumed
        return _ledger_cache["map"].get(name)

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        name = f"v{batch_id:020d}"
        # WRITER FENCE: this sink is single-writer by contract. The
        # exclusive lock below is held for the whole commit, so a second
        # concurrent writer (two streams started against one target_dir)
        # is refused at its first batch instead of interleaving pointer
        # commits with ours and pruning our versions. Advisory flock on
        # a driver-mounted path (same filesystem contract as the pointer
        # file); released on every exit by closing the fd. Sequential
        # re-creation (stream restart, batch catch-up job) is unaffected
        # — the lock spans one commit, not the closure lifetime.
        try:
            import fcntl
        except ImportError:  # pragma: no cover - non-POSIX fallback
            fcntl = None
        fence_fd = None
        if fcntl is not None:
            try:
                os.makedirs(target_dir, exist_ok=True)
            except (NotADirectoryError, FileExistsError):
                # target_dir runs through an existing FILE — skip the
                # fence and let _read_pointer below raise its
                # descriptive misconfiguration error
                fcntl = None
        if fcntl is not None:
            fence_fd = os.open(
                os.path.join(target_dir, _OWNER),
                os.O_CREAT | os.O_RDWR,
            )
            try:
                fcntl.flock(fence_fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except OSError:
                os.close(fence_fd)
                raise ValueError(
                    f"another upsert_sink writer is committing to "
                    f"{target_dir!r} right now — this sink is single-"
                    "writer per target; running two streams against one "
                    "target_dir interleaves pointer commits and prunes "
                    "each other's versions. Stop the other stream or "
                    "give each its own target_dir."
                ) from None
        try:
            _merge_locked(batch_df, batch_id, name)
        finally:
            if fence_fd is not None:
                os.close(fence_fd)  # releases the flock

    def _merge_locked(batch_df: DataFrame, batch_id: int, name: str) -> None:
        spark = batch_df.sparkSession
        # replay guard FIRST: an already-committed replay must not even
        # plan the current-snapshot read (the common restart path)
        committed = _read_pointer(target_dir)
        if committed and committed >= name:
            # already durably applied (== : re-merging would also read
            # and overwrite the same version dir), or a stale replay
            # behind a newer committed snapshot. Before no-opping,
            # distinguish an at-least-once REPLAY (same content — safe
            # to drop) from a checkpoint RESET feeding NEW data under a
            # recycled batch id (silently dropping it would lose the
            # data with no signal): the commit ledger records each
            # committed batch's content fingerprint, and a mismatch
            # refuses loudly. A missing ledger line (legacy target, or
            # crash between pointer commit and ledger append) is
            # trusted as a replay — same behavior as before the ledger.
            expect = _ledger_lookup(name) if verify_replays else None
            # recompute with the formula of the ledger line's version, so
            # a target upgraded across a fingerprint format change
            # (v2→v3→v4) still no-ops on byte-identical replays of
            # batches committed under the older formula
            if expect is not None and _fingerprint(batch_df, expect[0]) != expect[1]:
                raise ValueError(
                    f"upsert_sink batch {batch_id} replays an already-"
                    f"committed batch id with DIFFERENT content (commit "
                    f"ledger fingerprint mismatch) — this is a checkpoint "
                    "reset feeding new data under a recycled batch id, "
                    "and silently dropping it would lose the batch. "
                    "Point the stream at a fresh checkpoint AND a fresh "
                    "target dir, or restore the original checkpoint."
                )
            return
        # the batch feeds up to three consumers on the commit path (the
        # key-uniqueness probe, the merge itself, and the ledger
        # fingerprint) — persist it so the source is read once per
        # batch, not once per consumer; released on every exit path
        if verify_replays:
            batch_df = batch_df.persist()
        try:
            _commit(spark, batch_df, name, batch_id)
        finally:
            if verify_replays:
                try:
                    batch_df.unpersist()
                except Exception:  # pragma: no cover - best-effort
                    pass

    def _commit(spark, batch_df: DataFrame, name: str, batch_id: int) -> None:
        cur = read_current(spark, target_dir)
        if seq_col is not None:
            if cur is None:
                drop = {seq_col, op_col}
                cur = spark.createDataFrame(
                    [],
                    batch_df.drop(*drop).schema,
                )
            merged = _cdc.apply_cdc_log(
                cur,
                batch_df,
                ks,
                seq_col=seq_col,
                op_col=op_col,
                delete_op=delete_op,
            )
        else:
            # merge_upsert requires a key-unique source; a micro-batch
            # carrying two rows for one key would otherwise commit
            # duplicate keys into the snapshot PERMANENTLY (later merges
            # replace "the key" with whatever arrives, but the extra
            # rows from this batch persist in the version history).
            # Without a seq_col there is no principled winner, and an
            # arbitrary dropDuplicates pick would break replay
            # idempotency (a retried batch could pick a different row)
            # — so fail loudly and ask for seq_col or pre-deduped input.
            dups = (
                batch_df.groupBy(*ks)
                .agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") > 1)
                .limit(1)
                .count()
            )
            if dups:
                raise ValueError(
                    f"upsert_sink batch {batch_id} carries multiple rows "
                    f"for one merge key {ks} and no seq_col was given — "
                    "there is no principled winner and committing both "
                    "would leave permanent duplicate keys in the "
                    "snapshot. Pass seq_col= (latest-event-wins CDC "
                    "compaction) or de-duplicate the stream upstream."
                )
            if cur is None:
                drop = {delete_col} if delete_col else set()
                cur = spark.createDataFrame([], batch_df.drop(*drop).schema)
            merged = _cdc.merge_upsert(
                cur, batch_df, ks, delete_col=delete_col
            )
        fp = _fingerprint(batch_df) if verify_replays else None
        ptr = os.path.join(target_dir, _LATEST)
        merged.write.mode("overwrite").parquet(
            os.path.join(target_dir, name)
        )
        tmp = ptr + ".tmp"
        with open(tmp, "w") as f:
            f.write(name)
        os.replace(tmp, ptr)  # atomic pointer commit
        # ledger append AFTER the pointer commit: a crash in between
        # leaves a committed batch without a ledger line, which replays
        # treat as trusted (no-op) — never a refusal of good data. One
        # short line per batch; bytes, not data, so it never needs
        # pruning on realistic stream lifetimes.
        if fp is not None:
            ledger = os.path.join(target_dir, _COMMITS)
            # repair guard: a crash mid-append leaves a torn trailing
            # line; appending directly would GLUE the new line onto it,
            # losing BOTH batches' fingerprints (merged garbage parses
            # as absent — fail-safe, but unprotected). Terminate the
            # torn line with a "#torn" marker first: the marker breaks
            # the <count>:<hashsum> shape, so the torn line stays
            # conclusively ABSENT (a bare newline would instead make
            # truncated-but-digit-shaped fingerprints believable and
            # refuse byte-identical replays), and the new line stands
            # alone.
            torn = False
            try:
                with open(ledger, "rb") as f:
                    if f.seek(0, os.SEEK_END) > 0:
                        f.seek(-1, os.SEEK_END)
                        torn = f.read(1) != b"\n"
            except OSError:
                pass
            with open(ledger, "a") as f:
                f.write(("#torn\n" if torn else "") + f"v4:{name}:{fp}\n")
        if keep_versions >= 1:
            # prune ONLY versions strictly below the pointer just
            # committed — never trust recency alone (an uncommitted
            # newer directory must not be able to push the committed
            # snapshot out of the keep window)
            older = sorted(
                d
                for d in os.listdir(target_dir)
                if _re.fullmatch(r"v\d{20}", d) and d < name
            )
            cut = keep_versions - 1
            for stale in older[: len(older) - cut] if cut else older:
                shutil.rmtree(
                    os.path.join(target_dir, stale), ignore_errors=True
                )

    return _merge


def list_versions(target_dir: str) -> list[int]:
    """Batch ids of the snapshot versions still on disk for an
    :func:`upsert_sink` target (ascending). Pruned versions are gone;
    the committed one is always last-or-absent-only-if-never-committed."""
    import os
    import re as _re

    try:
        names = os.listdir(target_dir)
    except OSError:
        return []
    return sorted(
        int(d[1:]) for d in names if _re.fullmatch(r"v\d{20}", d)
    )


def cap_stream(
    stream: DataFrame,
    group_col: str,
    k: int,
    *,
    order_col: str | None = None,
):
    """Streaming admission quota: admit at most ``k`` rows per
    ``group_col`` value over the LIFETIME of the stream — per-domain /
    per-source ingest capping, the streaming face of
    :func:`~..operators.split.cap_per_group` (which re-ranks a finished
    corpus; a stream must decide at arrival).

    Admission is first-come: earlier micro-batches win outright; inside
    one micro-batch the group's rows are ordered by ``order_col``
    ascending (pass a timestamp/sequence for deterministic intra-batch
    admission) or taken in partition order when omitted. Once a group's
    quota is exhausted its rows are dropped forever.

    State per group is ONE counter (``applyInPandasWithState``,
    NoTimeout — quota state must outlive any watermark), so the store
    is O(distinct groups) regardless of input volume — the bounded kind
    of unbounded-lifetime state. Rows of one (group, micro-batch) pair
    are concatenated to sort before admission: bounded by micro-batch
    size, never by stream history.
    """
    import pandas as pd  # local: runs on workers
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if k < 1:
        raise ValueError("k must be >= 1")
    out_ddl = stream.schema

    def fn(key, pdf_iter, state: GroupState):
        n = state.get[0] if state.exists else 0
        if n >= k:
            # quota long gone: drain the iterator without concat work
            for _ in pdf_iter:
                pass
            return
        parts = [pdf for pdf in pdf_iter if len(pdf)]
        if not parts:
            return
        batch = parts[0] if len(parts) == 1 else pd.concat(parts)
        if order_col is not None:
            # mergesort = stable: equal keys keep arrival order
            batch = batch.sort_values(order_col, kind="mergesort")
        take = batch.iloc[: k - n]
        state.update((n + len(take),))
        if len(take):
            yield take

    return stream.groupBy(group_col).applyInPandasWithState(
        fn,
        outputStructType=out_ddl,
        stateStructType="n bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def drift_monitor_sink(
    stream: DataFrame,
    reference: DataFrame,
    metrics_dir: str,
    *,
    text_col: str = "text",
    alpha: float = 0.5,
):
    """Streaming corpus-drift monitor: every micro-batch's token
    distribution is compared against a STATIC reference snapshot
    (:func:`~..operators.stats.distribution_drift` — KL both ways, JS,
    TV) and the one-row result appended to ``metrics_dir`` as parquet
    tagged with the batch id — the live complement to the batch drift
    queries: an ingest whose language mix lurches (spam wave, encoding
    regression, a source turned off upstream) shows as a divergence
    step in the metrics table while the data is still arriving.

    The reference side's token counts are recomputed per batch — cache
    the reference DataFrame (``reference.persist()``) before passing it
    when batches are frequent. Appends are idempotent-enough for
    monitoring (an at-least-once replay writes a duplicate metrics row
    with the same batch_id — readers aggregate by batch_id); the
    DEDUP-grade sinks keep the marker protocol, a metrics feed doesn't
    need it.

    Read with ``spark.read.parquet(metrics_dir)``. Returns a
    started-ready ``DataStreamWriter``.
    """
    import os

    from ..operators import stats as _stats

    def _measure(batch_df: DataFrame, batch_id: int) -> None:
        row = _stats.distribution_drift(
            reference, batch_df, text_col, alpha=alpha
        ).withColumn("batch_id", F.lit(batch_id).cast("bigint"))
        row.write.mode("append").parquet(metrics_dir)

    os.makedirs(metrics_dir, exist_ok=True)
    return stream.writeStream.foreachBatch(_measure)


def neardedup_batch_fn(
    target_dir: str,
    id_col: str,
    text_col: str,
    *,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
    mode: str = "char",
    n: int = 5,
    threshold: float = 0.7,
):
    """The per-micro-batch step of :func:`neardedup_sink` as a
    standalone ``(batch_df, batch_id) -> None`` callable — exposed so
    the replay/crash-window semantics are directly testable, and so a
    batch job can push an incremental file drop through the exact code
    path the streaming sink uses.

    Layout under ``target_dir``: ``data/b<id>`` (surviving rows),
    ``index/b<id>`` (their :func:`~..operators.dedup.minhash_index`
    rows), and ``_batches/b<id>`` marker files COMMITTING a batch —
    written last, via tmp + atomic rename, carrying a content
    fingerprint (row count + an order-insensitive sum of one JOINT
    per-row hash over id and text, so id↔text re-association is
    detected too). Readers and
    the cross-batch index consider ONLY committed batches, so a crash
    between the data write and the marker leaves no partial state
    visible, and an at-least-once replay recomputes against exactly the
    index the original attempt saw (prior committed batches), overwrites
    the same directories with the same rows, and re-commits —
    idempotent. A marker whose fingerprint does NOT match the incoming
    batch (a lost/reset checkpoint restarting batch ids at 0, or a
    second stream aimed at the same target) raises instead of silently
    dropping the new rows.
    """
    import os

    from ..operators import dedup as _dedup

    mh = dict(num_perm=num_perm, seed=seed, mode=mode, n=n)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        name = f"b{batch_id:020d}"
        marks = os.path.join(target_dir, "_batches")
        # content fingerprint (count + order-insensitive sum of ONE
        # joint per-row hash over id AND text — one small agg job per
        # batch): a marker keyed by batch_id ALONE would silently
        # discard new data when a lost/reset checkpoint restarts batch
        # ids at 0 against an old target_dir. The hash is joint —
        # xxhash64(id, text) per row, NULL-safe multi-arg — not
        # independent per-column sums, so a replay that re-associates
        # texts with different ids changes the fingerprint too. Summed
        # as decimal(38,0): Spark 4 runs ANSI-on and a bigint sum of
        # xxhash64 values would overflow-error on real batch sizes.
        fp_row = batch_df.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(
                    F.xxhash64(
                        F.col(id_col).cast("string"),
                        F.col(text_col).cast("string"),
                    ).cast("decimal(38,0)")
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).collect()[0]
        fingerprint = f"v2:{fp_row.n}:{fp_row.h}"
        mark_path = os.path.join(marks, name)
        if os.path.exists(mark_path):
            with open(mark_path) as f:
                committed_fp = f.read().strip().splitlines()[-1]
            if ":" not in committed_fp:
                # marker from a pre-fingerprint layout: trust it as
                # committed rather than killing an upgraded stream
                return
            if committed_fp.startswith("v2:"):
                if committed_fp == fingerprint:
                    return  # durably committed — stale replay no-op
            else:
                # v1 marker (count + INDEPENDENT crc32 sums of id and
                # text): recompute the v1 fingerprint just for this
                # upgrade-replay comparison, so an already-committed
                # batch stays a no-op across the format change
                v1 = batch_df.agg(
                    F.count("*").alias("n"),
                    F.coalesce(
                        F.sum(F.crc32(F.col(id_col).cast("string"))),
                        F.lit(0),
                    ).alias("h"),
                    F.coalesce(
                        F.sum(F.crc32(F.col(text_col).cast("string"))),
                        F.lit(0),
                    ).alias("ht"),
                ).collect()[0]
                if committed_fp == f"{v1.n}:{v1.h}:{v1.ht}":
                    return
            raise ValueError(
                f"neardedup target {target_dir} already committed batch "
                f"{batch_id} with different content "
                f"({committed_fp} != {fingerprint}) — the streaming "
                "checkpoint was reset or a second stream is writing "
                "here; refusing to silently drop this batch. Use a "
                "fresh target_dir (or restore the checkpoint)."
            )
        # ONE signature pass per micro-batch: the batch's minhash index
        # is computed once, persisted, and feeds (a) the intra-batch
        # pair self-join, (b) the against-the-store band join, and
        # (c) the surviving-rows index write — previously each of the
        # three recomputed signatures from text (~3x the per-batch cost
        # at 25k-doc batches, measured). Pairs are computed directly —
        # not via minhash_dedup — so every persisted handle is released
        # below; a cache left behind would pin one dead table per
        # micro-batch for the stream's life.
        bidx = _dedup.minhash_index(batch_df, id_col, text_col, **mh).persist()
        pairs = hits = alive = None
        try:
            # intra-batch near-dups first (one-shot pair removal: drop
            # the larger id of each verified pair)
            pairs = _dedup.minhash_dup_pairs_from_index(
                bidx, bands=bands, threshold=threshold, **mh
            )
            losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
            alive = batch_df.join(losers, on=id_col, how="left_anti")
            alive_idx = bidx.join(
                losers.withColumnRenamed(id_col, "id"), "id", "left_anti"
            )
            committed = _committed_batches(target_dir)
            if committed:
                idx = spark.read.parquet(
                    *_index_paths(target_dir, committed)
                )
                hits = _dedup.minhash_dup_pairs_against(
                    None, idx, id_col, text_col,
                    bands=bands, threshold=threshold,
                    new_index=alive_idx, **mh,
                )
                cross = hits.select(F.col("new_id").alias(id_col)).distinct()
                alive = alive.join(cross, on=id_col, how="left_anti")
                alive_idx = alive_idx.join(
                    cross.withColumnRenamed(id_col, "id"), "id", "left_anti"
                )
            # one computation feeds both writes: persist + eager count
            # (not localCheckpoint — its executor-local blocks are lost
            # on executor failure with NO lineage fallback, a real
            # hazard for a long-running sink on a cluster, and they
            # linger in the cache manager until GC; persist keeps
            # recompute lineage and unpersists deterministically below)
            alive = alive.persist()
            alive.count()
            alive.write.mode("overwrite").parquet(
                os.path.join(target_dir, "data", name)
            )
            # the surviving rows' index = the batch index minus the
            # dropped ids (identical content to recomputing
            # minhash_index(alive): null-signature docs appear in
            # neither). pairs/hits stay cached until THIS write —
            # alive_idx's lineage reads losers/cross, and releasing
            # them earlier re-ran the entire pair computation inside
            # the index write (measured 4x the batch cost)
            alive_idx.write.mode("overwrite").parquet(
                os.path.join(target_dir, "index", name)
            )
        finally:
            # EVERY persisted handle releases on every exit path — a
            # failed batch is replayed by the stream, and each replay
            # leaking a cache set would pin memory for the session's
            # life (alive may be an unpersisted plan if the failure
            # struck earlier; unpersist is a safe no-op then)
            for h in (alive, pairs, hits, bidx):
                if h is not None:
                    try:
                        h.unpersist()
                    except Exception:
                        pass
        os.makedirs(marks, exist_ok=True)
        tmp = os.path.join(marks, f".{name}.tmp")
        with open(tmp, "w") as f:
            f.write(name + "\n" + fingerprint)
        os.replace(tmp, mark_path)

    return _apply


def _committed_batches(target_dir: str) -> list[str]:
    import os
    import re as _re

    try:
        names = os.listdir(os.path.join(target_dir, "_batches"))
    except OSError:
        return []
    return sorted(b for b in names if _re.fullmatch(r"b\d{20}", b))


def _compacted_upto(target_dir: str) -> str | None:
    """Name of the newest batch folded into the consolidated ``c*``
    directories by :func:`neardedup_compact`, or None."""
    import os

    try:
        with open(os.path.join(target_dir, "_batches", "_compacted")) as f:
            v = f.read().strip()
        return v or None
    except OSError:
        return None


def _store_paths(target_dir: str, kind: str, committed: list[str]) -> list[str]:
    # consolidated prefix (everything <= the compaction watermark) plus
    # the per-batch directories committed after it
    import os

    upto = _compacted_upto(target_dir)
    paths = []
    if upto is not None:
        paths.append(os.path.join(target_dir, kind, "c" + upto[1:]))
    paths.extend(
        os.path.join(target_dir, kind, b)
        for b in committed
        if upto is None or b > upto
    )
    return paths


def _index_paths(target_dir: str, committed: list[str]) -> list[str]:
    return _store_paths(target_dir, "index", committed)


def neardedup_compact(spark, target_dir: str) -> dict:
    """Fold all committed per-batch ``data/b*`` / ``index/b*``
    directories (plus any previous consolidation) into single
    ``data/c*`` / ``index/c*`` directories — the maintenance pass that
    keeps :func:`neardedup_sink`'s per-batch read from degrading into
    an open-one-tiny-directory-per-historical-batch listing as the
    stream ages. Run it while the stream is idle (a batch that raced a
    compaction and lost its input files simply fails and replays
    against the compacted layout — the commit markers make that safe).

    Commit order mirrors the sink: consolidated directories are written
    first, then the ``_batches/_compacted`` watermark file is atomically
    replaced, then the superseded directories are pruned best-effort —
    a crash at any point leaves readers on a complete view.

    Returns ``{"compacted": bool, "upto": batch_id, "folded": n_dirs}``.
    """
    import os
    import shutil

    committed = _committed_batches(target_dir)
    if not committed:
        return {"compacted": False, "upto": None, "folded": 0}
    prev = _compacted_upto(target_dir)
    newest = committed[-1]
    if prev == newest:
        return {"compacted": False, "upto": int(newest[1:]), "folded": 0}
    folded = 0
    for kind in ("data", "index"):
        paths = _store_paths(target_dir, kind, committed)
        folded = max(folded, len(paths))
        spark.read.parquet(*paths).write.mode("overwrite").parquet(
            os.path.join(target_dir, kind, "c" + newest[1:])
        )
    marks = os.path.join(target_dir, "_batches")
    tmp = os.path.join(marks, "._compacted.tmp")
    with open(tmp, "w") as f:
        f.write(newest)
    os.replace(tmp, os.path.join(marks, "_compacted"))
    for kind in ("data", "index"):
        for b in committed:
            if b <= newest:
                shutil.rmtree(
                    os.path.join(target_dir, kind, b), ignore_errors=True
                )
        if prev is not None:
            shutil.rmtree(
                os.path.join(target_dir, kind, "c" + prev[1:]),
                ignore_errors=True,
            )
    return {"compacted": True, "upto": int(newest[1:]), "folded": folded}


def neardedup_sink(
    stream: DataFrame,
    target_dir: str,
    id_col: str,
    text_col: str,
    **minhash_kwargs,
):
    """Streaming NEAR-duplicate dedup with unbounded lookback — the
    streaming twin of incremental
    :func:`~..operators.dedup.minhash_dup_pairs_against` over a
    :func:`~..operators.dedup.minhash_index`.

    :func:`dedup_stream` bounds its state by the watermark (exact keys,
    within-watermark only); this sink instead persists each batch's
    minhash index next to its data, so a document near-duplicating
    ANYTHING ever admitted is dropped. Incremental cost per batch: one
    signature pass over the BATCH text (the expensive part — corpus
    text is never re-read), plus one banded equi-join whose index side
    ships ``(band, id)`` pairs for the admitted corpus — linear in
    index SIZE but cheap per row (ints, no text). Run
    :func:`neardedup_compact` periodically so that read stays one
    consolidated directory instead of one tiny directory per
    historical batch. State lives in parquet, not the state store, so
    it survives checkpoint loss and is queryable offline.

    Semantics: intra-batch near-dups are removed first (one-shot pair
    removal, min id wins), then survivors matching the committed index
    are dropped. Replay-safe via commit markers (see
    :func:`neardedup_batch_fn`). Read the result with
    :func:`read_deduped`.

    Filesystem contract: markers use local file APIs — driver-mounted
    paths only (same contract as :func:`upsert_sink`).

    Returns a started-ready ``DataStreamWriter`` — caller adds
    ``.option("checkpointLocation", ...)`` and ``.start()``.
    """
    import os

    fn = neardedup_batch_fn(target_dir, id_col, text_col, **minhash_kwargs)
    os.makedirs(target_dir, exist_ok=True)
    return stream.writeStream.foreachBatch(fn)


def read_deduped(spark, target_dir: str):
    """All rows admitted by a :func:`neardedup_sink` so far (committed
    batches only; consolidated by :func:`neardedup_compact` when it has
    run). Returns ``None`` before the first commit."""
    committed = _committed_batches(target_dir)
    if not committed:
        return None
    return spark.read.parquet(*_store_paths(target_dir, "data", committed))


def read_version(spark, target_dir: str, batch_id: int):
    """Time-travel read of a specific retained :func:`upsert_sink`
    snapshot. Raises ``ValueError`` (listing what IS retained) for a
    pruned or never-written version — a silent fallback to current
    state would corrupt a reproducibility-sensitive consumer."""
    import os

    name = f"v{batch_id:020d}"
    path = os.path.join(target_dir, name)
    if not os.path.isdir(path):
        raise ValueError(
            f"version {batch_id} not retained under {target_dir}; "
            f"available: {list_versions(target_dir)} "
            "(raise keep_versions to retain more history)"
        )
    return spark.read.parquet(path)
