"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Headliners cover the engine's three pillars: JSON extraction (the
reference's whole surface), relational composition (Catalyst-native),
and the pipeline operators (dedup/similarity/text) — each timed to
completion of its terminal action.

PAIRED BASELINE: each twinned query's DuckDB oracle SQL runs inside the
SAME interleaved passes as the Spark query, so both sides see the same
host weather and `ratio_paired = spark_total / duckdb_total` is
weather-proof (rounds 3 and 5 each recorded ~1.5× uniform inflation on
code-identical rounds from comparing a fresh Spark run against the
round-1 frozen DuckDB constant). The JSON line reports both sides'
per-query minima and the paired ratio.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from datafusion_functions_json_spark.sources import session_defaults

BENCH_QUERIES = [
    # JSON extraction surface
    "json_agg",            # contains-filter + int-extract + group agg
    "json_get_int",        # plain per-row extraction (exact tier)
    "nested_get_str",      # 4-level path on synthesized nested docs
    "multi_extract",       # fused 5-field extraction, one parse per doc
    "union_roundtrip",     # union semantics (fused multi kinds)
    # relational
    "tpch_q1",
    "events_hourly",
    "orders_join",
    # pipeline operators
    "token_count",
    "fingerprint",
    "lang_id",
    "cosine_topk",
]

# Timed and reported, but OUTSIDE the headline total: these have no
# DuckDB oracle twin (hash-function-dependent candidate generation), so
# BASELINE.md's 4.05 s DuckDB total excludes them — the headline must
# compare like with like.
UNTWINNED_QUERIES = [
    "minhash_pairs",
    "simhash_pairs",
]


def _host_parallel_efficiency(workers: int = 32) -> float:
    """How much of the advertised core count this host is actually
    delivering RIGHT NOW: time one CPU-bound burn single-process, then
    the same burn in ``workers`` processes at once. On a truly idle
    32-core host the ratio is ~1.0; under host-level contention (vCPU
    oversubscription, steal) the parallel copies dilate while
    single-thread work doesn't.

    Reported because that asymmetry is exactly what the PAIRED DuckDB
    twin cannot correct: these sub-second twins are effectively
    single-threaded, while Spark runs 32-way — measured in round 8,
    ~0.5 efficiency inflated ratio_paired from 1.13 to ~1.5 with
    byte-identical hot-path code. Read ratio_paired together with this
    number.
    """
    import multiprocessing as mp
    import time as _time

    # fork + Process (not Pool.map): the target is inherited by the
    # child, never pickled, so the probe works under any import path
    ctx = mp.get_context("fork")

    def _wall(target, arg):
        procs = [
            ctx.Process(target=target, args=(arg,)) for _ in range(workers)
        ]
        t0 = _time.time()
        for p in procs:
            p.start()
        for p in procs:
            p.join()
        return _time.time() - t0

    # burn sized ~1 s so the measurement dominates fork/start stagger;
    # the no-op fork baseline subtracts what overhead remains (at the
    # first 2M-iteration sizing, ~0.05 s of stagger capped readings at
    # ~0.7 even on an idle host). Warm the single measurement once.
    n = 15_000_000
    _burn(n // 10)
    t0 = _time.time()
    _burn(n)
    single = _time.time() - t0
    noop = _wall(_burn, 0)
    para = _wall(_burn, n) - noop
    if para <= 0:
        return 1.0
    return round(min(single / para, 1.0), 3)


def _burn(n):
    s = 0
    for i in range(n):
        s += i * i
    return s


def _host_gram_efficiency(workers: int = 32) -> float:
    """Parallel efficiency on MEMORY-BANDWIDTH-BOUND work — the
    attribution dimension :func:`_host_parallel_efficiency` cannot see.
    Round-17 finding: with steal ~1-9% and the pure-CPU probe reading
    0.785, 32 parallel copies of a Gram-kernel-shaped burn (BLAS matmul
    whose output exceeds the last-level cache, then a threshold scan)
    ran at 0.003 efficiency — a ~300x collapse that dilated every
    data-heavy Spark stage while control queries and steal stayed
    clean. Read bandwidth-bound query numbers (the Gram/semantic
    class, big shuffles) next to THIS number the way CPU-bound ones
    are read next to the CPU probe.

    Kept cheap: ~0.1 s single-process; worst observed collapse makes
    the 32-way copy ~30 s — a bounded, once-per-bench reading."""
    import multiprocessing as mp
    import time as _time

    import numpy as np

    ctx = mp.get_context("fork")

    def _gram_burn(n_iter):
        rng = np.random.RandomState(0)
        V = rng.rand(1750, 64)
        for _ in range(n_iter):
            G = V @ V.T  # 24.5 MB product: above LLC share, like the
            (G >= 0.99).sum()  # operators' cosine slabs

    def _wall(target, arg):
        procs = [
            ctx.Process(target=target, args=(arg,)) for _ in range(workers)
        ]
        t0 = _time.time()
        for p in procs:
            p.start()
        for p in procs:
            p.join()
        return _time.time() - t0

    _gram_burn(1)  # warm numpy/BLAS in the parent before forking
    t0 = _time.time()
    _gram_burn(3)
    single = _time.time() - t0
    noop = _wall(_gram_burn, 0)
    para = _wall(_gram_burn, 3) - noop
    if para <= 0:
        return 1.0
    return round(min(single / para, 1.0), 3)


def _stat_snapshot():
    """(busy_jiffies, steal_jiffies) from the aggregate /proc/stat cpu
    line, or None off-Linux. busy = user+nice+system+irq+softirq."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
    except (OSError, ValueError, IndexError):
        return None
    if len(vals) < 8:
        return None
    user, nice, system, _idle, _iowait, irq, softirq, steal = vals[:8]
    return user + nice + system + irq + softirq, steal


def _steal_pct(before, after):
    """Hypervisor steal across a window as % of the busy time the
    window actually burned. WHY a second weather signal: the
    efficiency probe is a 2-3 s point sample of a BURSTY process —
    round 14 measured steal swinging 16% -> 0.6% of busy within two
    minutes, so a probe can read 0.57 at the edge of a window whose
    body was clean (and vice versa: r13's drift happened at a clean
    probe reading). The steal delta integrates over the whole timed
    window, so it attributes the window itself."""
    if before is None or after is None:
        return None
    dbusy = after[0] - before[0]
    dsteal = after[1] - before[1]
    if dbusy <= 0:
        return None
    return round(100.0 * dsteal / dbusy, 2)


# Probe floor used ONLY when the steal delta is available and clean:
# the round-14 census (BASELINE.md, 8 attempts + 19 probes across 8
# hours) proved this host structurally caps the probe at ~0.62-0.65
# even at ZERO steal, so the 0.85 probe-only floor read every clean
# window as degraded and burned the full rerun budget (~5 min/window)
# for nothing. 0.55 sits under every clean-window reading the census
# recorded (min 0.57) — a clean-steal window probing below it means
# sibling-core contention, the one weather mode steal cannot see.
EFF_STORM_FLOOR = float(os.environ.get("SPARK_GRAFT_BENCH_EFF_STORM", "0.55"))

# Bandwidth-collapse floor for the GRAM probe (_host_gram_efficiency),
# round 18 (VERDICT r17 #3/task 4): the probe was recorded but never
# consulted, so a bandwidth-collapsed window could be kept as clean for
# exactly the Gram-class timings it was built for. Census-derived
# (BENCH_CENSUS_r17.json, 15 windows carrying a gram reading): this
# host's gram efficiency NEVER reads above 0.17 (range 0.009-0.17,
# median ~0.03) — ~0.7+ "clean" readings do not exist here, the memory
# controller is structurally shared — but the sf1 gate's knn_graph
# DOUBLED (6.06 -> 11.16 s) in windows probing 0.007-0.01 while
# windows at 0.05-0.17 sit in the normal band. 0.05 separates the
# badly-collapsed tail from this host's structural plateau. Consulted
# by the GATE suites (sf1/sf10: knn_graph, semantic_dedup,
# embedding_dups are bandwidth-bound); the HEADLINE bench records the
# reading per window but does not degrade on it — the r17 census shows
# zero correlation between headline ratio and gram (best clean ratio
# 1.267 at gram 0.081, but 1.327 at 0.17 and 1.246 at 0.02; no
# headliner is Gram-class), so folding it in would have falsely
# flagged the round's best windows, including the r17 driver-final
# (gram 0.037, steal 0.47%, ratio 1.309).
GRAM_STORM_FLOOR = float(os.environ.get("SPARK_GRAFT_BENCH_GRAM_FLOOR", "0.05"))


def _window_degraded(eff, steal, eff_min, steal_max, eff_storm=None,
                     gram=None, gram_floor=None):
    """A window is degraded when its integrated steal exceeds
    ``steal_max`` %-of-busy, or its probe efficiency reads under the
    storm floor (sibling contention invisible to steal), or — when the
    caller supplies a gram-probe reading (Gram-class suites: the
    sf1/sf10 gates) — the bandwidth probe reads under the census
    floor. The ``eff_min`` probe-only floor governs ONLY when the
    steal delta is unavailable (off-Linux): with steal in hand, a
    sub-``eff_min`` probe alone is this host's structural ceiling, not
    weather (round-14 census re-basing; ADVICE r14)."""
    if eff_storm is None:
        eff_storm = EFF_STORM_FLOOR
    if gram is not None:
        if gram_floor is None:
            gram_floor = GRAM_STORM_FLOOR
        if gram < gram_floor:
            return True
    if steal is None:
        return eff < eff_min
    return steal > steal_max or eff < eff_storm


def _window_better(eff2, steal2, eff1, steal1, steal_max=2.0,
                   probe_zone=6.0, eff_storm=None,
                   gram2=None, gram1=None, gram_floor=None):
    """Window preference, re-based on the round-16 two-dimension
    measurement: when BOTH windows sit under ``probe_zone`` (~6%)
    integrated steal, the PROBE decides (with a 0.02 hysteresis below
    which sub-zone steal differences break the tie) — three true
    ≤2%-steal full windows read 1.431-1.51 at probe 0.565-0.585 while
    a 5.92%-steal window at probe 0.604 read 1.361 and a 32%-steal
    control at probe 0.624 read 1.499 (BASELINE.md round-16): below
    the zone the paired ratio tracks sibling-collapse, not steal.
    Above the zone the round-14 rule stands: a steal-clean window
    beats a steal-dirty one regardless of probes (steal integrates
    over the window body; the probe samples the edges — r14's clean
    retake carried a WORSE entry probe than the storm window it
    replaced), and among two dirty windows less steal wins.

    Storm-floor backstop (VERDICT r16 #5): a window probing UNDER the
    storm floor is degraded on the one axis the census proved dominates
    the sub-zone ratio, so it can never displace — nor survive against —
    a window probing at or above the floor, regardless of steal.
    Round 16's driver-final kept a probe-0.442 window over a 5.92%-steal
    probe-0.604 one on the less-steal rule; per the census curve the
    0.442 window's readings were the more inflated ones.

    Gram-floor backstop (round 18, VERDICT r17 task 4): when BOTH
    windows carry a gram-probe reading (Gram-class suites), a window
    probing under the bandwidth floor can never displace — nor survive
    against — one at or above it, same shape as the storm-floor rule:
    the sf1 census proved gram 0.007-0.01 windows dilate the
    knn_graph/semantic_dedup class ~2x while steal and the CPU probe
    read clean."""
    if eff_storm is None:
        eff_storm = EFF_STORM_FLOOR
    sub1 = eff1 < eff_storm
    sub2 = eff2 < eff_storm
    if sub1 != sub2:
        return sub1  # the above-floor window wins outright
    if gram1 is not None and gram2 is not None:
        if gram_floor is None:
            gram_floor = GRAM_STORM_FLOOR
        gsub1 = gram1 < gram_floor
        gsub2 = gram2 < gram_floor
        if gsub1 != gsub2:
            return gsub1  # the above-gram-floor window wins outright
    if (
        steal1 is not None
        and steal2 is not None
        and steal1 < probe_zone
        and steal2 < probe_zone
    ):
        if abs(eff2 - eff1) > 0.02 + 1e-9:  # epsilon: float-sub noise
            return eff2 > eff1
        return steal2 < steal1
    dirty1 = steal1 is not None and steal1 > steal_max
    dirty2 = steal2 is not None and steal2 > steal_max
    if dirty1 != dirty2:
        return dirty1
    if dirty1 and dirty2 and steal1 != steal2:
        return steal2 < steal1
    return eff2 > eff1


def _guarded_windows(run_window, probe, entry_eff, eff_min, reruns,
                     steal_max=2.0, eff_storm=None):
    """Window-selection core of the host-noise guard, Spark-free so the
    policy is unit-testable: run one window, and while it reads
    DEGRADED (``_window_degraded``) and reruns remain, run another and
    keep the BETTER window (``_window_better``: probe decides inside
    the sub-6%-steal zone, steal decides across/above it). ``run_window(
    entry_eff)`` returns a tuple whose LAST element is the window's
    probe efficiency and SECOND-TO-LAST is its integrated steal
    %-of-busy (None when /proc/stat is unavailable); ``probe()``
    returns a fresh entry reading. Returns (kept_window,
    all_efficiencies, all_steals)."""
    kept = run_window(entry_eff)
    windows = [kept[-1]]
    steals = [kept[-2]]
    while (
        _window_degraded(kept[-1], kept[-2], eff_min, steal_max, eff_storm)
        and reruns > 0
    ):
        reruns -= 1
        cand = run_window(probe())
        windows.append(cand[-1])
        steals.append(cand[-2])
        if _window_better(
            cand[-1], cand[-2], kept[-1], kept[-2], steal_max,
            eff_storm=eff_storm,
        ):
            kept = cand
    return kept, windows, steals


def append_census_attempt(census_path: str, record: dict, note: str = ""):
    """Append a FULL bench record (per-query + duckdb maps included) as
    an attempt in a BENCH_CENSUS_rNN.json file. Round 15's census
    attempts carried only totals, which left its cross-window per-query
    claims unverifiable from artifacts (VERDICT r15 #2) — since round
    16 every attempt IS the bench record, so any per-query comparison
    across windows can be re-derived mechanically."""
    doc = {"round": None, "attempts": []}
    if os.path.exists(census_path):
        try:
            with open(census_path) as f:
                doc = json.load(f)
        except (json.JSONDecodeError, OSError, ValueError):
            # a truncated/corrupt census must not discard the new
            # attempt (ADVICE r17) — keep the bytes aside for forensics
            # and start a fresh doc that says so
            os.replace(census_path, census_path + ".corrupt")
            doc = {"round": None, "attempts": [],
                   "recovered_from_corrupt": True}
    if doc.get("round") is None:
        # ADVICE r17: the census artifact said "round": null — derive
        # it from the canonical file name (BENCH_CENSUS_rNN.json)
        m = re.search(r"_r(\d+)\.json$", os.path.basename(census_path))
        if m:
            doc["round"] = int(m.group(1))
    attempt = {
        "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        **record,
    }
    if note:
        attempt["note"] = note
    doc.setdefault("attempts", []).append(attempt)
    with open(census_path, "w") as f:
        json.dump(doc, f, indent=1)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    host_eff = _host_parallel_efficiency(min(32, os.cpu_count() or 32))
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")

    # Shuffle partitions sized for THIS data scale (sf0.1: the largest
    # shuffle moves ~10 MB): 8 reduce tasks beat 32 by ~0.1 s/query of
    # pure task-scheduling overhead, measured min-of-4 per query. The
    # library default (session_defaults) stays at cluster-oriented
    # sizing — at 100 TB you want AQE coalescing from a high initial
    # count; a benchmark at fixed small scale wants the opposite. UDF
    # spread parallelism is independent (load_table spreads to
    # defaultParallelism = all cores).
    shuffle = os.environ.get("SPARK_GRAFT_BENCH_SHUFFLE", "8")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("spark-graft-bench")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if os.path.isdir("/dev/shm"):
        # shuffle/spill to tmpfs: the host disk here shows heavy IO-wait,
        # and benchmark shuffles are small; real clusters put local dirs
        # on NVMe for the same reason
        shm = "/dev/shm/spark-graft-local"
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    spark = session_defaults(builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # AQE off for the bench session only: its query-stage barriers and
    # replanning add ~0.2-0.5 s per shuffle query — pure overhead at
    # sub-second sf0.1 scale. The library default (session_defaults)
    # keeps AQE ON: at the 100 TB target its skew-join splitting and
    # partition coalescing are what you want; DuckDB does no runtime
    # replanning either, so this compares like with like.
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    # Warmup OUTSIDE the timed region: parquet footer reads, whole-stage
    # codegen compilation, and the Python-UDF worker pool (one worker per
    # core) — none of which recur in steady state.
    from datafusion_functions_json_spark import json_get_int
    from datafusion_functions_json_spark.operators import dedup
    from datafusion_functions_json_spark.sources import load_table

    # page-cache warm of every input file (the host disk shows heavy
    # IO-wait noise; cold reads would dominate small-query timings)
    import glob

    for f in glob.glob(f"{sf_dir}/*.parquet"):
        with open(f, "rb") as fh:
            while fh.read(1 << 22):
                pass

    ev = load_table(spark, sf_dir, "events").repartition(int(cpus))
    ev.select(json_get_int("props", "k")).count()
    load_table(spark, sf_dir, "lineitem").count()
    docs_warm = load_table(spark, sf_dir, "documents").limit(64)
    dedup.minhash_dup_pairs(
        docs_warm, "doc_id", "text", num_perm=32, bands=8, mode="word", n=3
    ).count()
    dedup.simhash_dup_pairs(docs_warm, "doc_id", "text").count()

    # DuckDB side of the pair: same tables as views, oracle SQL from the
    # same registry the correctness gate uses. fetchall() materializes
    # fully (the twin of our noop-sink write).
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        con.sql(
            f"create view {t} as select * from "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    oracles = entrymod.oracle_sql()
    duck_sql = {n: oracles[n] for n in BENCH_QUERIES if n in oracles}
    for sql in duck_sql.values():  # warm (plan cache, casts, page cache)
        con.sql(sql).fetchall()

    qs = entrymod.queries()
    all_queries = BENCH_QUERIES + UNTWINNED_QUERIES
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "7"))
    runs_max = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS_MAX", "16"))
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "300"))

    # INTERLEAVED passes: the host shows multi-second interference spikes
    # lasting longer than one query's back-to-back runs, so run the whole
    # list once per pass and take the per-query min across passes — a
    # spike window then poisons at most one pass of each query instead of
    # every run of whichever query it lands on. ADAPTIVE pass count: at
    # least `runs` passes always; keep adding passes while wall time is
    # under `budget` and the count is under `runs_max`. On a quiet host
    # the first `runs` passes finish early and extras are nearly free; on
    # a noisy host (round 3 recorded every query uniformly ~1.5× round
    # 2's identical code) the extra passes are exactly the chance for the
    # per-query min to land in a quiet window.
    gram_windows: list = []

    def _window(entry_eff: float):
        best = {name: None for name in all_queries}
        duck_best = {name: None for name in duck_sql}
        stat0 = _stat_snapshot()
        bench_t0 = time.time()
        passes = 0
        while passes < runs or (
            passes < runs_max and time.time() - bench_t0 < budget
        ):
            for name in all_queries:
                fn = qs[name]
                # time the WORK, not a cache read: eager operators
                # (minhash/simhash/knn/semantic_dedup classes) return a
                # live-persisted result, and Spark's CacheManager
                # plan-matches the NEXT pass's identical plan onto it —
                # round 17 measured pass-2 "compute" at 1.4 s vs a 20 s
                # cold pass for sf1 minhash_pairs. min-over-passes was
                # silently taking the cache-read time (BASELINE.md
                # round-17 protocol note).
                spark.catalog.clearCache()
                t0 = time.time()
                df = fn(spark, sf_dir)
                # terminal action: noop-sink write forces EVERY column to
                # be computed (count() would let Catalyst prune
                # unaggregated projections — measuring the scan, not the
                # extraction)
                df.write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
                b = best[name]
                best[name] = dt if b is None else min(b, dt)
                # paired DuckDB run, back-to-back with the Spark run so
                # both sides sample the same interference window
                if name in duck_sql:
                    t0 = time.time()
                    con.sql(duck_sql[name]).fetchall()
                    dt = time.time() - t0
                    b = duck_best[name]
                    duck_best[name] = dt if b is None else min(b, dt)
            passes += 1
        # the window's efficiency is its WORST probe reading (entry and
        # exit): contention that starts mid-window must not read as clean
        steal = _steal_pct(stat0, _stat_snapshot())
        exit_eff = _host_parallel_efficiency(min(32, os.cpu_count() or 32))
        # bandwidth-dimension probe PER WINDOW (round 18): taken at the
        # window exit (never contends with the timed region). Recorded
        # for every window so the census accrues (ratio, gram) pairs;
        # NOT consulted by the headline degradation policy — see the
        # GRAM_STORM_FLOOR note (headline ratio is uncorrelated with
        # gram in the r17 census; the Gram-class gate suites consult it)
        gram = _host_gram_efficiency(min(32, os.cpu_count() or 32))
        gram_windows.append(gram)
        return (best, duck_best, passes, gram, steal,
                round(min(entry_eff, exit_eff), 3))

    # HOST-NOISE GUARD (round 13): paired ratios cannot cancel vCPU
    # oversubscription — these sub-second DuckDB twins are effectively
    # single-threaded while Spark runs 32-way, so a degraded host
    # inflates ratio_paired on byte-identical code (r12 measured
    # 1.297→1.473 at efficiency 0.907→0.788). When the window reads
    # degraded — integrated steal above SPARK_GRAFT_BENCH_STEAL_MAX,
    # or probe under the storm floor (or under
    # SPARK_GRAFT_BENCH_EFF_MIN when steal is unavailable; see
    # _window_degraded) — rerun the whole window once and keep the
    # better window — same protocol the sf1 gate documents.
    eff_min = float(os.environ.get("SPARK_GRAFT_BENCH_EFF_MIN", "0.85"))
    steal_max = float(os.environ.get("SPARK_GRAFT_BENCH_STEAL_MAX", "2.0"))
    reruns = int(os.environ.get("SPARK_GRAFT_BENCH_RERUNS", "1"))

    def _probe_rerun():
        # only called when a window read degraded — the rerun message
        # rides the fresh entry probe
        print(
            f"# host degraded (efficiency < {eff_min} or steal > "
            f"{steal_max}%): rerunning the bench window",
            file=sys.stderr,
        )
        return _host_parallel_efficiency(min(32, os.cpu_count() or 32))

    (best, duck_best, passes, gram_eff, steal_pct, eff), windows, steals = (
        _guarded_windows(
            _window, _probe_rerun, host_eff, eff_min, reruns, steal_max
        )
    )
    host_eff = eff
    print(f"# passes: {passes}", file=sys.stderr)
    # min over passes: the minimum is the reproducible steady-state cost
    times = {name: round(best[name], 3) for name in all_queries}
    duck_times = {name: round(duck_best[name], 3) for name in duck_sql}
    for name in all_queries:
        duck = f" (duckdb {duck_times[name]}s)" if name in duck_times else ""
        print(f"# {name}: {times[name]}s{duck}", file=sys.stderr)

    total = round(sum(times[n] for n in BENCH_QUERIES), 3)
    duck_total = round(sum(duck_times.values()), 3)
    # apples-to-apples numerator: only queries with a DuckDB twin in
    # the SAME window — the untwinned minhash/simhash entries have no
    # denominator contribution and would inflate the ratio
    twinned_total = round(
        sum(times[n] for n in BENCH_QUERIES if n in duck_times), 3
    )
    record = (
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": times,
                "untwinned": UNTWINNED_QUERIES,
                "untwinned_total": round(
                    sum(times[n] for n in UNTWINNED_QUERIES), 3
                ),
                "duckdb_queries": duck_times,
                "duckdb_total": duck_total,
                "twinned_total": twinned_total,
                "ratio_paired": round(twinned_total / duck_total, 3)
                if duck_total
                else None,
                "host_parallel_efficiency": host_eff,
                # bandwidth-dimension probe, PER WINDOW since round 18
                # (was once-after-kept-window): the kept window's own
                # reading plus every window's, so cross-window claims
                # about bandwidth weather are artifact-backed
                "gram_parallel_efficiency": gram_eff,
                "gram_windows": gram_windows,
                "gram_floor": GRAM_STORM_FLOOR,
                "efficiency_windows": windows,
                "efficiency_floor": eff_min,
                # steal integrated over the KEPT window (probe readings
                # are point samples; this attributes the window body)
                "steal_pct_of_busy": steal_pct,
                "steal_windows": steals,
                "steal_ceiling": steal_max,
                # self-describing degradation (VERDICT r16 #5): true when
                # the KEPT window still reads degraded after the rerun
                # budget — a consumer must not treat this number as a
                # clean-window reading
                "degraded": bool(
                    _window_degraded(eff, steal_pct, eff_min, steal_max)
                ),
                "sf": sf,
            }
    )
    # headline line FIRST: a corrupt census file must never discard the
    # whole bench window's output (ADVICE r17)
    print(json.dumps(record))
    # self-recording census: every bench window lands in the round's
    # census file WITH its per-query maps (VERDICT r15 #2), so no
    # cross-window claim ever rests on numbers outside an artifact
    census = os.environ.get("SPARK_GRAFT_BENCH_CENSUS", "")
    if census:
        try:
            append_census_attempt(
                census, record, os.environ.get("SPARK_GRAFT_BENCH_NOTE", "")
            )
        except Exception as e:
            print(f"# census append failed: {e!r}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
