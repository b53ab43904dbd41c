"""Round-7 sf1 spot-bench: substantiate BASELINE.md's floor-amortization
claim with measurements instead of argument.

The sub-second sf0.1 headliners (tpch_q1, events_hourly, orders_join,
json_agg, cosine_topk) are floor-bound: Spark's fixed ~0.15-0.3 s
per-action scheduling/Arrow-session constant dominates queries whose
data fits in milliseconds, so their sf0.1 ratios vs DuckDB (8-39x) say
nothing about the 100 TB posture. This tool scales the SAME queries to
sf1-equivalent row counts (10x sf0.1: ~6 M lineitem rows) and runs the
same paired, interleaved, min-of-passes protocol as bench.py — if the
floor argument is right, the paired ratios must converge toward the
per-row-dominated regime as the constant amortizes.

Data (generated once into .benchdata/sf1, gitignored, ~200 MB):
- lineitem, events: 10 verbatim file copies in a directory — parquet
  readers union them; row counts scale 10x, aggregation semantics are
  unchanged (pure group-bys), and the physical encoding (including the
  TIMESTAMP(NANOS) columns) stays byte-identical to the driver data.
- orders, customer, embeddings: 10 key-OFFSET replicas written via
  Spark (replica i shifts every key by i * (max_key + 1)) so join
  multiplicity stays 1:1 and `vec_id = 0` stays unique — a verbatim
  copy would fan the orders-customer join 10x per side (100x output)
  and give cosine_topk's oracle 10 query points.

Usage: python tools/sf1_bench.py [--regen]
Prints one JSON line with per-query spark/duckdb minima and paired
ratios at sf1, for the "Round-7 sf1 spot-bench" table in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from datafusion_functions_json_spark.sources import load_table, session_defaults

SRC = os.environ.get("SPARK_GRAFT_SF1_SRC", "/root/testdata/sf0.1")
# --sf N (default 1): replicate the sf0.1 source N*10-fold into
# .benchdata/sf{N} — the round-11 floor-amortization ledger runs the
# same protocol at sf1 AND an sf10-equivalent decade to record the
# ratio-vs-scale curve (verbatim tables are hardlinks, so a decade of
# lineitem/events costs no disk; offset tables are written once).
SF = 1
DST = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   ".benchdata", "sf1")
REPLICAS = 10
COPY_TABLES = ["lineitem", "events"]
OFFSET_TABLES = {
    # table -> key columns to shift per replica (each by its own max+1)
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "embeddings": ["vec_id"],
    # documents is key-offset, NOT verbatim-copied: the round-9 LLM
    # operators below dedup BY doc_id — verbatim replicas would plant
    # 10 same-id exact duplicates per doc and turn the pair graph into
    # garbage. A doc_id shift keeps every text unique-per-id while the
    # text distribution (what the operators actually chew on) is
    # unchanged.
    "documents": ["doc_id"],
}
# the 5 floor-bound headliners BASELINE.md's claim is about, plus two
# per-row-dominated controls: multi_extract (the fused JSON extraction)
# and lang_id (regex scoring, Spark-favored),
# plus the round-9 LLM-operator tier whose 100 TB story BASELINE.md
# argues from docstrings: semantic_dedup (cluster-keyed SemDeDup over
# 10x embeddings) and training_prep (curate→split→chunk→pack).
QUERIES = [
    "tpch_q1", "events_hourly", "orders_join", "json_agg", "cosine_topk",
    "multi_extract", "lang_id",
    "semantic_dedup", "training_prep",
    # round-11 ledger additions: kernels shared with queries that invert
    # at sf1 but never themselves measured beyond sf0.1 (VERDICT r10)
    "json_get_int",
    "token_count",
    # round-14: eval_per_distinct's N→D claim at sf1 (VERDICT r13
    # item 3) — dict_extract vs its per-row twin on events.props
    # (1M rows, 100 distinct at sf1: a 10,000:1 duplication ratio)
    "dict_extract", "dict_extract_rowwise",
    # round-17 (VERDICT r16 #7): sf10 representatives for the
    # line-dedup and tf-idf LLM families — select via --queries; note
    # the .benchdata replica corpus repeats every text 10x SF times,
    # so their group sizes scale superlinearly by design here
    "line_dedup", "tf_idf",
]
# spark-only (no DuckDB twin exists — xxhash64 candidate generation):
# timed for the sf0.1 → sf1 scale curve, excluded from paired ratios
UNTWINNED = ["minhash_pairs"]


def generate(spark, tables=None):
    """Build the replica tables under DST (skips existing dirs).
    ``tables`` restricts generation to a subset (the sf100 decade rows
    need only events/orders/customer — replicating documents and
    embeddings 1000x would burn disk and wall for queries that never
    read them, VERDICT r14 #2)."""
    os.makedirs(DST, exist_ok=True)
    for t in COPY_TABLES:
        if tables is not None and t not in tables:
            continue
        d = os.path.join(DST, f"{t}.parquet")
        if os.path.isdir(d):
            continue
        os.makedirs(d + ".tmp", exist_ok=True)
        src = os.path.join(SRC, f"{t}.parquet")
        for i in range(REPLICAS):
            dst = os.path.join(d + ".tmp", f"part-{i:04d}.parquet")
            try:
                os.link(src, dst)  # hardlink when same fs; else copy
            except OSError:
                shutil.copyfile(src, dst)
        os.rename(d + ".tmp", d)
        print(f"# generated {t} (verbatim x{REPLICAS})", file=sys.stderr)
    for t, keys in OFFSET_TABLES.items():
        if tables is not None and t not in tables:
            continue
        d = os.path.join(DST, f"{t}.parquet")
        if os.path.isdir(d):
            continue
        base = load_table(spark, SRC, t)
        mods = base.agg(*[(F.max(k) + 1).alias(k) for k in keys]).collect()[0]
        dtypes = dict(base.dtypes)
        if REPLICAS > 100:
            # scalable formulation for the sf100 decade: a REPLICAS-way
            # unionByName makes Catalyst re-analyze a plan that grows
            # linearly in branches (minutes of driver time at 1000);
            # one broadcast-range cross join emits the identical rows
            # through a single scan. Only used ABOVE the sf10 grain
            # (REPLICAS > 100) so the pinned sf1/sf10 ledgers keep
            # their original physical layout on regeneration — the
            # round-17 optimization round measured that regenerating
            # sf10 embeddings through this path (same values, replica-
            # interleaved layout, 32 files instead of 100) made
            # semantic_dedup_pairs 2.5-4x slower on EVERY code version
            # (pin-era ~13.6 s -> 33-55 s), breaching pins that the
            # code itself still meets on original-layout data.
            # the RANGE side drives (one partition per ~16 replicas →
            # every core expands in parallel) and the sub-10MB source
            # table is the broadcast side — broadcasting the range
            # instead would funnel the whole expansion through the
            # source's single parquet split
            nparts = max(32, REPLICAS // 16)
            reps = spark.range(
                0, REPLICAS, numPartitions=nparts
            ).withColumnRenamed("id", "_rep")
            r = reps.crossJoin(F.broadcast(base))
            for k in keys:
                r = r.withColumn(
                    k,
                    (F.col(k) + F.col("_rep") * F.lit(mods[k])).cast(
                        dtypes[k]
                    ),
                )
            # no final repartition: the range partitioning already
            # yields ~REPLICAS/nparts source-sized files per task
            rep = r.drop("_rep").select(*base.columns)
        else:
            rep = None
            for i in range(REPLICAS):
                r = base
                for k in keys:
                    r = r.withColumn(
                        k, (F.col(k) + F.lit(i * mods[k])).cast(dtypes[k])
                    )
                rep = r if rep is None else rep.unionByName(r)
        rep.write.mode("overwrite").parquet(d)
        print(f"# generated {t} (key-offset x{REPLICAS})", file=sys.stderr)


def main():
    global SF, DST, REPLICAS, QUERIES, UNTWINNED
    if "--sf" in sys.argv:
        SF = int(sys.argv[sys.argv.index("--sf") + 1])
        DST = os.path.join(os.path.dirname(DST), f"sf{SF}")
        REPLICAS = 10 * SF
    if "--queries" in sys.argv:
        only = sys.argv[sys.argv.index("--queries") + 1].split(",")
        QUERIES = [q for q in QUERIES if q in only]
        UNTWINNED = [q for q in UNTWINNED if q in only]
        missing = set(only) - set(QUERIES) - set(UNTWINNED)
        if missing:
            raise SystemExit(f"unknown --queries entries: {sorted(missing)}")
    tables = None
    if "--tables" in sys.argv:
        tables = set(sys.argv[sys.argv.index("--tables") + 1].split(","))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # sf1 shuffles move ~100 MB: 32 reduce tasks (one per core) is the
    # right grain here, unlike bench.py's 8 at sf0.1
    shuffle = os.environ.get("SPARK_GRAFT_BENCH_SHUFFLE", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"spark-graft-sf{SF}-bench")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    if os.path.isdir("/dev/shm"):
        shm = "/dev/shm/spark-graft-local"
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    spark = session_defaults(builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    if "--regen" in sys.argv and os.path.isdir(DST):
        shutil.rmtree(DST)
    generate(spark, tables=tables)
    if "--gen-only" in sys.argv:
        # build the replica tables in a (possibly stormy) window now,
        # measure later in a clean one — generation isn't timed
        print(json.dumps({"metric": f"sf{SF}_gen_only", "dst": DST}))
        spark.stop()
        return

    # warmup: page cache + codegen + UDF worker pool (same as bench.py)
    import glob as _glob

    for f in _glob.glob(f"{DST}/*.parquet/*.parquet") + _glob.glob(f"{DST}/*.parquet"):
        if os.path.isfile(f):
            with open(f, "rb") as fh:
                while fh.read(1 << 22):
                    pass
    from datafusion_functions_json_spark import json_get_int

    if os.path.exists(os.path.join(DST, "events.parquet")):
        ev = load_table(spark, DST, "events", spread=True)
        ev.select(json_get_int("props", "k")).count()
    if os.path.exists(os.path.join(DST, "lineitem.parquet")):
        load_table(spark, DST, "lineitem").count()

    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        p = os.path.join(DST, f"{t}.parquet")
        if not os.path.exists(p):
            p = os.path.join(SRC, f"{t}.parquet")
        pat = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.sql(f"create view {t} as select * from read_parquet('{pat}')")
    oracles = entrymod.oracle_sql()
    duck_sql = {n: oracles[n] for n in QUERIES}
    for sql in duck_sql.values():
        con.sql(sql).fetchall()

    qs = entrymod.queries()
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    runs_max = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS_MAX", "10"))
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "420"))
    all_q = QUERIES + UNTWINNED
    best = {n: None for n in all_q}
    duck_best = {n: None for n in QUERIES}
    # integrated steal over the measured region (round 15): ledger
    # rows are only interpretable next to their window's weather
    from bench import _stat_snapshot, _steal_pct

    stat0 = _stat_snapshot()
    t_start = time.time()
    passes = 0
    while passes < runs or (passes < runs_max and time.time() - t_start < budget):
        for name in all_q:
            # time the WORK, not a cache read (round-17 protocol fix:
            # eager operators return live-persisted results and pass 2+
            # plan-matches the cache — sf1 minhash_pairs read 0.646 s
            # cached vs ~20 s cold; see BASELINE.md round 17)
            spark.catalog.clearCache()
            t0 = time.time()
            df = qs[name](spark, DST)
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best[name] = dt if best[name] is None else min(best[name], dt)
            if name not in duck_sql:
                continue
            t0 = time.time()
            con.sql(duck_sql[name]).fetchall()
            dt = time.time() - t0
            duck_best[name] = dt if duck_best[name] is None else min(duck_best[name], dt)
        passes += 1
    print(f"# passes: {passes}", file=sys.stderr)
    times = {n: round(best[n], 3) for n in all_q}
    duck_times = {n: round(duck_best[n], 3) for n in QUERIES}
    ratios = {n: round(times[n] / duck_times[n], 2) for n in QUERIES}
    for n in QUERIES:
        print(f"# {n}: spark {times[n]}s duckdb {duck_times[n]}s "
              f"ratio {ratios[n]}", file=sys.stderr)
    for n in UNTWINNED:
        print(f"# {n}: spark {times[n]}s (untwinned)", file=sys.stderr)
    twinned_total = round(sum(times[n] for n in QUERIES), 3)
    duck_total = round(sum(duck_times.values()), 3)
    print(json.dumps({
        "metric": f"sf{SF}_spot_bench",
        "queries": times,
        "duckdb_queries": duck_times,
        "ratios": ratios,
        "untwinned": UNTWINNED,
        "value": twinned_total,
        "duckdb_total": duck_total,
        # --queries can select only untwinned entries: no paired ratio
        "ratio_paired": (
            round(twinned_total / duck_total, 3) if duck_total else None
        ),
        "steal_pct_of_busy": _steal_pct(stat0, _stat_snapshot()),
        "unit": "sec",
        "sf": float(SF),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
