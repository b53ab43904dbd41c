#!/usr/bin/env python3
"""Seeded JSON query benchmark for datafusion_functions_json_spark.

Run from the repository root:

    python3 perfbench/run.py --workload adhoc_unique --seed 1 --seconds 15 --trace 0

One driver process on ``local[k]`` (k = min(4, cores)) runs a closed loop --
one client, each query sent when the previous one returned -- over a
corpus generated from ``--seed``. Every result is checked against an oracle
computed from the generator's records. The last stdout line is one JSON
object: with ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the
per-layer metrics of a traced run (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
PACKAGE = "datafusion_functions_json_spark"
SETUPS = 3  # set-ups per run; setup_s is their median

sys.path.insert(0, str(HERE))
import corpus  # noqa: E402
import layers  # noqa: E402
import templates  # noqa: E402

# workload -> (corpus shape, template mix run once per cycle)
WORKLOADS = {
    "adhoc_unique": ("unique", templates.QUERY_TEMPLATES + [templates.ETL_TEMPLATE]),
    "dashboard_repeated": ("repeated", templates.QUERY_TEMPLATES),
}


class MemorySampler(threading.Thread):
    """Peak summed proportional set size (PSS) of every process this one
    started -- the driver JVM and its Python workers -- sampled once a
    second. PSS splits pages the forked Python workers share, so shared
    memory is counted once. A sample reads every process's page tables
    (about 25 ms at 1 GB), so sampling more often would slow the run it
    measures."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _descendants():
        children: dict = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(entry))
        out, todo = [], list(children.get(os.getpid(), []))
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    @staticmethod
    def _pss_kb(pid) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def run(self):
        while not self._stop_evt.wait(1.0):
            total = sum(self._pss_kb(p) for p in self._descendants())
            self.peak_kb = max(self.peak_kb, total)

    def stop(self):
        self._stop_evt.set()
        if self.is_alive():
            self.join(timeout=5)


def prepare_inputs(workload: str, seed: int):
    """The corpus for ``seed`` on disk and the oracle's expected results:
    ``(days, path, expected, seconds taken)``."""
    t0 = time.perf_counter()
    shape = corpus.SHAPES[WORKLOADS[workload][0]]
    days = corpus.generate(shape, seed)
    path = WORK / "corpus" / f"{shape.name}-{seed}"
    shutil.rmtree(path, ignore_errors=True)
    corpus.write_parquet(shape, days, str(path))
    expected = expectations(days, WORKLOADS[workload][1])
    return days, path, expected, time.perf_counter() - t0


class Ctx:
    """What a template needs: the session, the package, the corpus view."""

    def __init__(self, spark, F, jsonf, sources, corpus_path):
        self.spark, self.F, self.jsonf, self.sources = spark, F, jsonf, sources
        self.out_path = WORK / "etl-out"
        self.corpus_path = corpus_path
        self.docs = spark.read.parquet(str(corpus_path))
        self.docs.createOrReplaceTempView("docs")

    def day_df(self, day: int):
        return self.docs.where(self.F.col("day") == day)


def spark_env(cores: int):
    for d in ("tmp", "spark-local", "warehouse"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    return {
        "spark.master": f"local[{cores}]",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        # a fixed heap size: adaptive heap sizing otherwise changes the GC
        # share from one run to the next. Pages are not pre-touched, so the
        # resident memory is what the run touches
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={WORK / 'tmp'}",
    }


def start_session(conf, tracer):
    with tracer.span("setup.session"):
        from pyspark.sql import SparkSession

        builder = SparkSession.builder
        for k, v in conf.items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
    return spark


def restart(spark, conf, tracer):
    """A new session in the running JVM, with the package's modules dropped
    so that the next set-up imports them again. Stopping the old session
    stops its Python workers, so the next warm-up starts new ones."""
    spark.stop()
    for name in [m for m in sys.modules if m.split(".")[0] == PACKAGE]:
        del sys.modules[name]
    return start_session(conf, tracer)


def setup(spark, cores, tracer):
    """Package import, ``register_all`` and a warm-up query that starts a
    Python worker per core: everything between a new session and the first
    query. Returns the session and the modules a template uses."""
    from pyspark.sql import functions as F

    with tracer.span("setup.import"):
        import datafusion_functions_json_spark as jsonf
        from datafusion_functions_json_spark import sources
    with tracer.span("setup.register_all"):
        jsonf.register_all(spark, auto_tier=True)
    with tracer.span("setup.warmup"):
        spark.range(0, cores, 1, cores).select(
            jsonf.json_get_int(F.lit('{"a": 1}'), "a").alias("a")
        ).agg(F.sum("a")).collect()
    return spark, F, jsonf, sources


def check_package() -> None:
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        sys.exit(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a "
                 "checkout of the repository")
    sys.path.insert(0, str(ROOT))
    import importlib.util

    spec = importlib.util.find_spec(PACKAGE)
    if spec is None or not str(spec.origin).startswith(str(ROOT)):
        sys.exit(f"perfbench: {PACKAGE} does not resolve inside {ROOT}")


def expectations(days, mix):
    """Oracle results per (template, day), computed before the timed loop."""
    return {t.name: [t.expect(day.pairs()) for day in days] for t in mix}


class LoopResult:
    def __init__(self):
        self.lat = []  # (template name, seconds) per query, in order
        self.docs = 0
        self.attempted = 0
        self.failed = 0


def run_one(ctx, t, day, tracer):
    """One query (or job) of template ``t`` on ``day``; returns its latency
    and the result row. Raises on a failed query."""
    t0 = time.perf_counter()
    with tracer.span("query", template=t.name, day=day):
        with tracer.span("build"):
            df = t.build(ctx, day)
        with tracer.span("plan"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("exec"):
            if t.job:
                ctx.sources.write_partitioned(df, str(ctx.out_path),
                                              partition_by=("kind",))
            else:
                row = tuple(df.collect()[0])
    dt = time.perf_counter() - t0
    with tracer.span("verify"):
        if t.job:
            row = tuple(templates.etl_checksum(ctx, str(ctx.out_path)).collect()[0])
    return dt, row


def run_loop(ctx, mix, days, expected, seconds, tracer, log):
    """Closed loop in whole cycles of the template mix, one day-partition
    per query, until ``seconds`` have passed (at least one cycle); each
    query's result is checked against the oracle."""
    res = LoopResult()
    t_end = time.perf_counter() + seconds
    for cycle in itertools.count(1):
        for i, t in enumerate(mix):
            day = (cycle + i) % len(days)
            want = expected[t.name][day]
            res.attempted += 1
            tracer.begin_query(ctx, t, day)
            t0 = time.perf_counter()
            try:
                dt, row = run_one(ctx, t, day, tracer)
                ok = templates.same(row, want)
                if not ok:
                    log(f"MISMATCH {t.name} day={day}: got {row} want {want}")
            except Exception:
                dt, ok = time.perf_counter() - t0, False
                log(f"ERROR {t.name} day={day}:\n{traceback.format_exc()}")
            tracer.end_query(ctx, days[day].rows)
            res.lat.append((t.name, dt))
            res.docs += days[day].rows
            res.failed += not ok
        log(f"cycle {cycle}: p50 {statistics.median(d for _, d in res.lat[-len(mix):]):.4f} s")
        if time.perf_counter() >= t_end:
            return res


def shutdown(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def tail(lat):
    """Highest percentile with at least ten samples beyond it, as
    ``(value, percentile, samples)``; the maximum when no percentile above
    the median has ten beyond it (fewer than 21 samples)."""
    s = sorted(lat)
    n = len(s)
    if n < 21:
        return s[-1], 100.0, n
    k = n - 10  # s[k-1] has exactly ten samples above it
    return s[k - 1], 100.0 * k / n, n


def report(workload, res, setups, session_s, peak_kb):
    """End-to-end metrics of an untraced run, printed with units."""
    lat = [dt for _, dt in res.lat]
    tail_v, tail_p, n = tail(lat)
    metrics = {
        "setup_s": {"value": statistics.median(setups), "unit": "s"},
        "docs_per_s": {"value": res.docs / sum(lat), "unit": "docs/s"},
        "query_p50_s": {"value": statistics.median(lat), "unit": "s"},
        "peak_rss_mb": {"value": peak_kb / 1024, "unit": "MB"},
    }
    for k, m in metrics.items():
        print(f"{workload} {k} = {m['value']:.6g} {m['unit']}")
    # failed_frac is 0 whenever the code is correct, and a run holds too
    # few queries for a tail above the median: both are printed here (and
    # failed_frac is carried by the result's attempted/failed counts), not
    # bounded in BENCHMARK.json
    print(f"{workload} failed_frac = {res.failed / res.attempted:.6g} "
          f"({res.failed} of {res.attempted} queries)")
    print(f"{workload} query_tail_s = {tail_v:.6g} s (p{tail_p:.1f} of {n} queries)")
    print(f"{workload} session start (JVM launch), not in setup_s: {session_s:.3f} s")
    by_template: dict = {}
    for name, dt in res.lat:
        by_template.setdefault(name, []).append(dt)
    for name, v in by_template.items():
        print(f"{workload} {name}: p50 {statistics.median(v):.4f} s over {len(v)}")
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    check_package()
    WORK.mkdir(exist_ok=True)
    log_file = open(WORK / f"{args.workload}-{args.seed}-trace{args.trace}.log", "w")

    def log(msg):
        print(msg, file=log_file, flush=True)
        print(msg, file=sys.stderr, flush=True)

    mem = MemorySampler()
    cores = min(4, len(os.sched_getaffinity(0)))
    conf = spark_env(cores)
    mix = WORKLOADS[args.workload][1]
    tracer = layers.Tracer() if args.trace else layers.NoTracer()
    spark = None
    try:
        # the corpus and the oracle are made in a child process while the
        # JVM starts; neither is part of setup_s
        with ProcessPoolExecutor(1, mp_context=get_context("fork")) as pool:
            inputs = pool.submit(prepare_inputs, args.workload, args.seed)
            t0 = time.perf_counter()
            spark = start_session(conf, tracer)
            session_s = time.perf_counter() - t0
            days, corpus_path, expected, gen_s = inputs.result()
        mem.start()
        setups = []
        for k in range(SETUPS):
            if k:
                spark = restart(spark, conf, tracer)
            t0 = time.perf_counter()
            session = setup(spark, cores, tracer)
            setups.append(time.perf_counter() - t0)
        log(f"set-ups {', '.join(f'{s:.3f}' for s in setups)} s")
        ctx = Ctx(*session, corpus_path)

        def cycles(tracer, seconds=0):
            return run_loop(ctx, mix, days, expected, seconds, tracer, log)

        t_warm = time.perf_counter()
        # one untimed cycle: the first run of each template is slow (JIT,
        # lazy set-up inside Spark and the package); its results are
        # checked too
        warm = cycles(layers.NoTracer())
        log(f"corpus and oracle {gen_s:.2f} s, warm-up {time.perf_counter() - t_warm:.2f} s")
        if args.trace:
            metrics, attempted, failed = layers.traced_run(
                ctx, tracer, days, cycles, args.seconds, log,
                WORK / f"trace-{args.workload}-{args.seed}.json")
        else:
            res = cycles(layers.NoTracer(), args.seconds)
            metrics = report(args.workload, res, setups, session_s, mem.peak_kb)
            attempted, failed = res.attempted, res.failed
    finally:
        mem.stop()
        shutdown(spark)
        log_file.close()
    print(json.dumps({
        "correct": failed + warm.failed == 0,
        "attempted": attempted + warm.attempted,
        "failed": failed + warm.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
