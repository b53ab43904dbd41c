"""The traced run: spans at each layer boundary the benchmark calls into,
Spark's own plan and task metrics read after every action, and direct
timings of the package's kernel, UDF and fused-extraction layers on the
workload's documents.

Everything is observed from outside the package: spans wrap the
benchmark's calls (and, for ``rewrite_sql``, the module attribute
``jsonf.sql`` looks up at call time), Spark metrics come from its status
stores, and the kernel/UDF timings call the package's functions directly.
"""

from __future__ import annotations

import itertools
import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

import corpus
import templates

# SQL plan-graph metric names (Spark's display names) read per query
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_PY_RUN = "time to run Python workers"
_PY_BOOT = "time to start Python workers"
_PY_INIT = "time to initialize Python workers"
_SCAN_BYTES = "size of files read"
_SCAN_TIME = "scan time"
_OUT_BYTES = "written output"
_OUT_FILES = "number of written files"
_OUT_PARTS = "number of dynamic part"

# (kernel family, kernel function name, path) timed on the workload's rows
KERNEL_FAMILIES = (
    ("int", "kernel_json_get_int", ("user", "age")),
    ("float", "kernel_json_get_float", ("user", "score")),
    ("str", "kernel_json_get_str", ("user", "name")),
    ("bool", "kernel_json_get_bool", ("flags", "beta")),
    ("union", "kernel_json_get", ("event", "value")),
    ("to_text", "kernel_json_to_text_fused", ("event", "value")),
    ("as_text", "kernel_json_as_text", ("event", "value")),
    ("length", "kernel_json_length", ("event", "items")),
    ("array", "kernel_json_get_array", ("user", "tags")),
    ("contains", "kernel_json_contains", ("note",)),
)

# literal-path UDFs the query templates build, timed on Arrow batches
UDF_CALLS = (
    ("json_get_int", ("user", "age")),
    ("json_get_float", ("user", "score")),
    ("json_get_str", ("user", "name")),
    ("json_get_bool", ("flags", "beta")),
    ("json_get", ("event", "value")),
    ("json_to_text_fused", ("event", "value")),
    ("json_is_null_fused", ("event", "value")),
)

# the same extraction through the SQL surface and the Python API
_PAIR_SQL = "SELECT sum(json_get_int_exact(j, 'user', 'age')) FROM docs WHERE day = {day}"
PAIR_REPEATS = 3


class NoTracer:
    """The tracer's interface, recording nothing (the untraced runs)."""

    @contextmanager
    def span(self, name, **attrs):
        yield None

    def begin_query(self, ctx, template, day):
        pass

    def end_query(self, ctx, docs):
        pass


class Tracer:
    """In-memory spans (name, start, end, parent, query id) plus Spark's
    metrics per query, keyed by a per-query Spark job group."""

    def __init__(self):
        self.spans = []
        self._stack = []
        self.query_id = None
        self.queries = []  # one dict of Spark-side metrics per query
        self._n = 0
        self._sc = None

    @contextmanager
    def span(self, name, **attrs):
        if name == "verify" and self._sc is not None:
            # the verify read-back is not part of the query's work
            self._sc.setJobGroup(f"{self._group()}-verify", "verify")
        rec = {"name": name, "query": self.query_id,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "id": len(self.spans), "start": time.perf_counter(), **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _group(self):
        return f"perfbench-q{self.query_id}"

    def begin_query(self, ctx, template, day):
        self._sc = ctx.spark.sparkContext
        self.query_id = self._n
        self._n += 1
        self._sc.setJobGroup(self._group(), template.name)
        self.queries.append({"template": template.name, "surface": template.surface,
                             "day": day, "job": template.job})

    def end_query(self, ctx, docs):
        q = self.queries[-1]
        q["docs"] = docs
        q.update(spark_metrics(ctx.spark, self._group()))
        self._sc.setJobGroup("perfbench-idle", "between queries")
        self.query_id = None

    def median_s(self, name):
        """Median duration of the spans called ``name`` (one per set-up for
        the set-up spans), or 0 when there are none."""
        d = [s["end"] - s["start"] for s in self.spans if s["name"] == name]
        return statistics.median(d) if d else 0.0

    def self_times(self):
        """Per span name: total duration minus the time its children cover."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - child.get(s["id"], 0.0))
        return out


def _wait_jobs(sc, group, timeout=5.0):
    """Job ids of ``group`` once the status store shows them all finished."""
    tracker = sc.statusTracker()
    deadline = time.perf_counter() + timeout
    while True:
        ids = list(tracker.getJobIdsForGroup(group))
        infos = [tracker.getJobInfo(j) for j in ids]
        if ids and all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos):
            return ids, infos
        if time.perf_counter() > deadline:
            return ids, [i for i in infos if i is not None]
        time.sleep(0.005)


def _executions(spark, job_ids, timeout=5.0):
    """Completed SQL executions that ran any of ``job_ids``."""
    store = spark._jsparkSession.sharedState().statusStore()
    want = set(job_ids)
    deadline = time.perf_counter() + timeout
    while True:
        n = store.executionsCount()
        recent = store.executionsList(max(0, n - 8), min(n, 8))
        found, done = [], True
        for i in range(recent.size()):
            e = recent.apply(i)
            keys = e.jobs().keys().toList()
            if not want & {int(keys.apply(k)) for k in range(keys.size())}:
                continue
            found.append(e.executionId())
            done = done and e.completionTime().isDefined()
        if (found and done) or time.perf_counter() > deadline:
            return store, found
        time.sleep(0.005)


def spark_metrics(spark, group):
    """Plan-node metrics (Python hop, scan, write) and task metrics (CPU,
    GC, scheduler and shuffle waits, failures) of one job group."""
    sc = spark.sparkContext
    jvm = sc._jvm
    job_ids, infos = _wait_jobs(sc, group)
    store, execs = _executions(spark, job_ids)
    acc_ctx = jvm.org.apache.spark.util.AccumulatorContext
    m = {"python_evals": 0, "plan_nodes": {}, "executions": len(execs)}
    for eid in execs:
        nodes = store.planGraph(eid).allNodes()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            name = node.name()
            if "EvalPython" in name:
                m["python_evals"] += 1
            metrics = node.metrics()
            for i in range(metrics.size()):
                pm = metrics.apply(i)
                acc = acc_ctx.get(pm.accumulatorId())
                if acc.isDefined():
                    key = f"{name.strip()}|{pm.name()}"
                    m["plan_nodes"][key] = m["plan_nodes"].get(key, 0) + acc.get().value()
    status = sc._jsc.sc().statusStore()
    cpu_ns = gc_ms = run_ms = failed = fetch_ms = sched_ms = 0
    for info in infos:
        for sid in info.stageIds:
            try:
                st = status.lastStageAttempt(int(sid))
            except Exception:  # stage never ran (skipped before submission)
                continue
            cpu_ns += st.executorCpuTime()
            gc_ms += st.jvmGcTime()
            run_ms += st.executorRunTime()
            failed += st.numFailedTasks()
            fetch_ms += st.shuffleFetchWaitTime()
            tasks = status.taskList(int(sid), st.attemptId(), 100_000)
            for t in range(tasks.size()):
                sched_ms += tasks.apply(t).schedulerDelay()
    m.update(cpu_ns=cpu_ns, gc_ms=gc_ms, run_ms=run_ms, task_failures=failed,
             fetch_wait_ms=fetch_ms, sched_wait_ms=sched_ms)
    return m


def _node_sum(queries, node_prefix, metric):
    return sum(v for q in queries for k, v in q["plan_nodes"].items()
               if k.startswith(node_prefix) and k.endswith("|" + metric))


def _batches(ctx, days):
    """Day 0's rows as Arrow string batches, one per file (what one task's
    Arrow batch holds), and as one list of texts."""
    import pyarrow as pa

    day = days[0]
    rows = [day.texts[i] for i in day.order]
    n_files = len(list(Path(ctx.corpus_path, "day=0").glob("*.parquet")))
    step = -(-len(rows) // n_files)
    return [pa.array(rows[k:k + step], pa.string()) for k in range(0, len(rows), step)], rows


def time_kernels(kernels, rows, sample=4000):
    """ns per document of each kernel family, called directly on rows."""
    docs = rows[:sample]
    out = {}
    for family, fn_name, path in KERNEL_FAMILIES:
        fn = getattr(kernels, fn_name)
        fn(docs[:64], itertools.repeat(path))  # warm the per-path caches
        t0 = time.perf_counter_ns()
        fn(docs, itertools.repeat(path))
        out[family] = (time.perf_counter_ns() - t0) / len(docs)
    return out


def time_udfs(udfs, batches):
    """The literal-path UDF bodies on Arrow batches, with the kernel they
    close over swapped for a timing, counting wrapper. Returns
    (ns per row, self ns per row, documents parsed per row handed in)."""
    total_ns = kernel_ns = rows = parsed = 0
    for fn_key, path in UDF_CALLS:
        real = udfs._KERNELS[fn_key]
        spent = [0, 0]

        def timed(json_vals, paths, _real=real, _spent=spent):
            t0 = time.perf_counter_ns()
            out = _real(json_vals, paths)
            _spent[0] += time.perf_counter_ns() - t0
            _spent[1] += len(json_vals)
            return out

        udfs._KERNELS[fn_key] = timed
        try:
            body = udfs.literal_path_udf.__wrapped__(fn_key, path).func
        finally:
            udfs._KERNELS[fn_key] = real
        body(batches[0][:64])  # warm
        spent[:] = [0, 0]
        t0 = time.perf_counter_ns()
        for b in batches:
            body(b)
        total_ns += time.perf_counter_ns() - t0
        kernel_ns += spent[0]
        parsed += spent[1]
        rows += sum(len(b) for b in batches)
    return total_ns / rows, (total_ns - kernel_ns) / rows, parsed / rows


class _CaptureArrowUdf:
    """Stands in for ``pyspark.sql.functions`` inside the multi module
    long enough to keep the Python function ``json_extract_multi`` wraps."""

    def __init__(self, F):
        self._F = F
        self.fn = None

    def __getattr__(self, name):
        return getattr(self._F, name)

    def arrow_udf(self, *args, **kwargs):
        real = self._F.arrow_udf(*args, **kwargs)

        def keep(fn):
            self.fn = fn
            return real(fn)

        return keep


def time_multi(multi, F, batches):
    """ns per field per document of the fused extraction's UDF body."""
    cap = _CaptureArrowUdf(F)
    multi.F = cap
    try:
        multi.json_extract_multi("j", templates.ETL_FIELDS)
    finally:
        multi.F = F
    cap.fn(batches[0][:64])  # warm
    t0 = time.perf_counter_ns()
    for b in batches:
        cap.fn(b)
    rows = sum(len(b) for b in batches)
    return (time.perf_counter_ns() - t0) / (rows * len(templates.ETL_FIELDS))


def sql_over_api(ctx, days, log):
    """Median latency of one extraction through the SQL surface over the
    same extraction through the Python API, run as interleaved pairs.
    Returns (ratio, attempted, failed)."""
    F, j = ctx.F, ctx.jsonf
    lat = {"sql": [], "api": []}
    attempted = failed = 0
    for rep in range(PAIR_REPEATS):
        day = rep % len(days)
        want = templates._aggs(days[day].pairs(), (
            templates.agg_sum,
            lambda r: templates.as_int(templates.at(r, "user", "age"))))
        for side in ("sql", "api") if rep % 2 == 0 else ("api", "sql"):
            if side == "sql":
                df = ctx.spark.sql(_PAIR_SQL.format(day=day))
            else:
                df = ctx.day_df(day).agg(F.sum(j.json_get_int("j", "user", "age")))
            t0 = time.perf_counter()
            row = tuple(df.collect()[0])
            lat[side].append(time.perf_counter() - t0)
            attempted += 1
            if not templates.same(row, want):
                failed += 1
                log(f"MISMATCH sql_over_api/{side} day={day}: got {row} want {want}")
    return statistics.median(lat["sql"]) / statistics.median(lat["api"]), attempted, failed


def traced_run(ctx, tracer, days, cycles, seconds, log, trace_path):
    """Untraced and traced cycles of the mix over ``days``
    (``cycles(tracer)`` runs one) in the order untraced, traced, traced,
    untraced, ... until ``seconds`` have passed and at least two of each
    ran, so both see the same warm-up drift (their docs_per_s ratio is the
    tracing overhead); then the direct layer timings. ``tracer`` already
    holds the set-up spans. Returns the per-layer metrics and the attempted
    and failed query counts of the whole run."""
    import importlib

    from datafusion_functions_json_spark.functions import kernels, multi, udfs

    # the package re-exports the function ``sql`` over its module name
    jsql = importlib.import_module("datafusion_functions_json_spark.sql")
    real_rewrite = jsql.rewrite_sql

    def rewrite(*a, **kw):
        with tracer.span("rewrite"):
            return real_rewrite(*a, **kw)

    plain, traced = [], []
    cache0 = udfs.literal_path_udf.cache_info()
    t_end = time.perf_counter() + seconds
    while len(traced) < 2 or time.perf_counter() < t_end:
        for on in (False, True) if len(traced) % 2 == 0 else (True, False):
            if not on:
                plain.append(cycles(NoTracer()))
                continue
            jsql.rewrite_sql = rewrite
            try:
                traced.append(cycles(tracer))
            finally:
                jsql.rewrite_sql = real_rewrite
    cache1 = udfs.literal_path_udf.cache_info()

    batches, rows = _batches(ctx, days)
    kern = time_kernels(kernels, rows)
    udf_ns, udf_self_ns, parsed_per_row = time_udfs(udfs, batches)
    multi_ns = time_multi(multi, ctx.F, batches)
    ratio, p_att, p_failed = sql_over_api(ctx, days, log)
    attempted = sum(r.attempted for r in plain + traced) + p_att
    failed = sum(r.failed for r in plain + traced) + p_failed

    qs = tracer.queries
    nq = len(qs)
    docs = sum(q["docs"] for q in qs)
    by_query = {}
    for s in tracer.spans:
        if s["query"] is not None:
            by_query.setdefault(s["query"], {}).setdefault(s["name"], 0.0)
            by_query[s["query"]][s["name"]] += s["end"] - s["start"]
    self_t = tracer.self_times()

    def span_sum(name, pred=lambda q: True):
        return sum(by_query.get(i, {}).get(name, 0.0) for i, q in enumerate(qs) if pred(q))

    native = [q for q in qs if q["surface"] == "functions.native"]
    jobs = [q for q in qs if q["job"]]
    job_docs = sum(q["docs"] for q in jobs)
    job_in_bytes = sum(corpus.day_bytes(days[q["day"]]) for q in jobs)
    hits = cache1.hits - cache0.hits
    calls = hits + cache1.misses - cache0.misses
    cpu_ns = sum(q["cpu_ns"] for q in qs)
    run_ms = sum(q["run_ms"] for q in qs)
    traced_dps = docs / sum(dt for r in traced for _, dt in r.lat)
    plain_dps = sum(r.docs for r in plain) / sum(dt for r in plain for _, dt in r.lat)
    values = {
        "sql.rewrite_ms": 1e3 * self_t.get("rewrite", 0.0) / nq,
        "api.build_ms": 1e3 * self_t.get("build", 0.0) / nq,
        "plan.plan_ms": 1e3 * self_t.get("plan", 0.0) / nq,
        "plan.python_evals": sum(q["python_evals"] for q in qs) / nq,
        "udfs.cache_hit_ratio": hits / calls if calls else 0.0,
        "hop.bytes_sent_per_doc": _node_sum(qs, "ArrowEvalPython", _PY_SENT) / docs,
        "hop.bytes_received_per_doc": _node_sum(qs, "ArrowEvalPython", _PY_RECV) / docs,
        "hop.python_s_per_mdoc": 1e-3 * _node_sum(qs, "ArrowEvalPython", _PY_RUN) / docs * 1e6,
        "hop.boot_wait_ms": (_node_sum(qs, "ArrowEvalPython", _PY_BOOT)
                             + _node_sum(qs, "ArrowEvalPython", _PY_INIT)) / nq,
        **{f"kernels.ns_per_doc.{k}": v for k, v in kern.items()},
        "udfs.ns_per_doc": udf_ns,
        "udfs.self_ns_per_doc": udf_self_ns,
        "udfs.parsed_per_row": parsed_per_row,
        "register.sql_over_api": ratio,
        "multi.ns_per_field": multi_ns,
        "native.s_per_mdoc": (span_sum("exec", lambda q: q["surface"] == "functions.native")
                              / sum(q["docs"] for q in native) * 1e6) if native else 0.0,
        "scan.bytes_per_doc": _node_sum(qs, "Scan", _SCAN_BYTES) / docs,
        "scan.ms_per_query": _node_sum(qs, "Scan", _SCAN_TIME) / nq,
        "exec.cpu_s_per_mdoc": cpu_ns * 1e-9 / docs * 1e6,
        "exec.sched_wait_ms": sum(q["sched_wait_ms"] for q in qs) / nq,
        "shuffle.fetch_wait_ms": sum(q["fetch_wait_ms"] for q in qs) / nq,
        "exec.gc_share": sum(q["gc_ms"] for q in qs) / run_ms if run_ms else 0.0,
        "exec.task_failures": sum(q["task_failures"] for q in qs),
        "exec.span_ms": 1e3 * self_t.get("exec", 0.0) / nq,
        "verify.span_ms": 1e3 * self_t.get("verify", 0.0) / nq,
        "sinks.write_s_per_mdoc": (span_sum("exec", lambda q: q["job"]) / job_docs * 1e6
                                   if jobs else 0.0),
        "sinks.bytes_out_per_in": (_node_sum(jobs, "Execute", _OUT_BYTES) / job_in_bytes
                                   if jobs else 0.0),
        "sinks.files_per_partition": (_node_sum(jobs, "Execute", _OUT_FILES)
                                      / max(1, _node_sum(jobs, "Execute", _OUT_PARTS))
                                      if jobs else 0.0),
        "trace.overhead_frac": 1.0 - traced_dps / plain_dps,
        "setup.register_all_ms": 1e3 * tracer.median_s("setup.register_all"),
        "setup.warmup_ms": 1e3 * tracer.median_s("setup.warmup"),
    }
    units = per_layer_units()
    if set(units) != set(values):
        raise RuntimeError(f"per-layer metrics differ from BENCHMARK.json: "
                           f"{sorted(set(units) ^ set(values))}")
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    with open(trace_path, "w") as f:
        json.dump({"spans": tracer.spans, "self_s": self_t, "queries": qs,
                   "metrics": metrics}, f, indent=1, default=str)
    for k, m in metrics.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    return metrics, attempted, failed


def per_layer_units():
    """Unit of every per-layer metric, as BENCHMARK.json lists them."""
    here = Path(__file__).resolve().parent
    spec = json.loads((here.parent / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer"]}
