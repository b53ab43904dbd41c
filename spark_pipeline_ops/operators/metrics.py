"""Zero-extra-pass pipeline telemetry via Spark ``Observation``.

A 100 TB curation job needs run metrics — rows in/out per stage, null
rates, drop ratios — but every ``df.count()`` is a full extra pass over
the input (the exact defect class a ``count()``-based sink sizing has).
``df.observe`` attaches aggregate expressions to the SAME action that
materializes the data: the metrics ride the job's existing scan as
accumulator-style partial aggregates, costing ~nothing, and are read
off the driver after the action completes.

Usage::

    from spark_pipeline_ops.operators import metrics

    df, obs = metrics.observe_stats(df, "curated", null_cols=["text"])
    df.write.parquet(path)          # one pass: data AND metrics
    m = obs.get                     # {'n_rows': ..., 'null_text': ...}

    stages = metrics.StageMetrics()
    df1 = stages.track(df1, "raw")
    df2 = stages.track(curate(df1), "curated")
    df2.write.parquet(path)
    stages.report()                 # {'raw': {...}, 'curated': {...}}

Batch-only (Spark's ``Observation.get`` blocks on the next action;
streaming queries expose the same metrics through
``StreamingQueryListener`` instead). Each Observation instance is
single-use — consistent with one metrics row per materialization.

Reference scope note: the reference engine has no pipeline operators —
this belongs to the LLM-pipeline extension suite.
"""

from __future__ import annotations

import threading

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

__all__ = ["observe_stats", "StageMetrics"]


def _bounded_obs_get(obs, timeout_s: float):
    """``obs.get`` under a join-bounded daemon thread.

    Returns ``(True, metrics)`` when the Observation materialized within
    ``timeout_s``; ``(False, None)`` on timeout or error. Used on the
    no-JVM-handle path (Spark Connect), where ``Observation.get`` for a
    never-materialized Observation blocks server-side or raises instead
    of honoring any timeout; a thread left blocked in ``get`` is a
    daemon and dies with the driver."""
    box = {}

    def _read():
        try:
            box["val"] = obs.get
        except Exception as e:  # Connect may raise instead of blocking
            box["err"] = e

    t = threading.Thread(target=_read, daemon=True)
    t.start()
    t.join(timeout_s)
    if t.is_alive() or "err" in box:
        return False, None
    return True, box.get("val")


def observe_stats(
    df: DataFrame,
    name: str,
    *,
    null_cols: list | None = None,
    extra: dict | None = None,
) -> tuple:
    """Attach row-count + per-column null-count metrics to ``df``'s next
    action. Returns ``(df, observation)``; read ``observation.get``
    (a dict) AFTER an action has materialized the DataFrame.

    ``extra`` maps metric names to aggregate Columns (e.g.
    ``{"tokens": F.sum("n_tokens")}``) evaluated in the same pass.
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in null_cols or []:
        # count(when(...)), not sum(cast): sum over an EMPTY frame is
        # NULL and a fully-filtered stage would report null_x=None
        # instead of 0 (validate.py uses the same pattern)
        aggs.append(
            F.count(F.when(F.col(c).isNull(), F.lit(1))).alias(f"null_{c}")
        )
    for metric_name, col in (extra or {}).items():
        if not isinstance(col, Column):
            raise TypeError(f"extra[{metric_name!r}] must be a Column")
        aggs.append(col.alias(metric_name))
    obs = Observation(name)
    return df.observe(obs, *aggs), obs


class StageMetrics:
    """Collects one :func:`observe_stats` observation per pipeline stage
    so a multi-stage job (curate → split → chunk → pack) reports every
    stage's row counts from its single materializing action."""

    def __init__(self):
        self._stages: dict[str, object] = {}

    def track(
        self,
        df: DataFrame,
        stage: str,
        *,
        null_cols: list | None = None,
        extra: dict | None = None,
    ) -> DataFrame:
        if stage in self._stages:
            raise ValueError(f"stage {stage!r} already tracked")
        df, obs = observe_stats(df, stage, null_cols=null_cols, extra=extra)
        self._stages[stage] = obs
        return df

    def report(self, *, strict: bool = False, timeout_s: float = 10.0) -> dict:
        """Metrics per stage. A stage whose DataFrame was never
        materialized reports ``None`` after ``timeout_s`` instead of
        DEADLOCKING the driver (``Observation.get`` blocks indefinitely
        waiting for a first action — an abandoned branch would hang
        ``report()`` forever; the bounded wait also absorbs the normal
        few-ms race between an action finishing and the listener thread
        publishing the metrics). ``strict=True`` raises for timed-out
        stages instead."""
        out = {}
        pending = []
        for stage, obs in self._stages.items():
            # Spark Connect Observations carry no _jo/_jvm handle so the
            # bounded JVM wait below is classic-session-only. Connect's
            # ``get`` STILL blocks (or raises) for a never-materialized
            # Observation, so the no-handle path gets its own bounded
            # wait: ``obs.get`` runs on a daemon thread with a join
            # timeout, and timeout/failure maps to the same None/pending
            # handling (ADVICE r17).
            jo = getattr(obs, "_jo", None)
            done = True
            if jo is None or getattr(obs, "_jvm", None) is None:
                ok, val = _bounded_obs_get(obs, timeout_s)
                if ok:
                    out[stage] = val
                else:
                    out[stage] = None
                    pending.append(stage)
                continue
            if jo is not None and getattr(obs, "_jvm", None) is not None:
                try:
                    jvm = obs._jvm
                    dur = jvm.scala.concurrent.duration.Duration.apply(
                        f"{timeout_s}s"
                    )
                    jvm.scala.concurrent.Await.ready(jo.future(), dur)
                except Exception as e:
                    # ONLY the JVM TimeoutException means "no action has
                    # materialized this stage yet" — that is the case the
                    # bounded wait exists for. Anything else (attribute /
                    # reflection drift on a future Spark, py4j protocol
                    # errors) must fail LOUDLY: swallowing it would make a
                    # stage that DID run silently report None, masking
                    # telemetry.
                    jexc = getattr(e, "java_exception", None)
                    jname = (
                        jexc.getClass().getName() if jexc is not None else ""
                    )
                    if "TimeoutException" not in jname:
                        raise
                    done = False
            if not done:
                out[stage] = None
                pending.append(stage)
                continue
            out[stage] = obs.get
        if strict and pending:
            raise RuntimeError(
                f"stages never materialized (no action ran): {pending}"
            )
        return out
