"""perfbench's query templates and its ``etl_flatten`` job on the Python
kernels, with the JVM exact tier forced off, checked against perfbench's
own oracle (``perfbench/templates.py`` and ``corpus.py``, imported, not
changed) on one day of each corpus shape. With the tier loaded no
template runs a Python body, so the benchmark alone never checks them.
"""

import importlib.util
import os
import sys

import pytest
from pyspark.sql import functions as F

import datafusion_functions_json_spark as jsonf
from datafusion_functions_json_spark import sources

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _perfbench(name):
    spec = importlib.util.spec_from_file_location(
        f"perfbench_{name}", os.path.join(REPO, "perfbench", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # its dataclasses resolve their module
    spec.loader.exec_module(mod)
    return mod


templates = _perfbench("templates")
corpus = _perfbench("corpus")


class _Ctx:
    """What a template reads, as perfbench/run.py's ``Ctx`` provides it:
    the session, the package and the corpus as the view ``docs``."""

    def __init__(self, spark, docs):
        self.spark, self.F, self.jsonf, self.sources = spark, F, jsonf, sources
        self.docs = docs
        docs.createOrReplaceTempView("docs")

    def day_df(self, day):
        return self.docs.where(F.col("day") == day)


@pytest.mark.parametrize("shape", sorted(corpus.SHAPES))
def test_templates_match_the_oracle(spark, python_tier, monkeypatch,
                                    tmp_path, shape):
    day = corpus.generate(corpus.SHAPES[shape], 1)[0]
    corpus.write_parquet(corpus.SHAPES[shape], [day], str(tmp_path / "corpus"))
    ctx = _Ctx(spark, spark.read.parquet(str(tmp_path / "corpus")))
    jsonf.register_all(spark)
    try:
        got = {}
        for t in templates.QUERY_TEMPLATES:
            df = t.build(ctx, 0)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "ArrowEvalPython" in plan, t.name
            got[t.name] = tuple(df.collect()[0])
        etl, out = templates.ETL_TEMPLATE, str(tmp_path / "etl")
        sources.write_partitioned(etl.build(ctx, 0), out, partition_by=("kind",))
        got[etl.name] = tuple(templates.etl_checksum(ctx, out).collect()[0])
    finally:
        monkeypatch.undo()
        jsonf.register_all(spark)
    bad = [
        (t.name, got[t.name], t.expect(day.pairs()))
        for t in templates.QUERY_TEMPLATES + [templates.ETL_TEMPLATE]
        if not templates.same(got[t.name], t.expect(day.pairs()))
    ]
    assert not bad, bad
