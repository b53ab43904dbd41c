"""Several Python threads building and running queries on one session, as
a dashboard's clients do. perfbench's query templates (the API getters,
the SQL names, ``json_extract_multi`` and ``jsonf.sql``;
``perfbench/templates.py`` and ``corpus.py``, imported, not changed) give
the same rows from 8 threads as from one, and perfbench's oracle's rows,
on both tiers. This pins any state built lazily by the tier's loader
(``jvm_tier.load``), by its expressions, and by the Python tier's cached
UDFs.
"""

import weakref
from concurrent.futures import ThreadPoolExecutor

import pytest

import datafusion_functions_json_spark as jsonf
from datafusion_functions_json_spark.functions import jvm_tier

from test_perfbench_python_tier import _Ctx, corpus, templates

THREADS = 8
ROWS = 600


@pytest.fixture(params=["jvm", "python"])
def either_tier(request, spark, monkeypatch):
    """The JVM exact tier, loaded afresh by the threads themselves; then
    the Python tier, with the tier's loader forced off."""
    if request.param == "python":
        request.getfixturevalue("python_tier")
    elif jvm_tier.load(spark.sparkContext) is None:
        pytest.skip("JVM exact tier unavailable")
    else:
        monkeypatch.setattr(jvm_tier, "_tiers", weakref.WeakKeyDictionary())
    return request.param


def test_threads_match_one_thread(spark, either_tier, monkeypatch):
    day = corpus.generate(corpus.SHAPES["unique"], 1)[0]
    pairs = list(zip(day.records, day.counts))[:ROWS]
    docs = spark.createDataFrame(
        [(0, t) for t, c in zip(day.texts, day.counts[:ROWS]) for _ in range(c)],
        "day int, j string",
    ).repartition(2)
    ctx = _Ctx(spark, docs)
    shapes = templates.QUERY_TEMPLATES

    def run(first):
        # each thread builds and collects every shape, starting at its own
        order = shapes[first:] + shapes[:first]
        return {t.name: tuple(t.build(ctx, 0).collect()[0]) for t in order}

    try:
        with ThreadPoolExecutor(THREADS) as pool:
            # the threads race to load the tier and to register the names
            list(pool.map(lambda _: jsonf.register_all(spark), range(THREADS)))
            many = list(pool.map(run, [k % len(shapes) for k in range(THREADS)]))
        one = run(0)
    finally:
        monkeypatch.undo()
        jsonf.register_all(spark)
    bad = [
        (k, t.name, got[t.name], one[t.name])
        for k, got in enumerate(many) for t in shapes
        if not templates.same(got[t.name], one[t.name])
    ]
    assert not bad, bad
    bad = [(t.name, one[t.name], t.expect(pairs)) for t in shapes
           if not templates.same(one[t.name], t.expect(pairs))]
    assert not bad, bad
