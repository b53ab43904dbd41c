"""Worker-unpickling regression gate: drive the package from a cwd
OUTSIDE the repo in a fresh subprocess.

UDF closures must unpickle on executors without the repo on sys.path
(the package cloudpickles its kernel modules by value — see
``_register_pickle_by_value`` in ``__init__``). Regressions here show
up as ``ModuleNotFoundError`` at first action — a module-name import
inside a UDF body, a kernel module missing from the by-value list —
and this round one such bug shipped to the brink: a fixture UDF that
imported ``operators._codecs`` by name inside the worker. This test
runs the exact scenario the verify recipe checks by hand.
"""

import os
import subprocess
import sys
import textwrap

SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {repo!r})
    from pyspark.sql import SparkSession, functions as F
    import datafusion_functions_json_spark as jsonf
    from spark_pipeline_ops.operators import multimodal, text

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    # a JSON getter at a literal path (the JVM tier when it loads)
    df = spark.createDataFrame(
        [('{{"k": 7}}', "k"), ("{{", "k"), (None, None)], ["j", "key"]
    )
    got = [r.k for r in df.select(jsonf.json_get_int("j", "k").alias("k")).collect()]
    assert got == [7, None, None], got
    # column paths, from the API and from a SQL name, and the fused
    # multi: on the JVM tier no Python UDF; with the tier forced off, the
    # Python Arrow UDF (multi, udfs, kernels and core by value)
    from datafusion_functions_json_spark.functions import jvm_tier
    df.createOrReplaceTempView("fc_docs")
    tier_load = jvm_tier.load
    with_tier = [True] if tier_load(spark.sparkContext) is not None else []
    for tier_on in with_tier + [False]:
        jvm_tier.load = tier_load if tier_on else (lambda sc: None)
        jsonf.register_all(spark)
        for q in (
            df.select(jsonf.json_get_int("j", F.col("key")).alias("k")),
            spark.sql("select json_get_int(j, key) as k from fc_docs"),
            df.select(jsonf.json_extract_multi(
                "j", {{"k": ("int", "k")}})["k"].alias("k")),
        ):
            plan = q._jdf.queryExecution().executedPlan().toString()
            if tier_on:
                assert "EvalPython" not in plan, plan
            else:
                assert "ArrowEvalPython" in plan, plan
            got = [r.k for r in q.collect()]
            assert got == [7, None, None], got
    jvm_tier.load = tier_load
    jsonf.register_all(spark)
    # mapInPandas media path (multimodal + _codecs by value)
    from spark_pipeline_ops.operators._codecs import encode_avi
    import numpy as np
    frames = [np.full((8, 8, 3), 9, np.uint8)]
    rows = [(1, "video", bytearray(encode_avi(frames)), "video/avi",
             (8, 8, 900, None))]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = multimodal.extract_video_features(media, every_ms=1000).collect()
    assert len(out) == 1 and out[0].features is not None, out
    # mapInPandas Misra-Gries path (sketch by value)
    from spark_pipeline_ops.operators import sketch
    items = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 2 + [("c",)], ["item"]
    )
    hh = sketch.heavy_hitters(items, "item", 2, capacity=2).collect()
    assert [(r.item, r.cnt) for r in hh] == [("a", 5), ("b", 2)], hh
    # mapInPandas dHash path (multimodal by value, numpy kernel)
    ppm = b"P6\\n4 4\\n255\\n" + bytes([10] * 24 + [200] * 24)
    img = spark.createDataFrame([(1, bytearray(ppm))], "media_id long, payload binary")
    dh = multimodal.image_dhash(img).collect()
    assert dh[0].dhash is not None, dh
    # applyInPandasWithState sessionizer (streaming module by value:
    # its fn closure references module-level _session_frame)
    import json as _json, os as _os, time as _time
    from spark_pipeline_ops import streaming as js
    from pyspark.sql import types as T
    _sd = "sess_in"
    _os.makedirs(_sd, exist_ok=True)
    with open(_os.path.join(_sd, "b0.jsonl"), "w") as f:
        for ts in ("2024-01-01T00:00:00", "2024-01-01T00:00:30",
                   "2024-01-01T00:05:00"):
            f.write(_json.dumps(
                {{"ts": ts, "payload": '{{"user": "a"}}'}}) + "\\n")
    _schema = T.StructType([T.StructField("ts", T.TimestampType()),
                            T.StructField("payload", T.StringType())])
    _stream = spark.readStream.schema(_schema).json(_sd)
    _q = (js.sessionize(_stream, "payload", ("user",), ts_col="ts",
                        gap_seconds=60)
          .writeStream.format("memory").queryName("fc_sess")
          .outputMode("update").trigger(availableNow=True).start())
    _deadline = _time.time() + 120
    while _time.time() < _deadline:
        if spark.sql("select * from fc_sess").count() >= 1:
            break
        _time.sleep(1)
    _q.stop()
    _got = [(r.key, r.n_events)
            for r in spark.sql("select * from fc_sess").collect()]
    assert _got == [("a", 2)], _got
    print("FOREIGN_CWD_OK")
    """
)


def test_worker_unpickling_from_foreign_cwd(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(repo=repo)],
        cwd=str(tmp_path),  # NOT the repo
        capture_output=True,
        text=True,
        timeout=300,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "FOREIGN_CWD_OK" in proc.stdout
