"""Shared Spark fixtures — one local session per test run.

Fixture tables mirror the reference test suite's tables (FIXTURES.md;
reference: tests/utils/mod.rs:29-235). The reference re-encodes its JSON
column 5 ways (Utf8/LargeUtf8/Utf8View/dict×2) and asserts invariance;
Spark has one string type, so the analogous invariance axis here is input
provenance — in-memory vs parquet-roundtrip vs post-shuffle — covered in
test_functions.py::test_provenance_invariance.
"""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("datafusion_functions_json_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture
def python_tier(monkeypatch):
    """The JVM exact tier's loader forced off: every call this test builds
    runs on the Python kernels (functions/jvm_tier.py falls back)."""
    from datafusion_functions_json_spark.functions import jvm_tier

    monkeypatch.setattr(jvm_tier, "load", lambda sc: None)


# reference: tests/utils/mod.rs:32-40 (FIXTURES.md §1)
TEST_ROWS = [
    ("object_foo", ' {"foo": "abc"} '),
    ("object_foo_array", ' {"foo": [1]} '),
    ("object_foo_obj", ' {"foo": {}} '),
    ("object_foo_null", ' {"foo": null} '),
    ("object_bar", ' {"bar": true} '),
    ("list_foo", ' ["foo"] '),
    ("invalid_json", "is not json"),
]


@pytest.fixture(scope="session")
def test_df(spark):
    df = spark.createDataFrame(TEST_ROWS, "name string, json_data string")
    df.createOrReplaceTempView("test")
    return df


# reference: tests/utils/mod.rs:83-107 (FIXTURES.md §2)
OTHER_ROWS = [
    (' {"foo": 42} ', "foo", 0),
    (' {"foo": 42} ', "bar", 1),
    (" [42] ", "foo", 0),
    (" [42] ", "bar", 1),
]


@pytest.fixture(scope="session")
def other_df(spark):
    df = spark.createDataFrame(
        OTHER_ROWS, "json_data string, str_key string, int_key bigint"
    )
    df.createOrReplaceTempView("other")
    return df


# reference: tests/utils/mod.rs:109-149 (FIXTURES.md §3)
MORE_NESTED_ROWS = [
    (' {"foo": {"bar": [0]}} ', "foo", "bar", 0),
    (' {"foo": {"bar": [1]}} ', "foo", "spam", 0),
    (' {"foo": {"bar": null}} ', "foo", "bar", 0),
]


@pytest.fixture(scope="session")
def more_nested_df(spark):
    df = spark.createDataFrame(
        MORE_NESTED_ROWS,
        "json_data string, str_key1 string, str_key2 string, int_key bigint",
    )
    df.createOrReplaceTempView("more_nested")
    return df
