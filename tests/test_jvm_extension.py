"""The optional JVM parser extension (jvm_extension/): native ``->`` /
``->>`` / ``?`` tokens in un-preprocessed ``spark.sql(...)``.

Two layers of pinning:

1. A byte-for-byte DIFFERENTIAL of the Java rewriter against the
   Python ``rewrite_sql`` (the source of truth) over a hand-curated
   corpus PLUS every operator-bearing string literal harvested from
   tests/test_sql_operators.py — so any query the Python suite
   exercises is automatically replayed through the Java port, errors
   included (messages must match exactly).
2. An end-to-end subprocess run: fresh JVM with the jar on
   ``spark.jars`` and ``spark.sql.extensions`` set, driving real
   queries through ``spark.sql`` with no pre-processing — chains,
   alias rendering, parse-time plan errors, untouched lambdas and
   positional parameters.

Both skip cleanly when no JDK is available (the pure-Python
``jsonf.sql`` route is the default and needs none).
"""

from __future__ import annotations

import os
import re
import shutil
import subprocess
import sys

import pytest

from datafusion_functions_json_spark.functions import jvm_tier
from datafusion_functions_json_spark.functions.signatures import (
    CAST_ELISION,
    SIGNATURES,
    SQL_NAMES,
)
from datafusion_functions_json_spark.sql import rewrite_sql

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    shutil.which("javac") is None or shutil.which("java") is None,
    reason="no JDK: the JVM extension is optional; jsonf.sql covers the "
    "operator surface without it",
)


@pytest.fixture(scope="module")
def ext_jar():
    # the package's own build: cached by the sources, build.sh and the
    # Spark version it compiles against
    jar = jvm_tier._jar_path()
    assert jar, "the JVM extension jar failed to build"
    return jar


CURATED = [
    "select name, json_data->'foo' from test",
    "select json_data->'foo'->0 from test",
    "select json_data->'foo'->0->'bar' from test",
    "select json_data->>'foo' from test",
    "select json_data->'foo'->>'bar' from test",
    "select id from test where json_data ? 'foo'",
    "select json_data ? 'foo' from test",
    "select t.json_data->'foo' from test t",
    "select `quoted col`->'a' from test",
    'select "dquoted"->\'a\' from test',
    "select (json_data->'foo')::int from test",
    "select cast(json_data->'foo' as bigint) from test",
    "select (json_data->'foo'->0)::string from test",
    "select json_data->('foo'::text) from test",
    "select json_data->('foo') from test",
    "select json_data->>('foo'::varchar) from test",
    "select transform(arr, x -> x + 1) from test",
    "select transform(arr, x -> 'lit') from test",
    "select aggregate(arr, 0, (a, b) -> a + b) from test",
    "select * from test where x = ? and y < ?",
    "select json_get(json_data, 'a', 'b') from test",
    "select json_get(json_data, null) from test",
    "select json_get(json_data, 1.5) from test",
    "select json_get_str(json_data, col_a, col_b) from test",
    "select json_from_scalar() from test",
    "select json_from_scalar(1, 2) from test",
    "select json_data->null from test",
    "select json_data->1.5 from test",
    "select json_data->'a'--comment\nfrom test",
    "select /* c */ json_data->'a' from test",
    "select 'str with -> inside'->'k' from test",
    "select json_data -> 'sp ace' from test",
    "select nested.json.col->'k' from test",
    "select json_data->'a', json_data->>'b', other from test",
    "select max(json_data->'a') from test group by k",
    "select case when j ? 'k' then j->'k' else null end from test",
    "select j->'a' from t union select j->'b' from u",
    "select ('{\"foo\": 42}'->>('foo'::text))",
    "select '{\"a\": [1]}'->'a'->0",
    "no operators here at all",
    "",
    # round-7 review cases: both rewriters must agree on these too
    "select (j->'a')::decimal(10,2) from t",
    "select (j->'a')::decimal from t",
    "select (j->'a')::varchar(10) from t",
    "select cast(j->'a' as decimal(10,2)) from t",
    "select zip_with(a, b, (x, y) -> 'z') from t",
    "select aggregate(arr, 0, (acc, x) -> 'lit') from t",
    "select cast((j->'a') as int) from t",
    "select ((j->'a'))::int from t",
    "select j->('0'::int) from t",
    "select j->(0::text) from t",
    "select j -> -1 from t",
    "select j->'a'->-2 from t",
    "select j -> -1.5 from t",
    "select (j->'a')::smallint from t",
    "select (j->'a')::real from t",
    # round-13: Unicode whitespace — Python's \s matches NBSP; the Java
    # tokenizer needs UNICODE_CHARACTER_CLASS to agree
    "select j ->> 'k' from t",
    "select j ? 'k' from t",
    "select j -> 'a' from t",  # em space
]


def _signature_corpus():
    """One row per entry of the Python rewriter's tables
    (functions/signatures.py), so drift in the Java copies of the cast
    map and of the path and one-argument SQL names fails the
    differential: both cast spellings of every elided type, a NULL path
    literal for every path function, and a call with no argument for
    every one-argument function."""
    rows = []
    for t in sorted(CAST_ELISION):
        rows.append(f"select (j->'a')::{t} from t")
        rows.append(f"select cast(j->'a' as {t}) from t")
    for name, fn in sorted(SQL_NAMES.items()):
        if SIGNATURES[fn].path:
            rows.append(f"select {name}(j, null) from t")
        else:
            rows.append(f"select {name}() from t")
    return rows


def _harvest_corpus():
    """Every operator-bearing string literal in the Python operator test
    suite — keeps the differential in sync with whatever the Python
    tests exercise, with no manual copying."""
    src = open(os.path.join(REPO, "tests", "test_sql_operators.py")).read()
    found = []
    for m in re.finditer(r'"((?:[^"\\]|\\.)*)"|\'((?:[^\'\\]|\\.)*)\'', src):
        s = m.group(1) if m.group(1) is not None else m.group(2)
        if ("->" in s or "?" in s) and len(s) > 5:
            try:
                found.append(s.encode().decode("unicode_escape"))
            except UnicodeDecodeError:
                pass
    return found


def _python_results(queries):
    out = []
    for q in queries:
        try:
            out.append(rewrite_sql(q))
        except ValueError as e:
            out.append("!ERR!" + str(e))
    return out


def _java_results(queries, jar):
    cmd = ["java", "-cp", jar, "jsonsparkext.JsonOperatorRewriter"]
    proc = subprocess.run(
        cmd,
        input="\x00".join(queries).encode("utf-8"),
        capture_output=True,
        check=True,
    )
    return proc.stdout.decode("utf-8").split("\x00")


class TestRewriterDifferential:
    def test_curated_and_harvested_corpus(self, ext_jar):
        corpus = CURATED + _signature_corpus() + _harvest_corpus()
        assert len(corpus) > 60  # the harvest must not silently go empty
        py = _python_results(corpus)
        jv = _java_results(corpus, ext_jar)
        assert len(py) == len(jv)
        for q, a, b in zip(corpus, py, jv):
            assert a == b, f"rewriter divergence on {q!r}:\n py={a!r}\n jv={b!r}"

    def test_token_soup_fuzz(self, ext_jar):
        # deterministic fuzz: random token soups heavy on the operator
        # tokens and their boundary shapes, all batched through ONE java
        # call; both rewriters must agree byte-for-byte, errors included
        import random

        rnd = random.Random(7)
        pool = [
            "j", "t.j", "a.b.c", "`q col`", '"dq"', "'str'", "'a''b'",
            "42", "1.5", "0.5e3", "null", "NULL", "->", "->>", "?",
            "(", ")", ",", "select", "from", "where", "and", "case",
            "end", "transform", "json_get", "json_as_text", "x",
            "--c\n", "/*b*/", "::", "int", "text", "as", "+", "=",
        ]
        corpus = []
        for _ in range(300):
            k = rnd.randint(2, 14)
            corpus.append(" ".join(rnd.choice(pool) for _ in range(k)))
        py = _python_results(corpus)
        jv = _java_results(corpus, ext_jar)
        for q, a, b in zip(corpus, py, jv):
            assert a == b, f"fuzz divergence on {q!r}:\n py={a!r}\n jv={b!r}"


E2E_SCRIPT = r"""
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.jars", sys.argv[2])
         .config("spark.sql.extensions", "jsonsparkext.JsonSqlExtension")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import datafusion_functions_json_spark as jsonf
jsonf.register_all(spark)
spark.createDataFrame(
    [('{"foo": {"bar": [7, 8]}, "k": "v", "n": 4.2e-1}',)], "j string"
).createOrReplaceTempView("t")

df = spark.sql("select j->'foo'->'bar'->0 from t")
assert df.columns == ["j -> 'foo' -> 'bar' -> 0"], df.columns
row = df.collect()[0][0]
assert row.type_id == 2 and row.int == 7, row

df = spark.sql("select j->>'k' from t where j ? 'k'")
assert df.columns == ["j ->> 'k'"], df.columns
assert df.collect()[0][0] == "v"

# raw-slice fidelity through the extension route too
assert spark.sql("select json_get_json(j, 'n') from t").collect()[0][0] == "4.2e-1"

# cast elision: (j->'foo'->'bar'->0)::int => json_get_int chain
assert spark.sql("select (j->'foo'->'bar'->0)::int from t").collect()[0][0] == 7

# parse-time plan-error parity (reference tests/main.rs:291-298)
for bad in ("select json_get(j, null) from t", "select j->null from t",
            "select j->1.5 from t"):
    try:
        spark.sql(bad)
        raise SystemExit(f"expected plan error for {bad!r}")
    except Exception as e:
        assert "Error during planning" in str(e), (bad, str(e)[:200])

# exact-message mirror of reference tests/main.rs:291-298: the NULL
# path literal fails AT spark.sql() TIME (plan, not execution), with
# the reference's message verbatim
try:
    spark.sql("select json_get_str(j, null) from t")
    raise SystemExit("expected plan error for NULL path literal")
except Exception as e:
    want = ("Error during planning: Unexpected argument type to "
            "'json_get_str' at position 2, expected string or int, "
            "got Null.")
    assert want in str(e), str(e)[:300]

# one-column-path plan error (reference src/common.rs:129-133): two
# column path elements must fail at plan time with the reference text
spark.createDataFrame(
    [('{"a": {"b": 1}}', "a", "b")], "j string, p1 string, p2 string"
).createOrReplaceTempView("t2")
for bad in ("select json_get(j, p1, p2) from t2",
            "select json_get_str(j, 'a', p2) from t2"):
    try:
        spark.sql(bad)
        raise SystemExit(f"expected plan error for {bad!r}")
    except Exception as e:
        assert ("More than 1 path element is not supported when "
                "querying JSON using an array.") in str(e), (bad, str(e)[:300])
# ...while ONE column path element stays legal (reference supports it)
assert spark.sql(
    "select json_get_json(json_get(j, p1), p2) from t2"
).collect()[0][0] == "1"

# lambdas and positional parameters pass through untouched
assert spark.sql("select transform(array(1,2), x -> x + 1)").collect()[0][0] == [2, 3]
assert spark.sql("select ? + 1", args=[41]).collect()[0][0] == 42

# register_all(auto_tier=True) registers the same functions: every
# operator shape keeps answering through the extension, int indexes,
# chains and the empty key included
jsonf.register_all(spark, auto_tier=True)
spark.createDataFrame([('[{"k": 9}, 2]',)], "j string").createOrReplaceTempView("arr_t")
got = spark.sql("select j->>0 from arr_t").collect()[0][0]
assert got is not None and "9" in got, got  # array elem 0, not key '0'
got = spark.sql("select j->>1 from arr_t").collect()[0][0]
assert got == "2", got
got = spark.sql("select j->0->>'k' from arr_t").collect()[0][0]
assert got == "9", got
got = spark.sql("select (j->0->'k')::int from arr_t").collect()[0][0]
assert got == 9, got
spark.createDataFrame([('{"":5}',)], "j string").createOrReplaceTempView("ek_t")
assert spark.sql("select j->>'' from ek_t").collect()[0][0] == "5"
df = spark.sql("select j->>'k' from t")
assert df.collect()[0][0] == "v"

print("E2E_OK")
"""


class TestExtensionEndToEnd:
    def test_spark_sql_operators_no_preprocessing(self, ext_jar, tmp_path):
        script = tmp_path / "ext_e2e.py"
        script.write_text(E2E_SCRIPT)
        env = dict(os.environ)
        proc = subprocess.run(
            [sys.executable, str(script), REPO, ext_jar],
            capture_output=True,
            text=True,
            timeout=300,
            env=env,
            cwd=str(tmp_path),  # foreign cwd, same as the verify recipe
        )
        assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
        assert "E2E_OK" in proc.stdout
