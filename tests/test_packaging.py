"""Packaging contract (round 12): the repo installs as a distribution
(`pip install -e .`, or `python setup.py develop` where the `wheel`
package is unavailable — PEP 660 editable builds require it) and the
pyproject metadata stays consistent with the actual package tree.

The full install is exercised out-of-band (clean venv, foreign cwd);
these tests pin the invariants that would silently break it."""

import os
import shutil
import subprocess
import sys
import textwrap

import pytest

# stdlib only on >= 3.11; the package itself supports 3.10, so the
# metadata checks skip there rather than failing collection
tomllib = pytest.importorskip("tomllib")

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "datafusion_functions_json_spark"
OPS = "spark_pipeline_ops"


def _pyproject():
    with open(os.path.join(REPO, "pyproject.toml"), "rb") as f:
        return tomllib.load(f)


def test_pyproject_parses_with_required_metadata():
    meta = _pyproject()
    proj = meta["project"]
    assert proj["name"] == "datafusion-functions-json-spark"
    assert proj["version"]
    deps = " ".join(proj["dependencies"])
    for d in ("pyspark", "pyarrow", "pandas", "numpy"):
        assert d in deps, d
    # optional extras gate the import-try'd libs, never core deps
    assert "fast" not in proj["optional-dependencies"]
    assert meta["build-system"]["build-backend"] == "setuptools.build_meta"


def test_every_package_dir_has_init_and_is_discoverable():
    # setuptools packages.find walks dirs with __init__.py; a data dir
    # or a missing __init__ drops a subpackage from the wheel silently
    found = []
    for pkg in (PKG, OPS):
        for root, dirs, files in os.walk(os.path.join(REPO, pkg)):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            rel = os.path.relpath(root, REPO)
            assert "__init__.py" in files, f"{rel} would be dropped from the wheel"
            found.append(rel.replace(os.sep, "."))
    # the subpackages the docs promise
    for sub in (PKG, f"{PKG}.functions", f"{PKG}.sources", OPS,
                f"{OPS}.operators", f"{OPS}.streaming", f"{OPS}.plans"):
        assert sub in found, sub
    # and pyproject ships both packages
    include = _pyproject()["tool"]["setuptools"]["packages"]["find"]["include"]
    for pkg in (PKG, OPS):
        assert pkg in include and f"{pkg}.*" in include, pkg


def test_setup_py_is_a_metadata_free_shim():
    # all metadata lives in pyproject.toml; a duplicated field in
    # setup.py would drift — the shim must stay empty
    src = open(os.path.join(REPO, "setup.py")).read()
    assert "setup()" in src
    for field in ("name=", "version=", "install_requires"):
        assert field not in src, field


def test_package_imports_without_repo_root_side_effects():
    # the installed package must not import __spark_entry__ or tests
    # (repo-root modules that don't ship in the wheel)
    import subprocess
    import sys

    code = (
        "import sys; sys.path.insert(0, %r); "
        "import datafusion_functions_json_spark; "
        "bad = [m for m in sys.modules if m.startswith('__spark_entry__') "
        "or m.startswith('tests')]; "
        "assert not bad, bad; print('clean')" % REPO
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd="/tmp",
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "clean" in out.stdout


def test_json_package_stands_alone(tmp_path):
    # the JSON engine never imports the pipeline operators: importing it
    # loads no spark_pipeline_ops module, the operator suite is not one
    # of its subpackages, and it registers only its own modules for
    # by-value pickling: none at import, and the Python tier's three
    # once the first tier-off call imports them. It has one parse route,
    # so no orjson either.
    import subprocess
    import sys

    code = (
        "import sys, importlib.util; sys.path.insert(0, %r); "
        "import datafusion_functions_json_spark; "
        "from pyspark import cloudpickle; "
        "ops = [m for m in sys.modules if m.split('.')[0] == %r]; "
        "assert not ops, ops; "
        "assert 'orjson' not in sys.modules; "
        "gone = [s for s in ('operators', 'streaming', 'oracle_twin', 'plans') "
        "if importlib.util.find_spec('datafusion_functions_json_spark.' + s)]; "
        "assert not gone, gone; "
        "assert not cloudpickle.list_registry_pickle_by_value(); "
        "from datafusion_functions_json_spark.functions import jvm_tier; "
        "from pyspark.sql import SparkSession; "
        "spark = SparkSession.builder.master('local[1]')"
        ".config('spark.ui.enabled', 'false').getOrCreate(); "
        "jvm_tier.load = lambda sc: None; "
        "datafusion_functions_json_spark.json_get_int('j', 'a'); "
        "spark.stop(); "
        "reg = sorted(cloudpickle.list_registry_pickle_by_value()); "
        "assert reg == sorted('datafusion_functions_json_spark.functions.' + m "
        "for m in ('core', 'kernels', 'udfs')), reg; "
        "print('alone')" % (REPO, OPS)
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "alone" in out.stdout


def test_public_surface_is_pinned():
    # adding or removing a public name takes a deliberate edit here
    import datafusion_functions_json_spark as jsonf

    reference = [  # the reference's 13 functions (src/lib.rs:69-96)
        "json_get", "json_get_str", "json_get_int", "json_get_float",
        "json_get_bool", "json_get_json", "json_get_array", "json_as_text",
        "json_contains", "json_length", "json_object_keys",
        "json_from_scalar", "json_union_to_text",
    ]
    aliases = ["json_len", "json_keys", "scalar_to_json"]
    sugar = ["JsonColumn", "col", "json_is_null"]
    multi = ["json_extract_multi", "JsonProfile"]
    sql = ["register_all", "rewrite_sql", "sql"]
    union = ["UNION_SCHEMA", "UNION_DDL", "format_union_value"]
    surface = reference + aliases + sugar + multi + sql + union
    assert sorted(jsonf.__all__) == sorted(surface)
    assert len(set(jsonf.__all__)) == len(jsonf.__all__)
    assert all(hasattr(jsonf, name) for name in surface)


# every call shape with a JVM-tier spelling, through the API, the
# ``jsonf.col`` sugar, the SQL names and ``jsonf.sql``; printed as one
# line of rows after the line of Python-tier modules the calls loaded
TIER_CALLS = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {repo!r})
    from pyspark.sql import functions as F
    import datafusion_functions_json_spark as jsonf
    assert "pyarrow" not in sys.modules
    from pyspark.sql import SparkSession
    from datafusion_functions_json_spark.functions import jvm_tier

    spark = (SparkSession.builder.master("local[1]")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    jsonf.register_all(spark)
    df = spark.createDataFrame(
        [(0, '{{"a": {{"b": 2}}, "k": [1, "x"], "s": "t"}}', "s"),
         (1, '{{"a": null}}', "a"), (2, "not json", None)],
        "i int, j string, kc string")
    df.createOrReplaceTempView("tier_calls")
    u = jsonf.json_get("j", "a")
    api = df.select(
        "i", jsonf.json_get_int("j", "a", "b"), jsonf.json_get_str("j", "s"),
        jsonf.json_get_str("j", F.col("kc")), jsonf.json_length("j", "k"),
        jsonf.json_get_array("j", "k"), jsonf.json_contains("j", "a"),
        jsonf.col("j")["a"]["b"].cast("bigint"), jsonf.col("j").as_text("s"),
        jsonf.json_union_to_text(u), jsonf.json_is_null(u),
        jsonf.json_union_to_text(jsonf.json_from_scalar(F.col("i"))),
    )
    sql = spark.sql(
        "SELECT i, json_get_int(j, 'a', 'b'), json_len(j, 'k'), "
        "json_union_to_text(json_get(j, 'a')), json_is_null(json_get(j, 'a')), "
        "json_union_to_text(json_from_scalar(i)) FROM tier_calls")
    ops = jsonf.sql(spark, "SELECT i, j->'a'->>'b', j ? 's' FROM tier_calls")
    rows = [sorted(map(tuple, q.collect())) for q in (api, sql, ops)]
    tier = [m for m in sys.modules
            if m.rsplit(".", 1)[-1] in ("core", "kernels", "udfs")
            and m.startswith("datafusion_functions_json_spark")]
    print(sorted(tier))
    print(repr(rows))
    if {block!r}:
        jvm_tier.load = lambda sc: None
        try:
            jsonf.json_get_int("j", "a")
        except ImportError as e:
            print("ImportError", e.name)
    """
)

TIER_ROWS = [
    [(0, 2, "t", "t", 2, ['1', '"x"'], True, 2, "t", '{"b": 2}', False, "0"),
     (1, None, None, None, None, None, True, None, None, None, True, "1"),
     (2, None, None, None, None, None, False, None, None, None, True, "2")],
    [(0, 2, 2, '{"b": 2}', False, "0"), (1, None, None, None, True, "1"),
     (2, None, None, None, True, "2")],
    [(0, "2", True), (1, None, False), (2, None, False)],
]

needs_jdk = pytest.mark.skipif(
    shutil.which("javac") is None,
    reason="no JDK: the JVM tier falls back to the Python kernels",
)


def _tier_calls(tmp_path, block):
    """Run ``TIER_CALLS`` in a fresh interpreter; with ``block``, pyarrow
    fails to import: a path entry's ``pyarrow/__init__.py`` raises."""
    env = dict(os.environ)
    if block:
        (tmp_path / "pyarrow").mkdir()
        (tmp_path / "pyarrow" / "__init__.py").write_text(
            "raise ImportError('pyarrow is blocked', name='pyarrow')\n")
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(tmp_path), env.get("PYTHONPATH")) if p)
    out = subprocess.run(
        [sys.executable, "-c", TIER_CALLS.format(repo=REPO, block=block)],
        capture_output=True, text=True, cwd=str(tmp_path), env=env,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return out.stdout.splitlines()


@needs_jdk
def test_tier_calls_load_no_python_tier(tmp_path):
    # with the JVM tier loaded, importing the package loads no pyarrow,
    # and no call imports the Python tier
    tier, rows = _tier_calls(tmp_path, block=False)
    assert tier == "[]"
    assert rows == repr(TIER_ROWS)


@needs_jdk
def test_tier_calls_need_no_pyarrow(tmp_path):
    # with pyarrow unimportable the same calls give the tier's rows; with
    # the tier forced off a call raises pyarrow's ImportError
    tier, rows, error = _tier_calls(tmp_path, block=True)
    assert tier == "[]"
    assert rows == repr(TIER_ROWS)
    assert error == "ImportError pyarrow"
