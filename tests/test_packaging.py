"""Packaging contract (round 12): the repo installs as a distribution
(`pip install -e .`, or `python setup.py develop` where the `wheel`
package is unavailable — PEP 660 editable builds require it) and the
pyproject metadata stays consistent with the actual package tree.

The full install is exercised out-of-band (clean venv, foreign cwd);
these tests pin the invariants that would silently break it."""

import os

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
    extras = proj["optional-dependencies"]
    assert "orjson" in " ".join(extras["fast"])
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
    # by-value pickling
    import subprocess
    import sys

    code = (
        "import sys, importlib.util; sys.path.insert(0, %r); "
        "import datafusion_functions_json_spark; "
        "from pyspark import cloudpickle; "
        "ops = [m for m in sys.modules if m.split('.')[0] == %r]; "
        "assert not ops, ops; "
        "gone = [s for s in ('operators', 'streaming', 'oracle_twin', 'plans') "
        "if importlib.util.find_spec('datafusion_functions_json_spark.' + s)]; "
        "assert not gone, gone; "
        "reg = sorted(cloudpickle.list_registry_pickle_by_value()); "
        "assert reg == sorted('datafusion_functions_json_spark.functions.' + m "
        "for m in ('core', 'kernels', 'udfs', 'multi')), reg; "
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
