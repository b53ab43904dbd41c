"""The JVM exact tier: the JSON functions inside Spark's executor.

Every call shape of every function — the scalar getters, ``json_get``
(the union struct), ``json_get_array`` and ``json_object_keys`` over a
JSON string or a union-struct document, at a literal path or at a
one-element path column; ``json_union_to_text`` and ``json_is_null`` over
any union struct; ``json_from_scalar`` — runs as Catalyst expressions over
``jsonsparkext.JsonFinder``, the Java port of :mod:`.core`'s streaming
finder (``jvm_extension/src/jsonsparkext/``). No document crosses the
JVM→Python Arrow hop, which costs more than the JSON work itself. The
Python kernels are the specification; the port is pinned to them by
tests/test_jvm_tier.py.

Each function has one builder on the JVM, ``JsonExactTier.SqlBuilder``:
it reads the argument types when the query is analyzed, raises the
reference's argument errors there and builds the call. Both surfaces go
through it. :func:`register_all` installs the builders under the SQL
names, and :func:`call` builds the Python API's calls as calls of the
same builders (one py4j call each), so the two spellings of a call get the
same plan, column name and errors.

The tier is on exactly when its jar loads into the running SparkContext.
The jar is compiled from the repository's Java sources on first use, with
``jvm_extension/build.sh`` (the one build recipe), into
``$XDG_CACHE_HOME/datafusion_functions_json_spark/jvm/<key>/`` (default
``~/.cache``), keyed by a hash of the sources, the build script, the
Spark version and the Spark jars it compiles against, and written
atomically. Spark Connect sessions, hosts
without a JDK, installs without the Java sources and any failed build or
load leave every call on the Python kernels (:mod:`.udfs`).
"""

from __future__ import annotations

import hashlib
import json
import logging
import os
import shutil
import subprocess
import tempfile
import threading
import weakref
from pathlib import Path

__all__ = ["MULTI_KIND_FNS", "load", "call", "multi", "register_all"]

# json_extract_multi field kinds the tier serves, as the function each
# kind reads (multi.py pins every kind to its single-field kernel)
MULTI_KIND_FNS = {
    "str": "json_get_str",
    "int": "json_get_int",
    "float": "json_get_float",
    "bool": "json_get_bool",
    "text": "json_as_text",
    "length": "json_length",
    "exists": "json_contains",
    "union_text": "json_to_text_fused",
    "union_isnull": "json_is_null_fused",
}

_EXT_DIR = Path(__file__).resolve().parents[2] / "jvm_extension"
_JAR = "json-spark-ext.jar"
_CLASS = "jsonsparkext.JsonExactTier"

_log = logging.getLogger(__name__)
_lock = threading.Lock()
_tiers: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_jar = None  # path of the built jar; False once a build failed


def _cache_dir() -> Path:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return Path(base) / "datafusion_functions_json_spark" / "jvm"


def _build() -> str:
    """The jar for these sources and this Spark, compiled if not cached."""
    import pyspark
    from pyspark.find_spark_home import _find_spark_home

    # the jars the driver JVM runs with (SPARK_HOME, else pyspark's own)
    spark_jars = os.path.join(_find_spark_home(), "jars")
    build_sh = _EXT_DIR / "build.sh"
    key = hashlib.sha256(f"{pyspark.__version__}\0{spark_jars}".encode())
    for src in [build_sh, *sorted((_EXT_DIR / "src").rglob("*.java"))]:
        key.update(src.name.encode() + b"\0" + src.read_bytes())
    jar = _cache_dir() / key.hexdigest()[:16] / _JAR
    if jar.is_file():
        return str(jar)
    jar.parent.mkdir(parents=True, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=jar.parent)
    try:
        env = dict(os.environ, SPARK_JARS=spark_jars)
        subprocess.run(["sh", str(build_sh), tmp], check=True,
                       capture_output=True, env=env)
        os.replace(os.path.join(tmp, _JAR), jar)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return str(jar)


def _jar_path():
    global _jar
    if _jar is None:
        try:
            _jar = _build()
        except Exception as e:  # no JDK, no sources, a failed compile
            _log.warning("JVM exact tier unavailable, using the Python "
                         "kernels: cannot build its jar (%s)", e)
            _jar = False
    return _jar or None


def load(sc):
    """The tier object for SparkContext ``sc`` (its jar added once per
    context), or None when the tier is unavailable."""
    try:
        return _tiers[sc]
    except KeyError:
        pass
    with _lock:
        if sc not in _tiers:
            _tiers[sc] = _load(sc)
        return _tiers[sc]


def _load(sc):
    jar = _jar_path()
    if jar is None:
        return None
    try:
        sc._jsc.sc().addJar(jar)  # executors fetch it before their next task
        # py4j caches reflected methods by class NAME, so the class must
        # be loaded once per JVM: the instance lives on the gateway, which
        # outlives SparkContexts and re-imports of this package
        per_jvm = sc._gateway.__dict__.setdefault("_dfjs_jvm_tiers", {})
        if jar not in per_jvm:
            jvm = sc._jvm
            urls = sc._gateway.new_array(jvm.java.net.URL, 1)
            urls[0] = jvm.java.io.File(jar).toURI().toURL()
            loader = jvm.java.net.URLClassLoader(
                urls, sc._jsc.getClass().getClassLoader()
            )
            per_jvm[jar] = loader.loadClass(_CLASS).newInstance()
        return per_jvm[jar]
    except Exception as e:
        _log.warning("JVM exact tier unavailable, using the Python kernels: "
                     "cannot load its jar (%s)", e)
        return None


def _active_tier():
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    return None if sc is None else load(sc)


def call(fn_key: str, doc, path=(), key=None):
    """``fn_key(doc, *path)``, or ``fn_key(doc, key)`` with ``key`` a
    column of keys, on the tier; None when the tier is unavailable.

    One py4j call, with the literal path as JSON text, builds a call of
    the tier's internal function ``fn_key``; the function's SQL builder
    resolves it when the query is analyzed, as it resolves the SQL name.
    """
    from ..column import Column

    jc = getattr(doc, "_jc", None)
    kc = None if key is None else getattr(key, "_jc", None)
    if jc is None or (key is not None and kc is None):
        return None
    tier = _active_tier()
    if tier is None:
        return None
    # an int outside i64 never matches: the tier reads it as index -1
    path_json = None if key is not None else json.dumps(list(path))
    return Column(tier.call(fn_key, jc, path_json, kc))


def multi(json_col, specs):
    """``json_extract_multi`` over ``specs`` (``(name, kind, path)``) as a
    struct of tier columns, or None when the tier is unavailable or a
    kind is not one it serves."""
    if any(k not in MULTI_KIND_FNS for _, k, _ in specs):
        return None
    fields = [call(MULTI_KIND_FNS[k], json_col, p) for _, k, p in specs]
    if not fields or fields[0] is None:
        return None
    from pyspark.sql import functions as F

    return F.struct(*(c.alias(n) for c, (n, _, _) in zip(fields, specs)))


def register_all(spark, names) -> bool:
    """Install the SQL functions ``names`` (SQL name → function) in the
    session on the tier, in one call; False when the tier is
    unavailable."""
    jsession = getattr(spark, "_jsparkSession", None)
    tier = None if jsession is None else load(spark.sparkContext)
    if tier is None:
        return False
    tier.registerAll(jsession, ",".join(f"{n}={fn}" for n, fn in names.items()))
    return True
