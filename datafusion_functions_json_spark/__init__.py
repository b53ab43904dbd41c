"""datafusion_functions_json_spark — a PySpark-native JSON query engine
with the query capabilities of ``datafusion-functions-json`` (reference at
/root/reference, studied behaviorally; architecture is Spark-first — see
SURVEY.md).

Public surface:

* the 13 scalar JSON functions + aliases (``functions``/top level);
* ``col()`` / ``JsonColumn`` — the python operator sugar standing in for
  the reference's ``->`` / ``->>`` / ``?`` SQL operators;
* ``register_all(spark)`` — SQL-surface registration;
* ``operators`` — large-scale data-pipeline operators (dedup, similarity
  search, text analysis, multimodal) built on the same Spark-first rules;
* ``sources`` / ``streaming`` — IO + structured-streaming composition
  helpers.
"""

def _register_pickle_by_value(*modules) -> None:
    """Ship the given modules' code inside pickled UDF closures.

    Spark workers unpickle the UDFs; if this package isn't importable on
    the worker's sys.path (e.g. the driver script runs from another cwd),
    reference-pickling fails with ModuleNotFoundError. By-value
    registration makes every UDF closure self-contained — no installation
    or --py-files needed on executors. Only modules whose code runs
    inside workers belong here; the pure-API modules (api/column/union)
    are driver-side and stay reference-pickled. The JSON engine registers
    its kernel modules below; ``operators`` and ``streaming`` register
    theirs when they are imported.
    """
    try:
        from pyspark import cloudpickle

        for m in modules:
            cloudpickle.register_pickle_by_value(m)
    except Exception:  # pragma: no cover - best-effort; cwd layouts still work
        pass


from . import register as _register_mod  # noqa: E402
from .functions import core as _core, kernels as _kernels  # noqa: E402
from .functions import multi as _multi, udfs as _udfs  # noqa: E402

_register_pickle_by_value(_core, _kernels, _udfs, _multi, _register_mod)

from .column import JsonColumn, col
from .functions.multi import json_extract_multi
from .functions.api import (
    json_as_text,
    json_contains,
    json_from_scalar,
    json_get,
    json_get_array,
    json_get_bool,
    json_get_float,
    json_get_int,
    json_get_json,
    json_get_str,
    json_is_null,
    json_keys,
    json_len,
    json_length,
    json_object_keys,
    json_union_to_text,
    scalar_to_json,
)
from .functions.distinct_eval import eval_per_distinct
from .functions.native import JsonProfile, recommend_tier, tier_callable
from .register import register_all, register_native, register_pipeline
from .sql import rewrite_sql, sql
from .union import UNION_DDL, UNION_SCHEMA, format_union_value

__all__ = [
    "JsonColumn",
    "col",
    "json_get",
    "json_get_str",
    "json_get_int",
    "json_get_float",
    "json_get_bool",
    "json_get_json",
    "json_get_array",
    "json_as_text",
    "json_contains",
    "json_length",
    "json_len",
    "json_object_keys",
    "json_keys",
    "json_from_scalar",
    "scalar_to_json",
    "json_union_to_text",
    "json_is_null",
    "json_extract_multi",
    "eval_per_distinct",
    "JsonProfile",
    "recommend_tier",
    "tier_callable",
    "register_all",
    "register_native",
    "register_pipeline",
    "rewrite_sql",
    "sql",
    "UNION_SCHEMA",
    "UNION_DDL",
    "format_union_value",
]

__version__ = "0.1.0"
