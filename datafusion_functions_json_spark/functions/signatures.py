"""Every JSON function declared once: its result type, its SQL names and
whether it takes a path, plus ``json_extract_multi``'s field kinds and
the cast-elision map — the analog of the reference's one declaration
macro per function (reference: src/common_macros.rs:17-49), which the
planner, the operators and the rewrites all read.

Every surface reads this table: the SQL names :func:`register_all`
installs, the rewriter's checks and cast elision (:mod:`..sql`),
``JsonColumn.cast`` (:mod:`..column`), ``json_extract_multi``'s struct
(:mod:`.multi`) and the Python tier's Arrow types (:mod:`.udfs`). The
union's layout is :data:`..union.UNION_SCHEMA`. It imports neither
pyarrow nor a Python-tier module. The parser extension's rewriter
(``JsonOperatorRewriter.java``) runs before any Python does and keeps
its own copy, which tests/test_jvm_extension.py holds to this one.
"""

from __future__ import annotations

from typing import NamedTuple, Tuple

from pyspark.sql import types as T

from ..union import UNION_SCHEMA

__all__ = [
    "Signature",
    "SIGNATURES",
    "RESULT_TYPES",
    "SQL_NAMES",
    "MULTI_KINDS",
    "CAST_ELISION",
    "UNTYPED_CASTS",
    "cast_getter",
]


class Signature(NamedTuple):
    result: T.DataType  # as both tiers return it
    path: bool  # called as (doc, *path); else with one argument
    names: Tuple[str, ...] = ()  # its SQL names; none for a fused key


_STR, _BOOL, _LONG = T.StringType(), T.BooleanType(), T.LongType()
_STRS = T.ArrayType(T.StringType())

# the aliases are the reference's (src/json_length.rs:29,
# src/json_object_keys.rs:29, src/json_from_scalar.rs:31) and the
# ``<name>_exact`` names existing queries use; json_length is LongType,
# as Spark has no unsigned type (the reference returns UInt64, SURVEY.md
# §2.1 #10); the two fused keys are a union consumer over a literal-path
# json_get in one call, which only the API builds
SIGNATURES = {
    "json_get": Signature(UNION_SCHEMA, True, ("json_get",)),
    "json_get_str": Signature(_STR, True, ("json_get_str", "json_get_str_exact")),
    "json_get_int": Signature(_LONG, True, ("json_get_int", "json_get_int_exact")),
    "json_get_float": Signature(
        T.DoubleType(), True, ("json_get_float", "json_get_float_exact")
    ),
    "json_get_bool": Signature(_BOOL, True, ("json_get_bool", "json_get_bool_exact")),
    "json_get_json": Signature(_STR, True, ("json_get_json", "json_get_json_exact")),
    "json_get_array": Signature(
        _STRS, True, ("json_get_array", "json_get_array_exact")
    ),
    "json_as_text": Signature(_STR, True, ("json_as_text", "json_as_text_exact")),
    "json_contains": Signature(_BOOL, True, ("json_contains", "json_contains_exact")),
    "json_length": Signature(_LONG, True, ("json_length", "json_len")),
    "json_object_keys": Signature(_STRS, True, ("json_object_keys", "json_keys")),
    "json_union_to_text": Signature(_STR, False, ("json_union_to_text",)),
    "json_is_null": Signature(_BOOL, False, ("json_is_null",)),
    "json_from_scalar": Signature(
        UNION_SCHEMA, False, ("json_from_scalar", "scalar_to_json")
    ),
    "json_to_text_fused": Signature(_STR, True),
    "json_is_null_fused": Signature(_BOOL, True),
}

RESULT_TYPES = {fn: s.result for fn, s in SIGNATURES.items()}

# every SQL name, mapped to the function it calls
SQL_NAMES = {name: fn for fn, s in SIGNATURES.items() for name in s.names}

# json_extract_multi's field kinds, as the function each kind reads
MULTI_KINDS = {
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

# cast elision (reference: src/rewrite.rs:36-54): a cast of a json_get
# result to one of these type names (lower case, parameters stripped)
# becomes the typed getter over the same arguments, so the union struct
# is never built
CAST_ELISION = {
    **dict.fromkeys(
        ("bigint", "long", "int", "integer", "smallint", "tinyint"), "json_get_int"
    ),
    **dict.fromkeys(("double", "float", "real", "decimal"), "json_get_float"),
    **dict.fromkeys(("boolean", "bool"), "json_get_bool"),
    **dict.fromkeys(("string", "str", "text", "varchar"), "json_get_str"),
}

# the names above that name no Spark type (a varchar needs a length): a
# cast to one reads as its getter's own type
UNTYPED_CASTS = frozenset(("bool", "str", "text", "varchar"))


def cast_getter(type_name: str):
    """The getter a cast to ``type_name`` (``decimal(10,2)``, ``INT``)
    elides to, or None."""
    return CAST_ELISION.get(type_name.split("(", 1)[0].strip().lower())
