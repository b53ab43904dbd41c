"""SQL-surface registration — the Spark analog of the reference's
``register_all`` (reference: src/lib.rs:69-96): 13 functions + the 3
aliases (``json_len``, ``json_keys``, ``scalar_to_json``).

Spark SQL has no ``->``/``->>``/``?`` operators and PySpark has no parser
hooks (SURVEY.md §2.2), so SQL users call the named functions:

    SELECT json_get_str(props, 'k'), count(*)
    FROM events WHERE json_contains(props, 'k') GROUP BY 1

The functions are Arrow UDFs so the reference's argument checks hold on
this surface too (see ``_check_path_args``): an untyped NULL path literal
(Arrow ``null`` type) or a non-string/int path argument raises the
reference's planning message (reference: tests/main.rs:291-298), and >1
path element with a per-row column raises "More than 1 path element is
not supported when querying JSON using an array." (reference:
src/common.rs:129-133). Both surface as PythonException at execution —
Spark has no plan-time hook for Python functions, but the message and the
accepted/rejected inputs match.

Deltas from the Python API, inherent to the SQL boundary (documented,
SURVEY.md §7.4):

* a path *column* that is constant and non-null within every Arrow batch
  is indistinguishable from a literal, so the >1-path-element error can
  miss it (a varying or nullable column is always caught).

``json_get``'s null arm surfaces as a whole-struct NULL (Arrow validity
mask), matching the Python API's rewrap — both surfaces agree.
"""

from __future__ import annotations

import itertools

import pandas as pd
import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .functions import jvm_tier, kernels, udfs
from .functions.udfs import RETURN_TYPES
from .union import UNION_DDL

__all__ = ["register_all", "register_native", "register_pipeline"]

_SQL_KERNELS = {
    "json_get": kernels.kernel_json_get,
    "json_get_str": kernels.kernel_json_get_str,
    "json_get_int": kernels.kernel_json_get_int,
    "json_get_float": kernels.kernel_json_get_float,
    "json_get_bool": kernels.kernel_json_get_bool,
    "json_get_json": kernels.kernel_json_get_json,
    "json_get_array": kernels.kernel_json_get_array,
    "json_as_text": kernels.kernel_json_as_text,
    "json_contains": kernels.kernel_json_contains,
    "json_length": kernels.kernel_json_length,
    "json_object_keys": kernels.kernel_json_object_keys,
}


def _elem(v):
    if v is None or v != v:
        return None
    if isinstance(v, str):
        return v
    if isinstance(v, bool):
        return None
    try:
        return int(v)
    except (TypeError, ValueError):
        return None


# Arrow field types of the union struct (must mirror union.UNION_DDL).
_UNION_ARROW_FIELDS = (
    ("type_id", "int8"),
    ("bool", "bool"),
    ("int", "int64"),
    ("float", "float64"),
    ("str", "string"),
    ("array", "string"),
    ("object", "string"),
)

# DataFusion-style names for the argument-type error message (reference:
# src/common.rs:106-141 rejects non-string/int path args at plan time with
# the DataType debug name; tests/main.rs:291-298 pins the Null wording).
_DF_TYPE_NAMES = {
    "null": "Null",
    "bool": "Boolean",
    "float": "Float32",
    "double": "Float64",
    "date32[day]": "Date32",
    "timestamp[us]": "Timestamp(Microsecond, None)",
}


def _check_path_args(fn_key, key_cols):
    """Reference arg validation, applied per Arrow batch.

    * A path argument whose Arrow type is ``null`` (Spark's untyped NULL
      literal, VOID) or any non-string/int type is rejected with the
      reference's planning message (reference: src/common.rs:106-141,
      tests/main.rs:291-298). A *typed* null — ``cast(null as string)`` or
      a nullable column — passes, and null values yield null rows, exactly
      like the reference's ``ScalarValue::Utf8(None) => JsonPath::None``.
    * With more than one path element, any argument that is demonstrably a
      per-row column (≥2 distinct values, or any null, in the batch —
      a literal is always constant and non-null) raises the reference's
      execution error (reference: src/common.rs:129-133,
      tests/main.rs:1095-1103). A column that is constant within every
      batch is indistinguishable from a literal here and passes — the one
      remaining (documented) delta on this surface.
    """
    import pyarrow.compute as pc

    for i, k in enumerate(key_cols):
        t = k.type
        if not (
            pa.types.is_string(t)
            or pa.types.is_large_string(t)
            or (pa.types.is_integer(t) and not pa.types.is_boolean(t))
        ):
            name = _DF_TYPE_NAMES.get(str(t), str(t).capitalize())
            raise ValueError(
                f"Unexpected argument type to '{fn_key}' at position {i + 2}, "
                f"expected string or int, got {name}."
            )
    if len(key_cols) > 1:
        for k in key_cols:
            if len(k) > 1 and (k.null_count > 0 or len(pc.unique(k)) > 1):
                raise ValueError(
                    "More than 1 path element is not supported when "
                    "querying JSON using an array."
                )


def _make_sql_udf(fn_key: str):
    kernel = _SQL_KERNELS[fn_key]
    ret = RETURN_TYPES[fn_key]
    # Bind concrete functions, NOT the udfs module: module objects holding
    # lru_cache wrappers pickle by qualified-name import, which breaks on
    # workers without this package on sys.path.
    wrap = udfs._wrap_result
    elem = _elem
    check = _check_path_args
    union_fields = _UNION_ARROW_FIELDS

    def _paths(key_cols):
        if not key_cols:
            return itertools.repeat(())
        cols = [[elem(v) for v in k.to_pandas()] for k in key_cols]
        return list(zip(*cols))

    def _json_text(js):
        # Union-struct first argument (nested SQL call like
        # json_get(json_get(j,'a'),'b')): continue the lookup through the
        # container members, like the reference's nested_json_array
        # (reference: src/common_union.rs:49-57). Scalar members => NULL
        # => nested lookup misses.
        if pa.types.is_struct(js.type):
            text = js.field("array").to_pandas().combine_first(
                js.field("object").to_pandas()
            )
            if js.null_count:
                # Arrow struct children can hold garbage under null parent
                # slots; mask by parent validity.
                import pyarrow.compute as pc

                text = text.where(pc.is_valid(js).to_pandas(), None)
            return text
        return js.to_pandas()

    if fn_key == "json_get":

        def fn(js: pa.Array, *key_cols: pa.Array) -> pa.Array:
            import pyarrow.compute as pc

            check(fn_key, key_cols)
            out = wrap(fn_key, kernel(_json_text(js), _paths(key_cols)))
            arrays = [
                pa.Array.from_pandas(out[name], type=pa.type_for_alias(t))
                for name, t in union_fields
            ]
            # null-arm rows (type_id 0/absent) -> whole-struct NULL, the
            # same JVM-side rewrap the Python API applies — SQL and
            # Python surfaces now agree
            null_rows = pc.fill_null(
                pc.equal(arrays[0], pa.scalar(0, pa.int8())), True
            )
            return pa.StructArray.from_arrays(
                arrays,
                names=[name for name, _ in union_fields],
                mask=null_rows,
            )

    else:
        _RET_ARROW = {
            "string": pa.string(),
            "bigint": pa.int64(),
            "double": pa.float64(),
            "boolean": pa.bool_(),
            "array<string>": pa.list_(pa.string()),
        }
        ret_arrow = _RET_ARROW[ret]

        def fn(js: pa.Array, *key_cols: pa.Array) -> pa.Array:
            check(fn_key, key_cols)
            out = wrap(fn_key, kernel(_json_text(js), _paths(key_cols)))
            return pa.Array.from_pandas(out, type=ret_arrow)

    fn.__name__ = fn_key
    return F.arrow_udf(fn, ret)


def _from_scalar_udf():
    """SQL-surface json_from_scalar: the Arrow argument type drives the
    dispatch, mirroring the reference's plan-time DataType match
    (reference: src/json_from_scalar.rs:48-68). Because Arrow keeps
    NaN/±Infinity as *values* (validity bit set) distinct from nulls,
    non-finite floats land in the float arm exactly like the reference
    (tests/main.rs:2550-2577); typed NULLs of any accepted type → null
    arm. Unsupported types raise the reference's message
    (src/json_from_scalar.rs:65)."""

    def fn(s: pa.Array) -> pa.Array:
        import pyarrow.compute as pc

        n = len(s)
        t = s.type
        cols = {
            "bool": pa.nulls(n, pa.bool_()),
            "int": pa.nulls(n, pa.int64()),
            "float": pa.nulls(n, pa.float64()),
            "str": pa.nulls(n, pa.string()),
            "array": pa.nulls(n, pa.string()),
            "object": pa.nulls(n, pa.string()),
        }
        if pa.types.is_null(t):
            tid = pa.nulls(n, pa.int8())
        else:
            if pa.types.is_boolean(t):
                arm, cols["bool"] = 1, s
            elif pa.types.is_integer(t):
                arm, cols["int"] = 2, s.cast(pa.int64())
            elif pa.types.is_floating(t):
                arm, cols["float"] = 3, s.cast(pa.float64())
            elif pa.types.is_string(t) or pa.types.is_large_string(t):
                arm, cols["str"] = 4, s.cast(pa.string())
            else:
                raise ValueError(
                    f"Unsupported type for json_from_scalar: {t}."
                )
            tid = pc.if_else(
                pc.is_valid(s), pa.scalar(arm, pa.int8()), pa.scalar(None, pa.int8())
            )
        # WHOLE-STRUCT null for typed-NULL inputs (mask=tid's nulls):
        # without the mask the null row is a NON-null struct whose
        # type_id is null, so `json_from_scalar(x) IS NULL` says false
        # on the SQL surface while the Python API (api.py masks to a
        # whole-struct NULL) and the reference both say true
        return pa.StructArray.from_arrays(
            [tid] + [cols[name] for name, _ in _UNION_ARROW_FIELDS[1:]],
            names=[name for name, _ in _UNION_ARROW_FIELDS],
            mask=pc.is_null(tid),
        )

    fn.__name__ = "json_from_scalar"
    return F.arrow_udf(fn, UNION_DDL)


def _union_is_null_udf():
    def fn(u: pd.DataFrame) -> pd.Series:
        tid = u["type_id"]
        return (tid.isna() | (tid == 0)).astype(bool)

    fn.__name__ = "json_is_null"
    return F.pandas_udf(fn, "boolean")


# session conf recording which canonical names auto_tier routed to the
# variant tier — jsonf.sql() reads it so the ->/->>/? rewriter can
# emit <name>_exact for call shapes the routed (j, k) signature can't
# serve (multi-key chains, integer array indexes, nested operands)
_ROUTED_CONF = "spark.datafusion_functions_json_spark.autoTierRouted"

# canonical SQL name -> its _NATIVE_SQL_BODIES twin, for auto_tier
# routing. json_length / json_object_keys are NOT routable: their exact
# SQL surface accepts a zero-path call (document-level length/keys),
# which a fixed (j, k) SQL-UDF signature cannot express.
_AUTO_TIER_BODY = {
    "json_get_str": "json_get_str_variant",
    "json_get_int": "json_get_int_variant",
    "json_get_float": "json_get_float_variant",
    "json_get_bool": "json_get_bool_variant",
    "json_get_json": "json_get_json_variant",
    "json_get_array": "json_get_array_variant",
    "json_as_text": "json_as_text_variant",
    "json_contains": "json_contains_variant",
}


def _parser_extension_state(spark: SparkSession):
    """How the session's parse-time operator rewriter relates to
    auto-tier routing: ``None`` (no rewriter installed), ``"aware"``
    (a jsonsparkext jar that reads the routed-names conf at parse time
    and steers incompatible operator shapes to ``<name>_exact`` — safe
    to route), or ``"legacy"`` (a conf-blind rewriter: routing the
    canonical names would silently mis-serve e.g. ``j->>0``).

    Liveness detectors, OR-ed:

    1. conf — ``spark.sql.extensions`` names the class (the documented
       wiring, jvm_extension/src/jsonsparkext/JsonSqlExtension.java:31);
    2. behavior — the session parser accepts ``x ->> 'k'`` as an
       expression. Stock Spark rejects ``->>`` at parse time, so a
       successful parse means SOME parse-time operator rewriter is
       installed (programmatic injection included).

    Capability probe: BEHAVIORAL, against the live installed parser —
    temporarily mark ``json_as_text`` as routed in the session conf
    and parse the canonical incompatible shape ``j ->> 0``; a
    routed-aware live rewriter steers it to ``json_as_text_exact`` at
    parse time (the same steering the parser wrapper applies per
    query). Probing the static ``rewriteRouted`` on the driver
    classpath instead would conflate class PRESENCE with installed-
    wrapper behavior: a conf-blind third-party rewriter handling
    ``->>`` while a routed-aware jsonsparkext jar merely sits on the
    classpath must read ``"legacy"``, and under this probe it does
    (no ``_exact`` steer appears in what IT parses). Any failure —
    no steer, parse error, conf plumbing — reads as ``"legacy"``:
    conservative, never unsafe.
    """
    active = False
    try:
        exts = spark.conf.get("spark.sql.extensions", "") or ""
    except Exception:
        exts = ""
    if "jsonsparkext" in exts:
        active = True
    if not active:
        try:
            spark._jsparkSession.sessionState().sqlParser().parseExpression(
                "x ->> 'probe'"
            )
            active = True
        except Exception:
            active = False
    if not active:
        return None
    try:
        had = spark.conf.get(_ROUTED_CONF)
    except Exception:
        had = None
    try:
        spark.conf.set(_ROUTED_CONF, "json_as_text")
        expr = spark._jsparkSession.sessionState().sqlParser().parseExpression(
            "j ->> 0"
        )
        if "json_as_text_exact" in expr.toString():
            return "aware"
    except Exception:
        pass
    finally:
        try:
            if had is None:
                spark.conf.unset(_ROUTED_CONF)
            else:
                spark.conf.set(_ROUTED_CONF, had)
        except Exception:
            pass
    return "legacy"


def register_all(
    spark: SparkSession,
    *,
    auto_tier: bool = False,
    json_profile=None,
) -> list:
    """Register every JSON function for the SQL surface (reference:
    src/lib.rs:69-96 — aliases included).

    ``auto_tier=True`` additionally consults
    :func:`~.functions.native.recommend_tier` (with ``json_profile``, a
    :class:`~.functions.native.JsonProfile`; default permissive) and,
    for every function whose variant tier is semantics-safe for that
    profile, registers the JVM-inlined VARIANT implementation under the
    CANONICAL name — whole-stage codegen, zero Python hops, the tier
    the sf10 decade ledger measures at ~0.3-0.6x of the DuckDB twin.
    The displaced reference-exact implementation stays reachable as
    ``<name>_exact``. Returns the list of routed names (empty without
    ``auto_tier``).

    Signature envelope of the routed names (on top of the JsonProfile
    envelope): SQL UDFs have a FIXED ``(j, k)`` signature, so routed
    names accept exactly one STRING object-key path element — the
    dominant call shape. Callers that pass zero keys, multiple keys, or
    integer array indexes need ``<name>_exact`` (or
    ``auto_tier=False``, or ``JsonProfile.strict()``). json_length /
    json_object_keys are never routed for exactly this reason (their
    zero-path form is common); json_get isn't either
    (``recommend_tier`` keeps the union-struct builder on the measured-
    faster exact tier).

    :func:`~.sql.sql`'s operator rewriter composes automatically (it
    reads the routed set from the session conf and steers incompatible
    call shapes to ``<name>_exact``), and so does the current JVM
    parser extension (``jsonsparkext.JsonSqlExtension``): its parser
    wrapper reads the same conf at parse time and applies the same
    ``_routed_fits`` rule (Java twin, pinned by the routed
    differential corpus). A LEGACY conf-blind jar would instead
    silently mis-serve e.g. ``j->>0`` (int index read as object key
    ``'0'`` by the routed fixed ``(j STRING, k STRING)`` SQL UDF), so
    ``auto_tier=True`` probes the live rewriter's capability
    (:func:`_parser_extension_state`) and raises ``ValueError`` when a
    parse-time rewriter is active but not routed-aware.
    """
    names = {}
    for fn_key in _SQL_KERNELS:
        names[fn_key] = _make_sql_udf(fn_key)
    routed = []
    if auto_tier:
        if _parser_extension_state(spark) == "legacy":
            raise ValueError(
                "register_all(auto_tier=True) cannot be combined with this "
                "session's parse-time operator rewriter: it rewrites "
                "->/->>/? without reading the routed-names conf, so "
                "operator shapes the routed (j STRING, k STRING) SQL UDFs "
                "cannot serve (int array indexes, chained paths) would "
                "return silently wrong answers (e.g. j->>0 read as object "
                "key '0'). Rebuild jvm_extension/ to get the routed-aware "
                "jsonsparkext.JsonSqlExtension (it steers such shapes to "
                "<name>_exact at parse time), register with "
                "auto_tier=False, or drop the extension and use "
                "jsonf.sql(...) for the operator surface."
            )
        from .functions.native import recommend_tier

        rec = recommend_tier(
            spark_version=spark.version, json_profile=json_profile
        )
        for fn_key, body_key in _AUTO_TIER_BODY.items():
            if rec.get(fn_key) != "variant":
                continue
            ret, body = _NATIVE_SQL_BODIES[body_key]
            try:
                # a SQL UDF cannot REPLACE a previously-registered
                # Python UDF of the same name
                # (CANNOT_REPLACE_NON_SQL_UDF) — drop any prior
                # registration first
                spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {fn_key}")
                spark.sql(
                    f"CREATE OR REPLACE TEMPORARY FUNCTION {fn_key}"
                    f"(j STRING, k STRING) RETURNS {ret} RETURN "
                    + body.format(p=f"({_JSONPATH_GUARD})")
                )
            except Exception:
                # mid-routing failure (SQL UDFs unavailable/restricted):
                # restore the exact surface for the dropped name and
                # every name already routed, so the session is never
                # left with unresolved canonical functions
                spark.udf.register(fn_key, names[fn_key])
                for k in routed:
                    spark.udf.register(k, names[f"{k}_exact"])
                raise
            names[f"{fn_key}_exact"] = names.pop(fn_key)
            routed.append(fn_key)
    names["json_len"] = names["json_length"]  # reference: src/json_length.rs:29
    names["json_keys"] = names["json_object_keys"]  # src/json_object_keys.rs:29
    names["json_union_to_text"] = udfs.union_to_text_udf()
    names["json_is_null"] = _union_is_null_udf()
    names["json_from_scalar"] = _from_scalar_udf()
    names["scalar_to_json"] = names["json_from_scalar"]  # src/json_from_scalar.rs:31
    for name, udf in names.items():
        spark.udf.register(name, udf)
    # calls the JVM exact tier serves (a string document and a literal
    # path, or one union-struct argument for json_union_to_text and
    # json_is_null, which then becomes a plain Catalyst null test) skip
    # the Python UDFs registered above; they keep every other call
    alias = {"json_len": "json_length", "json_keys": "json_object_keys"}
    jvm_tier.bind_sql(spark, {
        name: fn for name in names
        if (fn := alias.get(name, name.removesuffix("_exact")))
        in jvm_tier.SQL_FNS
    })
    # record the routed set on the session so jsonf.sql()'s operator
    # rewriter can steer incompatible call shapes to <name>_exact;
    # cleared by a plain register_all (the exact surface is back)
    spark.conf.set(_ROUTED_CONF, ",".join(routed))
    return routed


# characters a JSONPath key cannot carry — the Python-side twin of the
# RLIKE class inside _JSONPATH_GUARD below; jsonf.sql's rewriter uses
# it to steer guard-tripping literal keys to <name>_exact instead of a
# runtime raise_error. KEEP THE TWO IN SYNC (pinned by
# tests/test_sql.py::TestAutoTier::test_guard_chars_route_to_exact).
_JSONPATH_UNSAFE = ".[]'\"$*"

# shared JSONPath-key guard for the variant-tier SQL UDF bodies: keys
# containing . [ ] ' " $ * are not expressible in JSONPath, and the
# EMPTY key would build JSONPath '$.' (INVALID_VARIANT_GET_PATH crash
# where the exact tier answers — json_get_int('{"":5}','') is 5 there)
_JSONPATH_GUARD = (
    "CASE WHEN length(k) = 0 OR k RLIKE '[.\\\\[\\\\]''\"$*]' THEN "
    "raise_error(concat('key ', k, ' is not expressible in JSONPath "
    "syntax; use the exact tier')) "
    "ELSE concat('$.', k) END"
)

# SQL bodies for the JVM-native variant tier (functions/native.py twins).
# `{p}` expands to the guarded JSONPath expression over parameter `k`.
_NATIVE_SQL_BODIES = {
    "json_get_int_variant": (
        "BIGINT",
        "try_variant_get(try_parse_json(ltrim(j)), {p}, 'bigint')",
    ),
    "json_get_float_variant": (
        "DOUBLE",
        "try_variant_get(try_parse_json(ltrim(j)), {p}, 'double')",
    ),
    "json_get_bool_variant": (
        "BOOLEAN",
        "try_variant_get(try_parse_json(ltrim(j)), {p}, 'boolean')",
    ),
    "json_get_str_variant": (
        "STRING",
        "try_variant_get(try_parse_json(ltrim(j)), {p}, 'string')",
    ),
    "json_get_json_variant": (
        "STRING",
        "to_json(try_variant_get(try_parse_json(ltrim(j)), {p}, 'variant'))",
    ),
    "json_keys_variant": (
        "ARRAY<STRING>",
        "map_keys(try_variant_get(try_parse_json(ltrim(j)), {p}, "
        "'map<string,variant>'))",
    ),
    "json_as_text_variant": (
        "STRING",
        "try_variant_get(try_parse_json(ltrim(j)), {p}, 'string')",
    ),
    # array<string> of element JSON texts (literal null elements render
    # as 'null'), same re-serialization envelope as json_get_json
    "json_get_array_variant": (
        "ARRAY<STRING>",
        "transform(try_variant_get(try_parse_json(ltrim(j)), {p}, "
        "'array<variant>'), v -> to_json(v))",
    ),
    # present-null => non-null variant => TRUE; missing/invalid => NULL
    # variant => FALSE (reference json_contains semantics)
    "json_contains_variant": (
        "BOOLEAN",
        "try_variant_get(try_parse_json(ltrim(j)), {p}, 'variant') "
        "is not null",
    ),
    # nullif(size(x), -1): with ANSI off, legacy sizeOfNull makes
    # size(NULL) return -1; -1 is unreachable for a real collection
    "json_length_variant": (
        "BIGINT",
        "coalesce("
        "nullif(size(try_variant_get(try_parse_json(ltrim(j)), {p}, "
        "'array<variant>')), -1), "
        "nullif(size(try_variant_get(try_parse_json(ltrim(j)), {p}, "
        "'map<string,variant>')), -1))",
    ),
}


def register_native(spark: SparkSession) -> None:
    """Register the JVM-native VARIANT tier for SQL users: Spark 4 SQL
    UDFs (``CREATE FUNCTION ... RETURN``) whose bodies inline into
    Catalyst — whole-stage codegen, ZERO Python hops, ~4× the exact
    tier's throughput on envelope-conformant data.

    Single path-key arity (SQL UDFs have fixed signatures): ``SELECT
    json_get_int_variant(props, 'k') FROM events``. A key containing
    JSONPath syntax characters raises (the same refusal as
    ``native.jsonpath`` — such keys need the exact tier). Equivalence
    envelope as functions/native.py: string coercions differ from the
    exact tier and containers are re-serialized, so the reference-exact
    ``register_all`` functions remain the default surface.
    """
    for name, (ret, body) in _NATIVE_SQL_BODIES.items():
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}(j STRING, k STRING) "
            f"RETURNS {ret} RETURN " + body.format(p=f"({_JSONPATH_GUARD})")
        )


def _pipeline_sql_bodies() -> dict:
    """SQL bodies for :func:`register_pipeline`, built from the same
    constants as the Column API (operators/text.py) so the two surfaces
    cannot drift independently. Bodies are single expressions (Spark
    SQL UDFs take one RETURN expression, no CTEs) — shared
    sub-expressions repeat textually; Catalyst's subexpression
    elimination handles the rest."""
    from .operators import text as _t

    toks = "filter(split(trim(t), '\\\\s+'), x -> x != '')"
    ltoks = "filter(split(trim(lower(t)), '\\\\s+'), x -> x != '')"
    ntok = f"size({toks})"
    safe_tok = f"greatest({ntok}, 1)"
    nchars = "length(t)"
    mean_len = f"({nchars} / {safe_tok})"
    alpha = f"(length(regexp_replace(t, '[^A-Za-z]', '')) / greatest({nchars}, 1))"
    distinct_r = f"(size(array_distinct({toks})) / {safe_tok})"

    def stop_hits(lang):
        lst = ", ".join(f"'{w}'" for w in _t.STOPWORDS[lang])
        return (
            f"size(array_intersect(array_distinct({ltoks}), array({lst})))"
        )

    lang_structs = ", ".join(
        f"named_struct('hits', {stop_hits(lang)}, 'lang', '{lang}')"
        for lang in sorted(_t.STOPWORDS)
    )
    lang_best = f"array_max(filter(array({lang_structs}), s -> s.hits > 0))"
    accent_src = _t.ACCENT_FOLD_SRC.replace("'", "''")
    accent_dst = _t.ACCENT_FOLD_DST.replace("'", "''")
    normalize = (
        "trim(regexp_replace(regexp_replace(lower(translate(t, "
        f"'{accent_src}', '{accent_dst}')), '[^a-z0-9\\\\s]', ' '), "
        "'\\\\s+', ' '))"
    )
    pretoken = _t.BPE_PRETOKEN_PATTERN.replace("\\", "\\\\").replace("'", "''")
    quality = (
        "round("
        f"0.3 * (CASE WHEN {ntok} >= 10 AND {ntok} <= 100000 THEN 1.0 ELSE 0.0 END) "
        f"+ 0.2 * (CASE WHEN {mean_len} >= 2.0 AND {mean_len} <= 12.0 THEN 1.0 ELSE 0.0 END) "
        f"+ 0.3 * least({alpha} * 1.25, 1.0) "
        f"+ 0.2 * least({distinct_r} * 2.0, 1.0), 6)"
    )
    # canonical_url as ONE expression (no CTEs in SQL UDF bodies):
    # shared sub-expressions repeat textually, Catalyst eliminates them
    # regexp-strip + (?s)/\z anchors, mirroring operators/text.py:
    # trim() only strips spaces, '.'/'$' mishandle embedded newlines
    cu_u = (
        "regexp_replace(regexp_replace(t, '^\\\\s+|\\\\s+$', ''), "
        "'(?s)#.*', '')"
    )
    cu_base = f"regexp_extract({cu_u}, '^([^?]*)', 1)"
    cu_query = f"regexp_extract({cu_u}, '(?s)^[^?]*\\\\?(.*)$', 1)"
    cu_scheme = (
        f"lower(regexp_extract({cu_base}, "
        "'^([A-Za-z][A-Za-z0-9+.\\\\-]*://)', 1))"
    )
    cu_rest = f"substring({cu_base}, length({cu_scheme}) + 1, 1073741824)"
    cu_host0 = f"lower(regexp_extract({cu_rest}, '^([^/]*)', 1))"
    cu_path = (
        f"regexp_replace(substring({cu_rest}, length({cu_host0}) + 1, "
        "1073741824), '/\\\\z', '')"
    )
    cu_host1 = f"regexp_replace({cu_host0}, '^www\\\\.', '')"
    cu_host = (
        f"CASE WHEN {cu_scheme} = 'http://' "
        f"THEN regexp_replace({cu_host1}, ':80\\\\z', '') "
        f"WHEN {cu_scheme} = 'https://' "
        f"THEN regexp_replace({cu_host1}, ':443\\\\z', '') "
        f"ELSE {cu_host1} END"
    )
    cu_qs = (
        f"array_join(array_sort(filter(split({cu_query}, '&'), "
        "p -> p != '' AND NOT (startswith(substring_index(p, '=', 1), "
        "'utm_') OR substring_index(p, '=', 1) IN "
        "('fbclid', 'gclid', 'ref')))), '&')"
    )
    canonical = (
        f"concat({cu_scheme}, {cu_host}, {cu_path}, "
        f"CASE WHEN {cu_qs} != '' THEN concat('?', {cu_qs}) ELSE '' END)"
    )
    return {
        "text_token_count": ("INT", f"CAST({ntok} AS INT)"),
        "text_pretoken_count": (
            "INT",
            f"CAST(size(regexp_extract_all(t, '{pretoken}', 0)) AS INT)",
        ),
        "text_normalize": ("STRING", normalize),
        "text_lang_id": (
            "STRING",
            f"CASE WHEN ({lang_best}) IS NULL THEN 'und' "
            f"ELSE ({lang_best}).lang END",
        ),
        "text_quality_score": ("DOUBLE", quality),
        "text_canonical_url": ("STRING", canonical),
    }


def register_pipeline(spark: SparkSession) -> None:
    """Register the scan-speed pipeline text functions for SQL users as
    Spark 4 SQL UDFs (Catalyst-inlined, zero Python): ``SELECT
    text_lang_id(text), text_quality_score(text) FROM docs``.

    Surface: ``text_token_count``, ``text_pretoken_count``,
    ``text_normalize``, ``text_lang_id``, ``text_quality_score``,
    ``text_canonical_url`` (default options) — each
    pinned equivalent to its Column-API twin by
    tests/test_sql.py::TestRegisterPipeline over the shared testdata.
    The heavier operators (gopher flags, c4_clean, classifiers) stay
    DataFrame-level: their struct outputs and kwargs don't fit a
    fixed-signature scalar SQL UDF."""
    for name, (ret, body) in _pipeline_sql_bodies().items():
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}(t STRING) "
            f"RETURNS {ret} RETURN {body}"
        )
