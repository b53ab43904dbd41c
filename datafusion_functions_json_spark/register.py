"""SQL-surface registration — the Spark analog of the reference's
``register_all`` (reference: src/lib.rs:69-96): 13 functions + the 3
aliases (``json_len``, ``json_keys``, ``scalar_to_json``).

Spark SQL has no ``->``/``->>``/``?`` operators and PySpark has no parser
hooks (SURVEY.md §2.2), so SQL users call the named functions:

    SELECT json_get_str(props, 'k'), count(*)
    FROM events WHERE json_contains(props, 'k') GROUP BY 1

This module only names the functions; it runs on the driver. With the
JVM exact tier loaded, every name is a function builder of the tier
(:func:`.functions.jvm_tier.register_all`, one py4j call): it reads the
argument types when the query is analyzed and raises the reference's
argument errors there — an untyped NULL or a non-string/int path
argument (reference: tests/main.rs:291-298), >1 path element with a
non-literal argument ("More than 1 path element is not supported when
querying JSON using an array.", reference: src/common.rs:129-133), and
``json_contains`` without a path (reference: src/json_contains.rs:43-49).

Without the tier (Spark Connect, no JDK, a failed build) every name is
the Arrow UDF :mod:`.functions.udfs` builds for the function — the body
the Python API runs too. Those UDFs check their arguments by the same
rules per Arrow batch (``udfs._check_path_args``) and raise them as
PythonException at execution, with one delta inherent to a per-batch
check (documented, SURVEY.md §7.4): a path *column* that is constant and
non-null within every Arrow batch is indistinguishable from a literal,
so the >1-path-element error can miss it (a varying or nullable column
is always caught).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .functions import jvm_tier, udfs

__all__ = ["register_all", "register_pipeline"]

# the functions registered under their own SQL names
_FUNCTIONS = (
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
    "json_object_keys",
)


# names also registered as ``<name>_exact``, an alias existing queries use
# (like json_len for json_length)
_EXACT_ALIASES = (
    "json_get_str",
    "json_get_int",
    "json_get_float",
    "json_get_bool",
    "json_get_json",
    "json_get_array",
    "json_as_text",
    "json_contains",
)


# every SQL name, mapped to the function it calls; the aliases are the
# reference's (src/json_length.rs:29, src/json_object_keys.rs:29,
# src/json_from_scalar.rs:31)
_SQL_NAMES = {
    **{fn_key: fn_key for fn_key in _FUNCTIONS},
    **{f"{fn_key}_exact": fn_key for fn_key in _EXACT_ALIASES},
    "json_len": "json_length",
    "json_keys": "json_object_keys",
    "json_union_to_text": "json_union_to_text",
    "json_is_null": "json_is_null",
    "json_from_scalar": "json_from_scalar",
    "scalar_to_json": "json_from_scalar",
}


def _python_udf(fn: str):
    """The Arrow UDF over the Python kernels that runs ``fn`` in SQL."""
    if fn == "json_union_to_text":
        return udfs.union_to_text_udf()
    if fn == "json_is_null":
        return udfs.union_is_null_udf()
    if fn == "json_from_scalar":
        return udfs.from_scalar_udf()
    return udfs.path_udf(fn)


def register_all(
    spark: SparkSession,
    *,
    auto_tier: bool = False,
    json_profile=None,
) -> None:
    """Register every JSON function for the SQL surface (reference:
    src/lib.rs:69-96 — aliases included).

    Each name has one implementation: the JVM exact tier's builder for
    every call when the tier's jar loads, else the Python kernels' Arrow
    UDF. ``json_get_str_exact`` and the other seven ``<name>_exact``
    names are aliases of their canonical names.

    ``auto_tier`` and ``json_profile`` are accepted and ignored, so
    existing callers keep working.
    """
    if jvm_tier.register_all(spark, _SQL_NAMES):
        return
    for name, fn in _SQL_NAMES.items():
        spark.udf.register(name, _python_udf(fn))


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
