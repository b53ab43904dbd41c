"""SQL registration of the pipeline text functions: Spark 4 SQL UDFs
(Catalyst-inlined, zero Python) over the same constants as the Column
API in :mod:`.operators.text`."""

from __future__ import annotations

from pyspark.sql import SparkSession

__all__ = ["register_pipeline"]


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
