"""Query templates and the oracle that checks them.

Each template builds one query over one day-partition through one public
surface of the package, and computes the result that query must return
from the generator's records alone (``expect``). The oracle below restates
the reference semantics for the value shapes the generator emits; it never
calls the package.
"""

from __future__ import annotations

import json
import math
import re
from dataclasses import dataclass
from typing import Callable, Iterable, List, Optional, Tuple

I64_MIN, I64_MAX = -(2**63), 2**63 - 1
MISS = object()  # path absent (or the document is invalid)

_INT_TEXT = re.compile(r"[+-]?[0-9]+")
_FLOAT_TEXT = re.compile(r"[+-]?[0-9]+(\.[0-9]+)?")


# ----------------------------------------------------------------- oracle
def at(rec, *path):
    """Value at ``path`` in a record, or MISS. ``rec is None`` is an invalid
    document: every path misses."""
    cur = MISS if rec is None else rec
    for p in path:
        if isinstance(p, str) and isinstance(cur, dict) and p in cur:
            cur = cur[p]
        elif isinstance(p, int) and isinstance(cur, list) and 0 <= p < len(cur):
            cur = cur[p]
        else:
            return MISS
    return cur


def _is_int(v) -> bool:
    return isinstance(v, int) and not isinstance(v, bool)


def as_int(v):
    if _is_int(v):
        return v if I64_MIN <= v <= I64_MAX else None
    if isinstance(v, str) and _INT_TEXT.fullmatch(v):
        n = int(v)
        return n if I64_MIN <= n <= I64_MAX else None
    return None


def as_float(v):
    if _is_int(v) or isinstance(v, float):
        return float(v)
    if isinstance(v, str) and _FLOAT_TEXT.fullmatch(v):
        return float(v)
    return None


def as_str(v):
    return v if isinstance(v, str) else None


def as_bool(v):
    if isinstance(v, bool):
        return v
    return {"true": True, "false": False}.get(v) if isinstance(v, str) else None


def _compact(v) -> str:
    return json.dumps(v, separators=(",", ":"))


def as_text(v):
    """``->>``: strings unquoted, JSON null and misses NULL, the rest as
    the document spells it (the generator writes compact JSON)."""
    if v is MISS or v is None:
        return None
    if isinstance(v, str):
        return v
    if isinstance(v, bool):
        return "true" if v else "false"
    return _compact(v)


def union_type_id(v):
    """The union arm ``json_get`` fills; None for the (whole-struct) null
    arm: JSON null, a miss, or an integer outside i64."""
    if v is MISS or v is None:
        return None
    if isinstance(v, bool):
        return 1
    if _is_int(v):
        return 2 if I64_MIN <= v <= I64_MAX else None
    return {float: 3, str: 4, list: 5, dict: 6}[type(v)]


def union_text(v):
    """``json_union_to_text(json_get(...))``: canonical JSON of the arm."""
    if union_type_id(v) is None:
        return None
    return _compact(v)


def length(v):
    return len(v) if isinstance(v, (list, dict)) else None


# Spark aggregate semantics over (value, multiplicity) pairs
def agg_sum(pairs):
    vals = [(v, c) for v, c in pairs if v is not None]
    return sum(v * c for v, c in vals) if vals else None


def agg_count(pairs):
    return sum(c for v, c in pairs if v is not None)


def agg_count_if(pairs):
    return sum(c for v, c in pairs if v is True)


def agg_count_distinct(pairs):
    return len({v for v, c in pairs if v is not None and c})


def same(got, want) -> bool:
    """Row equality; floats to a relative 1e-9 (summation order differs)."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if isinstance(w, float) or isinstance(g, float):
            if g is None or w is None or not math.isclose(g, w, rel_tol=1e-9, abs_tol=1e-6):
                return False
        elif g != w:
            return False
    return True


# --------------------------------------------------------------- templates
@dataclass(frozen=True)
class Template:
    """One query shape. ``build(ctx, day)`` returns the DataFrame whose single
    collected row is the result; ``expect(pairs)`` computes that row from
    ``(record, multiplicity)`` pairs. ``surface`` names the package module
    the query goes through. A ``job`` template instead writes its frame with
    ``sources.write_partitioned`` and is checked by the checksum
    ``etl_checksum`` reads back."""

    name: str
    surface: str
    build: Callable
    expect: Callable[[Iterable[Tuple[Optional[dict], int]]], tuple]
    job: bool = False


def _aggs(pairs, *specs):
    pairs = list(pairs)
    return tuple(agg([(fn(r), c) for r, c in pairs]) for agg, fn in specs)


def _api_typed(ctx, day):
    F, j = ctx.F, ctx.jsonf
    return ctx.day_df(day).agg(
        F.sum(j.json_get_int("j", "user", "age")),
        F.sum(j.json_get_float("j", "user", "score")),
        F.count(j.json_get_str("j", "user", "name")),
        F.count_if(j.json_get_bool("j", "flags", "beta")),
        F.sum(j.json_get_int("j", "event", "ts")),
    )


def _api_typed_expect(pairs):
    return _aggs(
        pairs,
        (agg_sum, lambda r: as_int(at(r, "user", "age"))),
        (agg_sum, lambda r: as_float(at(r, "user", "score"))),
        (agg_count, lambda r: as_str(at(r, "user", "name"))),
        (agg_count_if, lambda r: as_bool(at(r, "flags", "beta"))),
        (agg_sum, lambda r: as_int(at(r, "event", "ts"))),
    )


def _column_chain(ctx, day):
    F = ctx.F
    c = ctx.jsonf.col("j")
    return ctx.day_df(day).agg(
        F.count_distinct(c["user"]["address"]["city"].cast("string")),
        F.sum(c["event"]["items"][0]["qty"].cast("bigint")),
        F.sum(c["user"]["address"]["geo"]["lat"].cast("double")),
    )


def _column_chain_expect(pairs):
    return _aggs(
        pairs,
        (agg_count_distinct, lambda r: as_str(at(r, "user", "address", "city"))),
        (agg_sum, lambda r: as_int(at(r, "event", "items", 0, "qty"))),
        (agg_sum, lambda r: as_float(at(r, "user", "address", "geo", "lat"))),
    )


def _union(ctx, day):
    F, j = ctx.F, ctx.jsonf
    v = j.json_get("j", "event", "value")
    return ctx.day_df(day).select(
        j.json_is_null(v).alias("is_null"),
        F.length(j.json_union_to_text(v)).alias("text_len"),
        v.alias("v"),
    ).agg(
        F.count_if("is_null"), F.sum("text_len"),
        F.sum(F.col("v.type_id").cast("int")),
    )


def _union_expect(pairs):
    return _aggs(
        pairs,
        (agg_count_if, lambda r: union_type_id(at(r, "event", "value")) is None),
        (agg_sum, lambda r: (lambda t: None if t is None else len(t))(
            union_text(at(r, "event", "value")))),
        (agg_sum, lambda r: union_type_id(at(r, "event", "value"))),
    )


MULTI_FIELDS = {
    "id": ("int", "id"),
    "age": ("int", "user", "age"),
    "score": ("float", "user", "score"),
    "city": ("str", "user", "address", "city"),
    "n_items": ("length", "event", "items"),
    "active": ("bool", "flags", "active"),
    "has_note": ("exists", "note"),
    "kind": ("text", "kind"),
}


def _multi(ctx, day):
    F = ctx.F
    m = ctx.jsonf.json_extract_multi("j", MULTI_FIELDS).alias("m")
    return ctx.day_df(day).select(m).agg(
        F.sum("m.id"), F.sum("m.age"), F.sum("m.score"),
        F.count_distinct("m.city"), F.sum("m.n_items"),
        F.count_if("m.active"), F.count_if("m.has_note"), F.count("m.kind"),
    )


def _multi_expect(pairs):
    return _aggs(
        pairs,
        (agg_sum, lambda r: as_int(at(r, "id"))),
        (agg_sum, lambda r: as_int(at(r, "user", "age"))),
        (agg_sum, lambda r: as_float(at(r, "user", "score"))),
        (agg_count_distinct, lambda r: as_str(at(r, "user", "address", "city"))),
        (agg_sum, lambda r: length(at(r, "event", "items"))),
        (agg_count_if, lambda r: as_bool(at(r, "flags", "active"))),
        (agg_count_if, lambda r: at(r, "note") is not MISS),
        (agg_count, lambda r: as_text(at(r, "kind"))),
    )


# register_all(auto_tier=True) routes the canonical single-key getters to
# the variant tier; the exact tier stays reachable as <name>_exact
_REGISTER_SQL = (
    "SELECT sum(json_get_int_exact(j, 'user', 'age')),"
    " count(json_get_str_exact(j, 'user', 'name')),"
    " sum(json_length(j, 'event', 'items')),"
    " sum(json_get_int_exact(j, 'a.b')),"
    " sum(json_length(j, 'user', 'tags'))"
    " FROM docs WHERE day = {day}"
)


def _register(ctx, day):
    return ctx.spark.sql(_REGISTER_SQL.format(day=day))


def _register_expect(pairs):
    return _aggs(
        pairs,
        (agg_sum, lambda r: as_int(at(r, "user", "age"))),
        (agg_count, lambda r: as_str(at(r, "user", "name"))),
        (agg_sum, lambda r: length(at(r, "event", "items"))),
        (agg_sum, lambda r: as_int(at(r, "a.b"))),
        (agg_sum, lambda r: length(at(r, "user", "tags"))),
    )


_OPS_SQL = (
    "SELECT sum(cast(j->'user'->'age' AS bigint)),"
    " count_if(j ? 'note'),"
    " count(j->'user'->>'name'),"
    " sum(length(j->'event'->>'value'))"
    " FROM docs WHERE day = {day}"
)


def _sql_ops(ctx, day):
    return ctx.jsonf.sql(ctx.spark, _OPS_SQL.format(day=day))


def _sql_ops_expect(pairs):
    return _aggs(
        pairs,
        (agg_sum, lambda r: as_int(at(r, "user", "age"))),
        (agg_count_if, lambda r: at(r, "note") is not MISS),
        (agg_count, lambda r: as_text(at(r, "user", "name"))),
        (agg_sum, lambda r: (lambda t: None if t is None else len(t))(
            as_text(at(r, "event", "value")))),
    )


# routed to the variant tier: one string key, a path whose type never varies
_NATIVE_SQL = (
    "SELECT sum(json_get_int(j, 'ver')), count(json_get_str(j, 'kind')),"
    " count_if(json_get_bool(j, 'ok'))"
    " FROM docs WHERE day = {day}"
)


def _native_sql(ctx, day):
    return ctx.spark.sql(_NATIVE_SQL.format(day=day))


def _native_expect(pairs):
    return _aggs(
        pairs,
        (agg_sum, lambda r: as_int(at(r, "ver"))),
        (agg_count, lambda r: as_str(at(r, "kind"))),
        (agg_count_if, lambda r: as_bool(at(r, "ok"))),
    )


def _native_multi(ctx, day):
    F, j = ctx.F, ctx.jsonf
    m = j.json_extract_multi(
        "j",
        {"ver": ("int", "ver"), "kind": ("str", "kind"), "ok": ("bool", "ok")},
        json_profile=j.JsonProfile(),
    ).alias("m")
    return ctx.day_df(day).select(m).agg(
        F.sum("m.ver"), F.count("m.kind"), F.count_if("m.ok")
    )


QUERY_TEMPLATES: List[Template] = [
    Template("api_typed", "functions.api", _api_typed, _api_typed_expect),
    Template("column_chain", "column", _column_chain, _column_chain_expect),
    Template("union", "union", _union, _union_expect),
    Template("multi", "functions.multi", _multi, _multi_expect),
    Template("register", "register", _register, _register_expect),
    Template("sql_ops", "sql", _sql_ops, _sql_ops_expect),
    Template("native_sql", "functions.native", _native_sql, _native_expect),
    Template("native_multi", "functions.native", _native_multi, _native_expect),
]


# ------------------------------------------------------------ etl_flatten
ETL_FIELDS = {
    "id": ("int", "id"),
    "kind": ("str", "kind"),
    "ver": ("int", "ver"),
    "age": ("int", "user", "age"),
    "score": ("float", "user", "score"),
    "name": ("str", "user", "name"),
    "city": ("str", "user", "address", "city"),
    "lat": ("float", "user", "address", "geo", "lat"),
    "ts": ("int", "event", "ts"),
    "n_items": ("length", "event", "items"),
    "active": ("bool", "flags", "active"),
}


def _etl_frame(ctx, day):
    """One day flattened into typed columns: the fused extraction, a
    ``json_get`` union column and a ``json_get_array`` column."""
    j = ctx.jsonf
    return ctx.day_df(day).select(
        j.json_extract_multi("j", ETL_FIELDS).alias("m"),
        j.json_get("j", "event", "value").alias("value"),
        j.json_get_array("j", "user", "tags").alias("tags"),
    ).select("m.*", "value", "tags")


def etl_checksum(ctx, path):
    """The checksum read back from a written job."""
    F = ctx.F
    return ctx.spark.read.parquet(path).agg(
        F.count(F.lit(1)), F.sum("id"), F.sum("age"), F.sum("score"),
        F.sum("n_items"), F.sum(F.col("value.type_id").cast("int")),
        F.sum(F.when(F.col("tags").isNotNull(), F.size("tags"))),
        F.count_distinct("kind"), F.sum("ts"),
    )


def _etl_expect(pairs):
    pairs = list(pairs)
    return (sum(c for _, c in pairs),) + _aggs(
        pairs,
        (agg_sum, lambda r: as_int(at(r, "id"))),
        (agg_sum, lambda r: as_int(at(r, "user", "age"))),
        (agg_sum, lambda r: as_float(at(r, "user", "score"))),
        (agg_sum, lambda r: length(at(r, "event", "items"))),
        (agg_sum, lambda r: union_type_id(at(r, "event", "value"))),
        (agg_sum, lambda r: length(at(r, "user", "tags"))),
        (agg_count_distinct, lambda r: as_str(at(r, "kind"))),
        (agg_sum, lambda r: as_int(at(r, "event", "ts"))),
    )


ETL_TEMPLATE = Template("etl_flatten", "sources.sinks", _etl_frame, _etl_expect,
                        job=True)
