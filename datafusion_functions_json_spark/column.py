"""JsonColumn — the Python operator surface standing in for the reference's
``->`` / ``->>`` / ``?`` SQL operators.

Spark SQL's parser has no postgres JSON operators and PySpark exposes no
planner hooks (the reference wires its operators through DataFusion's
``ExprPlanner``, reference: src/rewrite.rs:112-198), so the operator sugar
lives on a Column subclass instead (SURVEY.md §2.2):

    jcol = jsonf.col(df.json_data)      # or the result of json_get(...)
    jcol['foo']          # json_data -> 'foo'      (json_get)
    jcol['foo'][0]       # chained, flattens to json_get(j, 'foo', 0)
    jcol.as_text('foo')  # json_data ->> 'foo'     (json_as_text)
    jcol.contains('foo') # json_data ?  'foo'      (json_contains)
    jcol['foo'].cast('bigint')   # cast elision → json_get_int(j, 'foo')

A JsonColumn is a description of one JSON value — ``json_get(doc, *path)``,
``json_get(doc, key)`` or a wrapped column — and builds its Spark column
once, when it is first used. The two optimizer passes of the reference
read that description, so an intermediate step of a chain builds nothing:

* **call un-nesting** (reference: src/rewrite.rs:57-91): ``jcol['a']['b']``
  builds ``json_get(j, 'a', 'b')`` — ONE parse per row instead of two.
  Guards replicated exactly: only when the inner call is ``json_get``
  (type-preserving, reference: src/rewrite.rs:74-78) and only when every
  path element is a literal (reference: src/rewrite.rs:83).
* **cast elision** (reference: src/rewrite.rs:36-54): ``.cast`` to a
  type of ``signatures.CAST_ELISION`` (the map SQL's rewriter reads)
  rewrites to the typed getter so the union struct is never
  materialized.

JsonColumn subclasses ``pyspark.sql.Column`` so it drops into ``select`` /
``filter`` / ``groupBy`` unchanged; ``[]`` results with a literal key are
named in the reference's operator rendering (``json_data -> 'foo'``,
reference: src/rewrite.rs:146-171).
"""

from __future__ import annotations

import re
from functools import cached_property

try:  # Spark 4 classic: the concrete Column holding the py4j handle
    from pyspark.sql.classic.column import Column
except ImportError:  # pragma: no cover - older/connect layouts
    from pyspark.sql import Column

__all__ = ["JsonColumn", "col"]

_COLNAME_RE = re.compile(r"^Column<'(.*)'>$")


def _render(x) -> str:
    """``x`` in the reference's operator spelling (``expr_to_sql_repr``,
    src/rewrite.rs:146-171): a key as ``'key'``, an index bare, a column
    by its name, a JSON value as the lookups that make it."""
    if isinstance(x, JsonColumn):
        return x._render()
    if isinstance(x, str):
        return f"'{x}'"
    if isinstance(x, int):
        return str(x)
    m = _COLNAME_RE.match(str(x))
    return m.group(1) if m else "json"


class JsonColumn(Column):
    """A ``Column`` described as one JSON value, built on first use.

    The description is ``json_get(doc, *path)`` with a tuple of literal
    path elements, ``json_get(doc, key)`` with a column of keys (``path``
    None), or a wrapped column ``doc`` (``path`` and ``key`` None): a union
    value such as ``json_from_scalar``'s (``call`` is its function name
    and argument), or raw JSON text (``jsonf.col``), which lookups and
    casts read as the document at the empty path.
    ``doc`` is a column of JSON text or union structs, or a JsonColumn.
    """

    def __init__(self, doc, path=None, key=None, *, text=False, call=None):
        # every field is set here and Column.__init__ never runs: _jc is
        # built on first use, and Column.__getattr__ would read an unset
        # attribute as a struct field
        self._doc = doc
        self._path = () if text else path
        self._key = key
        self._text = text
        self._call = call  # (fn, arg) of a wrapped column, for its name
        self._named = False  # named in the operator spelling (j -> 'a')

    @cached_property
    def _column(self) -> Column:
        """The column described, without its operator name."""
        if self._text or self._path is None and self._key is None:
            return self._doc
        from .functions import api

        return api._call("json_get", self._doc, self._path, self._key)

    @cached_property
    def _jc(self):
        c = self._column
        return (c.alias(self._render()) if self._named else c)._jc

    def _inner_call(self):
        """``(doc, path)`` when a lookup over this value may un-nest into
        one call of ``doc``: this is ``json_get`` over a literal path
        (reference: src/rewrite.rs:74-83). Else None."""
        return None if self._path is None else (self._doc, self._path)

    def _render(self) -> str:
        if self._call is not None:
            return f"{self._call[0]}({_render(self._call[1])})"
        steps = (self._key,) if self._key is not None else self._path or ()
        return " -> ".join([_render(self._doc), *map(_render, steps)])

    # -- operator surface ----------------------------------------------

    def __getitem__(self, key):
        """``jcol[key]`` == ``json -> key`` (reference: src/rewrite.rs:
        112-133). Chains left-associatively; flattens when allowed."""
        from .functions import api

        out = api.json_get(self, key)
        out._named = not isinstance(key, Column)  # before its first use
        return out

    def _operator(self, op: str, fn_key: str, path) -> Column:
        from .functions import api

        out = getattr(api, fn_key)(self, *path)
        if len(path) == 1 and not isinstance(path[0], Column):
            out = out.alias(f"{self._render()} {op} {_render(path[0])}")
        return out

    def get(self, *path):
        """Explicit json_get with a multi-element path."""
        from .functions import api

        return api.json_get(self, *path)

    def as_text(self, *path) -> Column:
        """``json ->> key`` (reference: src/rewrite.rs:118,129)."""
        return self._operator("->>", "json_as_text", path)

    def contains(self, *path) -> Column:
        """``json ? key`` (reference: src/rewrite.rs:119,130)."""
        return self._operator("?", "json_contains", path)

    def get_str(self, *path) -> Column:
        from .functions import api

        return api.json_get_str(self, *path)

    def get_int(self, *path) -> Column:
        from .functions import api

        return api.json_get_int(self, *path)

    def get_float(self, *path) -> Column:
        from .functions import api

        return api.json_get_float(self, *path)

    def get_bool(self, *path) -> Column:
        from .functions import api

        return api.json_get_bool(self, *path)

    def get_json(self, *path) -> Column:
        from .functions import api

        return api.json_get_json(self, *path)

    def get_array(self, *path) -> Column:
        from .functions import api

        return api.json_get_array(self, *path)

    def length(self, *path) -> Column:
        from .functions import api

        return api.json_length(self, *path)

    def keys(self, *path) -> Column:
        from .functions import api

        return api.json_object_keys(self, *path)

    def to_text(self) -> Column:
        """Flatten this union value to canonical JSON text (reference:
        src/json_union_to_text.rs)."""
        from .functions import api

        return self._doc if self._text else api.json_union_to_text(self)

    def is_json_null(self) -> Column:
        from .functions import api

        return api.json_is_null(self)

    # -- cast elision ---------------------------------------------------

    def cast(self, dataType):
        """Cast elision (reference: src/rewrite.rs:36-54): a cast of a
        json_get result to a type of ``signatures.CAST_ELISION`` becomes
        the typed getter over the SAME args — the union struct is never
        built; a column key is no obstacle (that guard belongs to call
        un-nesting only). The getter is cast again to any type but its
        own, so ``cast("int")`` is INT where SQL's ``::int`` is the
        getter's BIGINT, as in the reference. Unknown target types fall
        back to a real Spark cast of the struct (which Spark will reject,
        like DataFusion would)."""
        from .functions import api, signatures

        name = dataType if isinstance(dataType, str) else dataType.simpleString()
        fn_key = signatures.cast_getter(name)
        if fn_key is None or self._path is None and self._key is None:
            return super().cast(dataType)
        steps = (self._key,) if self._key is not None else self._path
        out = getattr(api, fn_key)(self._doc, *steps)
        own = signatures.RESULT_TYPES[fn_key]
        name = name.strip().lower()
        if name in signatures.UNTYPED_CASTS or name in (
            own.simpleString(),
            own.typeName(),
        ):
            return out
        return out.cast(dataType)

    astype = cast


def col(c) -> JsonColumn:
    """Wrap a raw JSON text column for operator-style access:
    ``jsonf.col(df.json_data)['foo'].cast('bigint')``."""
    if isinstance(c, str):
        from pyspark.sql import functions as F

        c = F.col(c)
    return JsonColumn(c, text=True)
