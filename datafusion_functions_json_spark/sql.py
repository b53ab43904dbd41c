"""SQL-string surface for the postgres JSON operators: ``->``, ``->>``,
``?``.

The reference wires these into the parser via an ``ExprPlanner``
(reference: src/rewrite.rs:112-198); PySpark exposes no parser or planner
hooks, so :func:`sql` pre-processes the SQL TEXT instead — rewriting the
three operators into the registered function calls before handing the
query to ``spark.sql``:

    jsonf.register_all(spark)
    jsonf.sql(spark, "select name, json_data->'foo'->0 from test")

Behavior mirrors the reference rewrite:

* ``a -> b``  => ``json_get(a, b)``      (reference: src/rewrite.rs:125-131)
* ``a ->> b`` => ``json_as_text(a, b)``
* ``a ? b``   => ``json_contains(a, b)``
* left-assoc chains un-nest into ONE call — ``j->'a'->0`` becomes
  ``json_get(j, 'a', 0)`` — under the reference's two guards
  (src/rewrite.rs:57-99): the inner call must be ``json_get`` (only it
  preserves a JSON value; flattening through ``json_as_text`` would
  change semantics) and every path argument must be a literal.
* a cast of a ``json_get`` chain to a type named in
  ``signatures.CAST_ELISION`` becomes the typed getter
  (src/rewrite.rs:36-54): ``(j->'a')::int`` is ``json_get_int(j, 'a')``.
  The cast stays around the getter for ``decimal`` and for a type with
  parameters (``varchar(10)``), as ``JsonColumn.cast`` reads the same map.
* each rewritten top-level SELECT item is aliased to its operator
  spelling (``json_data -> 'foo' -> 0``) exactly like the reference's
  ``expr_to_sql_repr`` alias rendering (src/rewrite.rs:146-171), so
  result column titles match.
* plan-error parity enforced at rewrite time (the SQL UDFs themselves
  cannot tell literals from columns): a NULL path element raises the
  reference's planning error (tests/main.rs:291-298), and a
  column-valued path element is only allowed alone
  (src/common.rs:129-133).

Spark-specific caveats (documented deltas):

* ``->`` is ALSO Spark's lambda arrow. The rewriter only fires when the
  right operand is a string/integer literal, and additionally skips a
  bare-identifier left operand that sits directly inside a known
  higher-order function call (``transform(arr, x -> 'a')`` stays a
  lambda). Named-function lambdas inside ``jsonf.sql`` queries are
  otherwise unaffected because lambda right-hand sides are expressions,
  not bare literals.
* ``?`` is also Spark's positional-parameter marker. It is rewritten
  only when a JSON-operand shape is present on BOTH sides (left operand
  + string literal right); bare ``?`` markers pass through and still
  work with ``spark.sql(..., args=...)``.
"""

from __future__ import annotations

import re
from typing import List, Optional

from .functions.signatures import CAST_ELISION, SIGNATURES, SQL_NAMES

__all__ = ["sql", "rewrite_sql"]

_TOKEN_RE = re.compile(
    r"""
      (?P<ws>\s+)
    | (?P<lcomment>--[^\n]*)
    | (?P<bcomment>/\*.*?\*/)
    | (?P<string>'(?:[^'\\]|\\.|'')*')
    | (?P<dquote>"(?:[^"\\]|\\.|"")*")
    | (?P<btick>`(?:[^`]|``)*`)
    | (?P<number>(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?[dDfFlL]?)
    | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
    | (?P<longarrow>->>)
    | (?P<arrow>->)
    | (?P<question>\?)
    | (?P<punct>.)
    """,
    re.VERBOSE | re.DOTALL,
)

_OPS = {"arrow": "json_get", "longarrow": "json_as_text", "question": "json_contains"}
_OP_SPELLING = {"arrow": "->", "longarrow": "->>", "question": "?"}

# Outer functions through which a json_get inner call may be flattened
# (reference: src/rewrite.rs:59-68): an operator builds only these two
# and json_contains, which is deliberately absent
_UNNEST_OUTER = {_OPS["arrow"], _OPS["longarrow"]}

# The SQL names taking (json, *path), validated for the
# one-column-path-element rule and NULL path literals, and those taking
# exactly one argument (rewrite-time twin of the reference's signature
# check, reference: tests/main.rs test_json_from_scalar_no_args /
# test_json_from_scalar_too_many_args)
_PATH_FNS = {name for name, fn in SQL_NAMES.items() if SIGNATURES[fn].path}
_UNARY_FNS = set(SQL_NAMES) - _PATH_FNS

# Spark higher-order functions whose lambda parameters must not be
# mistaken for JSON-operator left operands.
_HOF_NAMES = {
    "transform",
    "filter",
    "exists",
    "forall",
    "aggregate",
    "reduce",
    "zip_with",
    "map_filter",
    "map_zip_with",
    "transform_keys",
    "transform_values",
    "array_sort",
}

_TRIVIA = {"ws", "lcomment", "bcomment"}

# Keywords that can directly precede a parenthesized expression — never
# function names when backtracking a paren-group operand.
_KEYWORDS = {
    "select", "distinct", "all", "from", "where", "and", "or", "not",
    "in", "exists", "between", "like", "rlike", "ilike", "is", "as",
    "on", "using", "join", "inner", "left", "right", "full", "cross",
    "group", "by", "having", "order", "limit", "union", "except",
    "intersect", "values", "when", "then", "else", "case", "end",
    "over", "partition", "window", "lateral", "view", "null",
    "true", "false", "interval",
}


class _Tok:
    __slots__ = ("kind", "text", "fn", "args", "alias", "literal_path")

    def __init__(self, kind, text, fn=None, args=None, alias=None, literal_path=False):
        self.kind = kind
        self.text = text
        self.fn = fn  # for kind == 'call': function name
        self.args = args  # for kind == 'call': list of arg source strings
        self.alias = alias  # reference-style operator spelling for aliasing
        self.literal_path = literal_path  # all path args are literals

    def __repr__(self):  # pragma: no cover - debug aid
        return f"_Tok({self.kind!r}, {self.text!r})"


def _tokenize(q: str) -> List[_Tok]:
    out = []
    for m in _TOKEN_RE.finditer(q):
        out.append(_Tok(m.lastgroup, m.group()))
    return out


def _prev(toks, i) -> int:
    i -= 1
    while i >= 0 and toks[i].kind in _TRIVIA:
        i -= 1
    return i


def _next(toks, i) -> int:
    i += 1
    while i < len(toks) and toks[i].kind in _TRIVIA:
        i += 1
    return i if i < len(toks) else -1


def _is_int_literal(t: _Tok) -> bool:
    return t.kind == "number" and re.fullmatch(r"-?\d+", t.text) is not None


def _scan_type_params(toks, ty):
    """After a cast-type ident at ``ty``: span end and the literal
    ``(p, q)`` parameter text (empty when none). Returns (-1, "") for
    an unbalanced parameter list (elision must not fire — dropping
    ``(10,2)`` from ``::decimal(10,2)`` emitted invalid SQL)."""
    nx = _next(toks, ty)
    if not (nx >= 0 and toks[nx].kind == "punct" and toks[nx].text == "("):
        return ty, ""
    depth, k = 0, nx
    while k < len(toks):
        tk = toks[k]
        if tk.kind == "punct" and tk.text == "(":
            depth += 1
        elif tk.kind == "punct" and tk.text == ")":
            depth -= 1
            if depth == 0:
                return k, "".join(tok.text for tok in toks[nx : k + 1])
        k += 1
    return -1, ""


def _plan_error(fn: str, pos: int, got: str):
    raise ValueError(
        f"Error during planning: Unexpected argument type to '{fn}' at "
        f"position {pos}, expected string or int, got {got}."
    )


def _enclosing_call_name(toks, i) -> Optional[str]:
    """Name of the function call directly enclosing position ``i``, or
    None when ``i`` is at paren depth 0 / inside bare parens."""
    depth = 0
    j = i - 1
    while j >= 0:
        t = toks[j]
        if t.kind == "punct" and t.text == ")":
            depth += 1
        elif t.kind == "punct" and t.text == "(":
            if depth == 0:
                k = _prev(toks, j)
                if k >= 0 and toks[k].kind == "ident":
                    return toks[k].text.lower()
                return None
            depth -= 1
        j -= 1
    return None


def _left_operand(toks, op_idx):
    """Span [start, end] of the operator's left operand, plus its
    reference-style alias repr, call metadata when it is a function call,
    and whether it is a bare unqualified identifier (lambda-param
    candidate). Returns None when no rewritable operand is found."""
    end = _prev(toks, op_idx)
    if end < 0:
        return None
    t = toks[end]
    if t.kind == "call":
        return {"start": end, "end": end, "tok": t, "repr": t.alias or t.text, "bare_ident": False}
    if t.kind in ("string", "number"):
        return {"start": end, "end": end, "tok": None, "repr": t.text, "bare_ident": False}
    if t.kind == "ident" and t.text.lower() in _KEYWORDS:
        return None  # e.g. CASE ... END: not a rewritable operand shape
    if t.kind in ("ident", "dquote", "btick"):
        # walk back a qualified chain a.b.c — alias repr keeps the LAST
        # segment only (reference: Column{name} ignores the relation,
        # src/rewrite.rs:147-151)
        start = end
        while True:
            p = _prev(toks, start)
            if p >= 0 and toks[p].kind == "punct" and toks[p].text == ".":
                pp = _prev(toks, p)
                if pp >= 0 and toks[pp].kind in ("ident", "dquote", "btick"):
                    start = pp
                    continue
            break
        name = toks[end].text
        if toks[end].kind in ("dquote", "btick"):
            name = name[1:-1]
        return {
            "start": start,
            "end": end,
            "tok": None,
            "repr": name,
            "bare_ident": start == end and toks[end].kind == "ident",
        }
    if t.kind == "punct" and t.text == ")":
        # balanced paren group; include a preceding function name
        depth = 0
        j = end
        while j >= 0:
            tj = toks[j]
            if tj.kind == "punct" and tj.text == ")":
                depth += 1
            elif tj.kind == "punct" and tj.text == "(":
                depth -= 1
                if depth == 0:
                    break
            j -= 1
        if j < 0:
            return None
        start = j
        fn = None
        p = _prev(toks, j)
        if p >= 0 and toks[p].kind == "ident" and toks[p].text.lower() not in _KEYWORDS:
            start = p
            fn = toks[p].text.lower()
        src = "".join(tok.text for tok in toks[start : end + 1])
        # lambda-parameter detection: a bare paren group holding only
        # comma-separated identifiers — `(x, y) -> 'z'` inside a HOF is
        # a lambda head, not a JSON operand (the bare_ident guard only
        # covered the single-parameter `x -> 'z'` spelling)
        param_list = False
        if fn is None:
            inner = [
                tok
                for tok in toks[j + 1 : end]
                if tok.kind not in _TRIVIA
            ]
            param_list = bool(inner) and all(
                tok.kind == "ident"
                or (tok.kind == "punct" and tok.text == ",")
                for tok in inner
            ) and any(tok.kind == "ident" for tok in inner)
        info = {
            "start": start,
            "end": end,
            "tok": None,
            "repr": src,
            "bare_ident": False,
            "param_list": param_list,
        }
        if fn is not None:
            args = _split_call_args(toks, j, end)
            info["tok"] = _Tok(
                "call",
                src,
                fn=fn,
                args=args,
                alias=None,
                literal_path=all(
                    _arg_is_literal(a) for a in (args[1:] if args else [])
                ),
            )
        return info
    return None


def _split_call_args(toks, open_idx, close_idx) -> List[str]:
    """Split the top-level comma-separated args between the parens."""
    args, cur, depth = [], [], 0
    for t in toks[open_idx + 1 : close_idx]:
        if t.kind == "punct" and t.text == "(":
            depth += 1
        elif t.kind == "punct" and t.text == ")":
            depth -= 1
        if depth == 0 and t.kind == "punct" and t.text == ",":
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(t.text)
    tail = "".join(cur).strip()
    if tail:
        args.append(tail)
    return args


_LITERAL_ARG_RE = re.compile(
    r"^(?:'(?:[^'\\]|\\.|'')*'|-?\d+)$"
)


def _arg_is_literal(arg_src: str) -> bool:
    return _LITERAL_ARG_RE.fullmatch(arg_src.strip()) is not None


def _validate_arity(fn: str, args: List[str]):
    got = 0 if args == [""] else len(args)
    if got != 1:
        raise ValueError(
            f"The function '{fn}' expected 1 arguments but received {got}."
        )


def _validate_path_args(fn: str, args: List[str]):
    """Rewrite-time twin of the reference's path-arg planning checks."""
    ident_re = re.compile(r"^[A-Za-z_][A-Za-z0-9_.]*$")
    n_path = len(args) - 1
    for pos, a in enumerate(args[1:], start=2):
        s = a.strip()
        if s.lower() == "null":
            _plan_error(fn, pos, "Null")
        if re.fullmatch(r"\d+\.\d*|\.\d+|\d+[eE][+-]?\d+|\d+\.\d*[eE][+-]?\d+", s):
            _plan_error(fn, pos, "Float64")
        if n_path > 1 and ident_re.fullmatch(s) and s.lower() != "null":
            # column-valued path element in a multi-element path
            raise ValueError(
                "More than 1 path element is not supported when querying "
                "JSON using an array."
            )


_CAST_KEY_TYPES = {"text", "varchar", "string", "int", "integer", "bigint"}


_INT_KEY_TYPES = {"int", "integer", "bigint"}
_TEXT_KEY_TYPES = {"text", "varchar", "string"}


def _fold_cast_key(lit: _Tok, cast_ty):
    """Constant-fold ``(<literal> :: type)`` into the literal the CAST
    evaluates to — discarding the type turned ``('0'::int)`` (array
    index 0) into object key '0' (a reviewed silent-wrong-result bug).
    Returns None when the fold can't be proven (skip the collapse)."""
    if cast_ty is None:
        return lit  # bare parens: pure grouping
    if cast_ty in _TEXT_KEY_TYPES:
        if lit.kind == "string":
            return lit
        if _is_int_literal(lit):
            return _Tok("string", "'%s'" % lit.text)
        return None
    if cast_ty in _INT_KEY_TYPES:
        if _is_int_literal(lit):
            return lit
        if lit.kind == "string":
            inner = lit.text[1:-1]
            if re.fullmatch(r"-?\d+", inner):
                return _Tok("number", inner)
        return None
    return None


def _collapse_cast_keys(toks) -> None:
    """In place: after an ``->``/``->>`` operator, rewrite the token span
    ``( <literal> )`` or ``( <literal> :: type )`` to the literal the
    cast EVALUATES to (string type ⇒ key, int type ⇒ index)."""
    i = 0
    while i < len(toks):
        if toks[i].kind in ("arrow", "longarrow"):
            j = _next(toks, i)
            if j >= 0 and toks[j].kind == "punct" and toks[j].text == "(":
                k = _next(toks, j)
                if k >= 0 and (toks[k].kind == "string" or _is_int_literal(toks[k])):
                    m = _next(toks, k)
                    cast_ty = None
                    # optional ::type
                    if (
                        m >= 0
                        and toks[m].kind == "punct"
                        and toks[m].text == ":"
                    ):
                        m2 = _next(toks, m)
                        m3 = _next(toks, m2) if m2 >= 0 else -1
                        if (
                            m2 >= 0
                            and toks[m2].kind == "punct"
                            and toks[m2].text == ":"
                            and m3 >= 0
                            and toks[m3].kind == "ident"
                            and toks[m3].text.lower() in _CAST_KEY_TYPES
                        ):
                            cast_ty = toks[m3].text.lower()
                            m = _next(toks, m3)
                        else:
                            i += 1
                            continue
                    if m >= 0 and toks[m].kind == "punct" and toks[m].text == ")":
                        lit = _fold_cast_key(toks[k], cast_ty)
                        if lit is not None:
                            toks[j:m + 1] = [lit]
        i += 1


def rewrite_sql(query: str) -> str:
    """Rewrite ``->``/``->>``/``?`` into registered JSON function calls.

    Pure text-to-text (no SparkSession needed) — the testable core of
    :func:`sql`.
    """
    toks = _tokenize(query)

    # -- parenthesized/cast literal keys ---------------------------------
    # `j->('foo'::text)` and `j->('foo')` mean `j->'foo'` (reference:
    # tests/main.rs test_arrow_cast_key_text — the planner sees through
    # the cast of a literal). Collapse the group ONLY directly after an
    # operator, where the parens are pure grouping — `in ('a')` etc. are
    # untouched.
    _collapse_cast_keys(toks)

    # -- operator rewriting, left-to-right until fixpoint ---------------
    while True:
        op_idx = -1
        for i, t in enumerate(toks):
            if t.kind in _OPS:
                op_idx = i
                break
        if op_idx < 0:
            break
        t_op = toks[op_idx]
        fn = _OPS[t_op.kind]
        r_idx = _next(toks, op_idx)
        right = toks[r_idx] if r_idx >= 0 else None

        # negative index: `j -> -1` tokenizes as punct '-' + number; an
        # unmerged pair left the arrow unrewritten and the query
        # unparseable — merge into one signed number token (the
        # reference accepts negative int paths; the getter yields NULL)
        if right is not None and right.kind == "punct" and right.text == "-":
            r2 = _next(toks, r_idx)
            if r2 >= 0 and toks[r2].kind == "number":
                merged = _Tok("number", "-" + toks[r2].text)
                toks[r_idx : r2 + 1] = [merged]
                right = merged

        right_is_path = right is not None and (
            right.kind == "string" or _is_int_literal(right)
        )
        right_is_null = (
            right is not None
            and right.kind == "ident"
            and right.text.lower() == "null"
        )
        right_is_float = (
            right is not None
            and right.kind == "number"
            and not _is_int_literal(right)
        )
        left = (
            _left_operand(toks, op_idx)
            if (right_is_path or right_is_null or right_is_float)
            else None
        )
        if (
            left is not None
            and (left["bare_ident"] or left.get("param_list"))
            and _enclosing_call_name(toks, left["start"]) in _HOF_NAMES
        ):
            # lambda head, not a JSON operand: covers both the bare
            # `x -> 'a'` and the parenthesized `(x, y) -> 'z'` spellings
            left = None
        if left is None:
            # not a JSON-operator shape: neutralize the token kind so the
            # scan can move on (text preserved verbatim — e.g. genuine
            # lambda arrows and positional ? parameters)
            t_op.kind = "punct"
            continue
        if right_is_null:
            _plan_error(fn, 2, "Null")
        if right_is_float:
            _plan_error(fn, 2, "Float64")

        # un-nest through an inner json_get per the reference guards
        inner = left["tok"]
        if (
            inner is not None
            and inner.kind == "call"
            and inner.fn == "json_get"
            and fn in _UNNEST_OUTER
            and inner.literal_path
            and inner.args
        ):
            args = list(inner.args) + [right.text]
        else:
            args = [
                "".join(
                    tok.text for tok in toks[left["start"] : left["end"] + 1]
                ),
                right.text,
            ]
        alias = f"{left['repr']} {_OP_SPELLING[t_op.kind]} {right.text}"
        call_src = f"{fn}({', '.join(args)})"
        new_tok = _Tok(
            "call",
            call_src,
            fn=fn,
            args=args,
            alias=alias,
            literal_path=all(_arg_is_literal(a) for a in args[1:]),
        )
        toks[left["start"] : r_idx + 1] = [new_tok]

    # -- cast elision over rewritten json_get chains --------------------
    # (json_data->'foo'->0)::int  =>  json_get_int(json_data, 'foo', 0)
    # cast(json_data->'foo' as int) likewise; the operator-spelling alias
    # survives (reference: tests/main.rs test_arrow_double_nested_cast
    # keeps `json_data -> 'foo' -> 0` as the column title). Only
    # json_get is elided (src/rewrite.rs is_json_get guard); a cast on a
    # ->> chain casts the TEXT result, which Spark handles natively.
    changed = True
    while changed:
        changed = False
        for i, t in enumerate(toks):
            if t.kind != "call" or t.fn != "json_get":
                continue
            span_start, span_end = i, i
            # unwrap EVERY pure paren wrap (one-level unwrap left
            # ((j->'a'))::int casting the raw struct — a reviewed bug)
            while True:
                p = _prev(toks, span_start)
                n = _next(toks, span_end)
                if (
                    p >= 0
                    and toks[p].kind == "punct"
                    and toks[p].text == "("
                    and n >= 0
                    and toks[n].kind == "punct"
                    and toks[n].text == ")"
                ):
                    pp = _prev(toks, p)
                    if (
                        pp >= 0
                        and toks[pp].kind == "ident"
                        and toks[pp].text.lower() not in _KEYWORDS
                    ):  # a function call's arg list, not pure grouping
                        break
                    span_start, span_end = p, n
                    continue
                break
            after = _next(toks, span_end)
            new_fn = None
            shell_type = None  # original type text when the cast stays
            if (
                after >= 0
                and toks[after].kind == "punct"
                and toks[after].text == ":"
                and after + 1 < len(toks)
                and toks[after + 1].kind == "punct"
                and toks[after + 1].text == ":"
            ):
                ty = _next(toks, after + 1)
                if ty >= 0 and toks[ty].kind == "ident":
                    cand = CAST_ELISION.get(toks[ty].text.lower())
                    if cand:
                        ty_end, params = _scan_type_params(toks, ty)
                        if ty_end >= 0:
                            new_fn = cand
                            span_end = ty_end
                            if params or toks[ty].text.lower() == "decimal":
                                # decimal keeps the cast shell
                                # (reference rewrite.rs:46-48); so does
                                # any parameterized type — dropping
                                # '(10,2)' emitted invalid SQL before
                                shell_type = toks[ty].text + params
            else:
                # cast( CALL as TYPE ) — the (possibly paren-wrapped)
                # call is the sole argument
                p = _prev(toks, span_start)
                if p >= 0 and toks[p].kind == "punct" and toks[p].text == "(":
                    pp = _prev(toks, p)
                    a = _next(toks, span_end)
                    if (
                        pp >= 0
                        and toks[pp].kind == "ident"
                        and toks[pp].text.lower() == "cast"
                        and a >= 0
                        and toks[a].kind == "ident"
                        and toks[a].text.lower() == "as"
                    ):
                        ty = _next(toks, a)
                        if ty >= 0 and toks[ty].kind == "ident":
                            cand = CAST_ELISION.get(toks[ty].text.lower())
                            if cand:
                                ty_end, params = _scan_type_params(toks, ty)
                                close = _next(toks, ty_end) if ty_end >= 0 else -1
                                if (
                                    close >= 0
                                    and toks[close].kind == "punct"
                                    and toks[close].text == ")"
                                ):
                                    new_fn = cand
                                    span_start, span_end = pp, close
                                    if (
                                        params
                                        or toks[ty].text.lower() == "decimal"
                                    ):
                                        shell_type = toks[ty].text + params
            if new_fn:
                call_src = f"{new_fn}({', '.join(t.args)})"
                if shell_type is not None:
                    call_src = f"cast({call_src} as {shell_type})"
                toks[span_start : span_end + 1] = [
                    _Tok(
                        "call",
                        call_src,
                        fn=new_fn,
                        args=t.args,
                        alias=t.alias,
                        literal_path=t.literal_path,
                    )
                ]
                changed = True
                break

    # -- validation of function-form path args --------------------------
    for i, t in enumerate(toks):
        if t.kind == "call" and t.fn in _PATH_FNS:
            _validate_path_args(t.fn, t.args)
        elif t.kind == "ident" and (
            t.text.lower() in _PATH_FNS or t.text.lower() in _UNARY_FNS
        ):
            n = _next(toks, i)
            if n >= 0 and toks[n].kind == "punct" and toks[n].text == "(":
                depth, j = 0, n
                while j < len(toks):
                    tj = toks[j]
                    if tj.kind == "punct" and tj.text == "(":
                        depth += 1
                    elif tj.kind == "punct" and tj.text == ")":
                        depth -= 1
                        if depth == 0:
                            break
                    j += 1
                if j < len(toks):
                    name = t.text.lower()
                    call_args = _split_call_args(toks, n, j)
                    if name in _UNARY_FNS:
                        _validate_arity(name, call_args)
                    else:
                        _validate_path_args(name, call_args)

    # -- alias attachment for whole top-level select items --------------
    # The reference aliases the rewritten EXPRESSION node, so redundant
    # enclosing parens don't block the operator-spelling column title:
    # `select ('{"foo": 42}'->>('foo'::text))` still titles
    # `'{"foo": 42}' ->> 'foo'` (tests/main.rs:1276-1294). Hop outward
    # through ( ... ) pairs wrapping exactly this call and attach the
    # alias AFTER the outermost close paren (AS inside parens is
    # invalid SQL).
    attach = {}  # token index -> alias appended after that token
    for i, t in enumerate(toks):
        if t.kind == "call" and t.alias:
            p = _prev(toks, i)
            n = _next(toks, i)
            attach_at = i
            while (
                p >= 0
                and toks[p].kind == "punct"
                and toks[p].text == "("
                and n >= 0
                and toks[n].kind == "punct"
                and toks[n].text == ")"
            ):
                attach_at = n
                p, n = _prev(toks, p), _next(toks, n)
            prev_ok = p < 0 or (
                (toks[p].kind == "ident" and toks[p].text.lower() in ("select", "distinct", "all"))
                or (toks[p].kind == "punct" and toks[p].text == ",")
            )
            next_ok = n < 0 or (
                (toks[n].kind == "ident" and toks[n].text.lower() in ("from", "where", "group", "order", "limit", "having", "union", "except", "intersect", "window"))
                or (toks[n].kind == "punct" and toks[n].text == ",")
            )
            if prev_ok and next_ok:
                attach[attach_at] = t.alias
    out = []
    for i, t in enumerate(toks):
        out.append(t.text)
        alias = attach.get(i)
        if alias is not None:
            escaped = alias.replace("`", "``")
            out.append(f" AS `{escaped}`")
    return "".join(out)


def sql(spark, query: str, **kwargs):
    """Run a SQL query supporting the reference's JSON operators.

    Pre-processes ``query`` with :func:`rewrite_sql`, then executes it via
    ``spark.sql``. The JSON functions must be registered first
    (:func:`datafusion_functions_json_spark.register_all`). Extra kwargs
    (e.g. ``args`` for parameterized queries) pass through.
    """
    return spark.sql(rewrite_sql(query), **kwargs)
