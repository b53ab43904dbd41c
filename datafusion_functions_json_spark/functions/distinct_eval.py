"""Dictionary-encoding-spirit evaluation: compute once per DISTINCT
document, join the results back.

The reference exploits Arrow dictionary encoding by running every JSON
kernel on the dictionary VALUES array and remapping keys (reference:
src/common.rs:310-327 — `wrap_as_dictionary` / key canonicalization
500-523), so a column with D distinct documents over N rows parses D
times, not N. Spark surfaces no Arrow dictionary arrays to the SQL
layer (SURVEY.md §2.1 row 16 adjudicated the physical technique N/A),
but the same win has a first-class relational spelling, and this module
ships it:

    distinct → evaluate (one Python/JVM hop over D rows) → join back

At the 100 TB posture this is the difference between N and D Arrow-hop
rows for the low-cardinality JSON columns real pipelines carry (config
blobs, schema'd event payloads, enum-ish metadata documents): the
distinct is a shuffle of ONE string column with map-side partial
aggregation, the evaluation runs over D rows only, and the join back is
AQE-broadcastable whenever D is genuinely small (the runtime size of
the computed table is what AQE sees — no stats guessing).

Exactness: the join key is the raw document string compared null-safely
(``eqNullSafe``), so results are byte-identical to evaluating per row —
including NULL and malformed documents, which our kernels map to
deterministic fallbacks.

Measured break-even (round 14, local[32], 1M rows, D=100, two exact-
tier extractions, min-of-3 noop-sink writes, window steal 0.1%):

    ~20 B docs:   per-row 0.47 s   dict 1.00 s   (dict 2.1x SLOWER)
    ~120 B docs:  per-row 0.60 s   dict 1.57 s   (dict 2.6x slower)
    ~1 KB docs:   per-row 6.11 s   dict 1.92 s   (dict 3.2x FASTER)

The duplication ratio alone does NOT decide the win: dict's own cost
rises with document BYTES (the distinct's hash-aggregate and the join
probe both touch the full doc string as key), while its saving is the
per-doc kernel cost times (1 - D/N). On 32 local cores the Arrow hop
over tiny (<~0.5 KB) docs is cheaper than that bookkeeping (measured
at sf1: dict_extract 0.72 s vs its per-row twin 0.52 s on 9-byte
events.props at 10,000:1 duplication). The win case is the column this
spelling exists for: KB-sized low-cardinality documents (config blobs,
schema'd payloads), where per-row parse dominates. An earlier local[8]
measurement (1.2M rows, 1000 distinct ~50-byte docs: 1.10 s -> 0.61 s)
showed the same crossover shifted left — with fewer cores the per-row
side inflates first, which is also the 100 TB reading: the dictionary
spelling saves TOTAL CPU (D evaluations instead of N) whenever
per-doc cost dominates the ~1-2 us/row join bookkeeping; wall-clock
on an underloaded local[32] masks exactly that. For HIGH-cardinality
columns (D ~ N) the distinct+join is pure overhead — this is an
opt-in spelling, not a default.
"""

from __future__ import annotations

from typing import Callable, Mapping, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["eval_per_distinct"]

_DOC = "__dict_eval_doc"


def eval_per_distinct(
    df: DataFrame,
    json_col: str,
    exprs: Mapping[str, Union[Column, Callable[[Column], Column]]],
    *,
    join: str = "auto",
) -> DataFrame:
    """Append ``exprs`` evaluated once per DISTINCT value of
    ``json_col`` (reference dict-encoding analog — common.rs:310-327).

    ``exprs``: ``{out_name: column_or_fn}`` — a ``Column`` expression
    over ``json_col`` (e.g. ``jsonf.json_get_int(json_col, "k")``) or a
    callable receiving the document ``Column``. Output columns append
    to ``df`` in mapping order.

    ``join``: ``"auto"`` (default — plain equi-join; AQE promotes it to
    a broadcast from the computed table's ACTUAL size, the right call
    when cardinality is data-dependent), ``"broadcast"`` (force — the
    caller knows D is small), or ``"shuffle"`` (force keyed — D is
    large and this is a dedup of work, not a dim join).

    Returns ``df`` with the new columns; row count and order contract
    identical to ``df.select("*", *exprs_per_row)`` (joins don't
    preserve order — neither does any Spark expression under AQE).
    """
    if join not in ("auto", "broadcast", "shuffle"):
        raise ValueError(
            f"eval_per_distinct: unknown join {join!r}; "
            "expected auto|broadcast|shuffle"
        )
    clash = [n for n in exprs if n in df.columns]
    if clash:
        raise ValueError(
            f"eval_per_distinct: output names {clash} already exist in "
            "the input DataFrame"
        )
    if _DOC in exprs:
        # an output named like the internal join-key alias would make
        # the computed table carry two `_DOC` columns, so the final
        # drop(_DOC) would remove the user's output (or resolve
        # ambiguously) — refuse up front like the df.columns clash
        raise ValueError(
            f"eval_per_distinct: output name {_DOC!r} is reserved for "
            "the internal join key"
        )
    if _DOC in df.columns:
        raise ValueError(
            f"eval_per_distinct: input already carries the internal "
            f"column {_DOC!r}"
        )
    doc = F.col(json_col)
    computed = (
        df.select(doc.alias(json_col))
        .distinct()
        .select(
            doc.alias(_DOC),
            *[
                (fn(doc) if callable(fn) else fn).alias(name)
                for name, fn in exprs.items()
            ],
        )
    )
    if join == "broadcast":
        computed = F.broadcast(computed)
    elif join == "shuffle":
        computed = computed.hint("shuffle_hash")
    out = df.join(computed, doc.eqNullSafe(F.col(_DOC)), "left")
    return out.drop(_DOC)
