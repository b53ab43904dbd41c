"""Seeded JSON corpora and the oracle records they are built from.

Everything here is plain Python plus pyarrow: the benchmark computes the
expected query results from the generator's own records and never calls
the package under test to do so.

Two document shapes share one schema, so every query template runs on
both:

* ``unique`` -- every document distinct, 0.2-1 KB, nested three levels
  with arrays and mixed value types (``adhoc_unique``, ``etl_flatten``);
* ``repeated`` -- 1-2 KB templated config payloads drawn from a per-day
  pool of about one distinct document per 1,000 rows
  (``dashboard_repeated``).

Rows whose results the reference semantics pin down are mixed in at fixed
rates: JSON ``null`` next to a missing key, numeric strings read by the
int and float getters, integers outside i64, invalid documents, and a
key (``"a.b"``) that JSONPath -- and so the variant tier -- cannot
address.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass
from typing import Dict, List, Optional, Tuple

KINDS = ("click", "view", "buy", "share", "login", "logout", "search", "error")
CITIES = ("oslo", "lima", "pune", "kyiv", "cork", "nice", "bern", "riga",
          "baku", "doha", "kobe", "sale")
WORDS = ("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
         "hotel", "india", "juliet", "kilo", "lima", "mike", "november")

I64_MAX = 2**63 - 1
I64_MIN = -(2**63)
BIG = 2**64  # integer literals at or beyond this are outside i64 (and u64)


@dataclass(frozen=True)
class Shape:
    """How one corpus is laid out on disk and how its documents look."""

    name: str
    days: int
    rows_per_day: int
    files_per_day: int
    note_bytes: Tuple[int, int]  # padding range -> document size range
    config_keys: int  # size of the templated "config" subtree
    rows_per_distinct: int  # 1 = every document distinct


SHAPES = {
    "unique": Shape("unique", days=2, rows_per_day=12_000, files_per_day=4,
                    note_bytes=(0, 500), config_keys=0, rows_per_distinct=1),
    "repeated": Shape("repeated", days=4, rows_per_day=10_000,
                      files_per_day=4, note_bytes=(500, 1100), config_keys=24,
                      rows_per_distinct=1000),
}


def _word(rng: random.Random) -> str:
    return rng.choice(WORDS)


def _money(rng: random.Random) -> float:
    # two decimals, well inside the range where Python's repr and serde's
    # shortest round-trip agree digit for digit
    return rng.randint(1, 99_999) / 100


def make_record(rng: random.Random, doc_id: int, shape: Shape) -> dict:
    """One valid document as a Python dict (key order is the text order)."""
    rec: dict = {"id": doc_id, "kind": rng.choice(KINDS),
                 "ver": rng.randint(1, 9), "ok": rng.random() < 0.7}
    user: dict = {"name": f"{_word(rng)}_{rng.randint(0, 99_999)}"}
    r = rng.random()
    if r < 0.70:
        user["age"] = rng.randint(18, 90)
    elif r < 0.80:
        user["age"] = str(rng.randint(18, 90))  # numeric string -> int getter
    elif r < 0.85:
        user["age"] = f"{rng.randint(18, 90)}.5"  # int getter -> NULL
    elif r < 0.93:
        user["age"] = None  # JSON null
    # else: key missing
    r = rng.random()
    if r < 0.85:
        user["score"] = _money(rng)
    elif r < 0.95:
        user["score"] = f"{rng.randint(0, 999)}.25"  # numeric string -> float
    user["tags"] = [_word(rng) for _ in range(rng.randint(0, 4))]
    user["address"] = {
        "city": rng.choice(CITIES),
        "zip": f"{rng.randint(0, 99_999):05d}",
        "geo": {"lat": rng.randint(-800_000, 800_000) / 10_000,
                "lon": rng.randint(-1_700_000, 1_700_000) / 10_000},
    }
    rec["user"] = user
    event: dict = {}
    r = rng.random()
    if r < 0.25:
        event["value"] = rng.randint(-1000, 100_000)
    elif r < 0.45:
        event["value"] = _money(rng)
    elif r < 0.65:
        event["value"] = _word(rng)
    elif r < 0.72:
        event["value"] = rng.random() < 0.5
    elif r < 0.80:
        event["value"] = None
    elif r < 0.85:
        event["value"] = [rng.randint(0, 9) for _ in range(rng.randint(0, 3))]
    elif r < 0.88:
        event["value"] = {"k": _word(rng)}
    elif r < 0.90:
        event["value"] = BIG + rng.randint(0, 10**6)  # outside i64
    # else: key missing
    event["ts"] = (I64_MAX + 1 + rng.randint(0, 10**6) if rng.random() < 0.01
                   else 1_700_000_000_000 + rng.randint(0, 10**9))
    event["items"] = [
        {"sku": f"{_word(rng)}-{rng.randint(0, 999)}", "qty": rng.randint(1, 9),
         "price": _money(rng)}
        for _ in range(rng.randint(0, 4))
    ]
    rec["event"] = event
    rec["flags"] = {"active": rng.random() < 0.5,
                    "beta": rng.choice((True, False, "true", "false", "yes"))}
    if rng.random() < 0.3:
        rec["a.b"] = rng.randint(0, 1000)
    if shape.config_keys:
        rec["config"] = {
            f"opt_{k}": rng.choice((rng.randint(0, 100), _word(rng), True, None))
            for k in range(shape.config_keys)
        }
    lo, hi = shape.note_bytes
    if rng.random() < 0.1:
        rec["note"] = None
    elif rng.random() < 0.9:
        n = rng.randint(lo, hi)
        rec["note"] = ("lorem ipsum dolor sit amet " * (n // 27 + 1))[:n]
    return rec


def dumps(rec: dict) -> str:
    return json.dumps(rec, separators=(",", ":"))


def invalidate(text: str) -> str:
    """Drop the first ':' -- the parser fails on the very first member, so
    every path misses, on every tier."""
    i = text.index(":")
    return text[:i] + " " + text[i + 1:]


@dataclass
class Day:
    """One day-partition: its distinct documents and how often each occurs.

    ``records[i]`` is the dict behind ``texts[i]`` or ``None`` for an invalid
    document; ``counts[i]`` is the number of rows holding it; ``order`` lists
    the row sequence as indexes into ``texts``."""

    texts: List[str]
    records: List[Optional[dict]]
    counts: List[int]
    order: List[int]

    @property
    def rows(self) -> int:
        return len(self.order)

    def pairs(self):
        return zip(self.records, self.counts)


def generate(shape: Shape, seed: int) -> List[Day]:
    """The whole corpus for ``seed``: deterministic, independent of the
    package under test."""
    rng = random.Random(f"{shape.name}:{seed}")
    days = []
    for d in range(shape.days):
        n_distinct = max(1, shape.rows_per_day // shape.rows_per_distinct)
        texts, records = [], []
        for i in range(n_distinct):
            rec = make_record(rng, d * 10_000_000 + i, shape)
            text = dumps(rec)
            if rng.random() < 0.01:
                text, rec = invalidate(text), None
            texts.append(text)
            records.append(rec)
        if n_distinct == shape.rows_per_day:
            order = list(range(n_distinct))
        else:
            order = [rng.randrange(n_distinct) for _ in range(shape.rows_per_day)]
        counts = [0] * n_distinct
        for i in order:
            counts[i] += 1
        days.append(Day(texts, records, counts, order))
    return days


def write_parquet(shape: Shape, days: List[Day], root: str) -> None:
    """``root/day=<d>/part-<k>.parquet`` with one string column ``j``; each
    day is split into ``files_per_day`` files so a one-day query still gets
    one task per core."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for d, day in enumerate(days):
        ddir = os.path.join(root, f"day={d}")
        os.makedirs(ddir, exist_ok=True)
        col = [day.texts[i] for i in day.order]
        step = -(-len(col) // shape.files_per_day)
        for k in range(shape.files_per_day):
            part = pa.table({"j": pa.array(col[k * step:(k + 1) * step], pa.string())})
            pq.write_table(part, os.path.join(ddir, f"part-{k}.parquet"))


def day_bytes(day: Day) -> int:
    """JSON text bytes of one day-partition (rows, not distinct docs)."""
    size: Dict[int, int] = {}
    return sum(size.setdefault(i, len(day.texts[i].encode())) for i in day.order)
