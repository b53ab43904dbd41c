"""Tests of the benchmark itself: generator determinism, the oracle on
hand-computed documents, the metric names it prints against
BENCHMARK.json, and the recorded repeat-run spread.

    python3 -m pytest perfbench/tests -q

The two end-to-end tests start Spark and take about a minute each.
"""

from __future__ import annotations

import json
import re
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import corpus  # noqa: E402
import run  # noqa: E402
import templates as T  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


# ---------------------------------------------------------------- generator
def _small(shape_name):
    base = corpus.SHAPES[shape_name]
    return corpus.Shape(base.name, days=2, rows_per_day=3000, files_per_day=2,
                        note_bytes=base.note_bytes, config_keys=base.config_keys,
                        rows_per_distinct=base.rows_per_distinct)


@pytest.mark.parametrize("shape_name", ["unique", "repeated"])
def test_generator_is_deterministic_per_seed(shape_name):
    shape = _small(shape_name)
    a, b, c = (corpus.generate(shape, s) for s in (7, 7, 8))
    assert [(d.texts, d.order) for d in a] == [(d.texts, d.order) for d in b]
    assert [d.texts for d in a] != [d.texts for d in c]


@pytest.mark.parametrize("shape_name", ["unique", "repeated"])
def test_records_are_what_the_texts_say(shape_name):
    for day in corpus.generate(_small(shape_name), 3):
        assert sum(day.counts) == day.rows
        for text, rec in zip(day.texts, day.records):
            if rec is None:
                with pytest.raises(ValueError):
                    json.loads(text)
            else:
                assert json.loads(text) == rec


def test_unique_corpus_is_distinct_and_repeated_corpus_repeats():
    u = corpus.generate(_small("unique"), 1)[0]
    assert len(set(u.texts)) == u.rows
    r = corpus.generate(_small("repeated"), 1)[0]
    assert len(r.texts) == 3 and r.rows == 3000


def test_corpus_holds_the_pinned_edge_cases():
    recs = [r for day in corpus.generate(corpus.SHAPES["unique"], 5)
            for r in day.records]
    valid = [r for r in recs if r is not None]
    ages = [r["user"].get("age", T.MISS) for r in valid]
    assert any(a is None for a in ages) and any(a is T.MISS for a in ages)
    assert any(isinstance(a, str) and a.isdigit() for a in ages)
    assert any(isinstance(r["user"].get("score"), str) for r in valid)
    assert any(r["event"]["ts"] > T.I64_MAX for r in valid)
    assert any("a.b" in r for r in valid)
    assert None in recs  # invalid documents


# ------------------------------------------------------------------- oracle
def test_oracle_getters_on_hand_built_documents():
    rec = json.loads('{"a": {"n": "42", "f": "42.5", "z": null, "big": 18446744073709551616,'
                     ' "fl": 12.5, "b": "true", "arr": [1, [2]], "s": "x"}}')
    a = lambda *p: T.at(rec, "a", *p)  # noqa: E731
    assert T.as_int(a("n")) == 42
    assert T.as_int(a("f")) is None and T.as_float(a("f")) == 42.5
    assert T.as_int(a("z")) is None and a("z") is None
    assert a("missing") is T.MISS and T.at(None, "a") is T.MISS
    assert T.as_int(a("big")) is None and T.as_float(a("big")) == 2.0**64
    assert T.as_bool(a("b")) is True and T.as_bool(a("s")) is None
    assert T.as_text(a("fl")) == "12.5" and T.as_text(a("z")) is None
    assert T.as_text(a("arr")) == "[1,[2]]" and T.as_text(a("s")) == "x"
    assert T.at(rec, "a", "arr", 1, 0) == 2 and T.at(rec, "a", "arr", 5) is T.MISS
    assert [T.union_type_id(a(k)) for k in ("z", "big", "b", "fl", "arr", "n")] == \
        [None, None, 4, 3, 5, 4]
    assert T.union_type_id(True) == 1 and T.union_type_id(7) == 2
    assert T.union_text(a("s")) == '"x"' and T.union_text(a("big")) is None
    assert T.length(a("arr")) == 2 and T.length(a("s")) is None


def test_template_expectations_on_hand_computed_rows():
    docs = [
        {"id": 1, "kind": "view", "ver": 2, "ok": True,
         "user": {"name": "n1", "age": "30", "score": 1.5, "tags": ["a"],
                  "address": {"city": "oslo", "geo": {"lat": 1.0}}},
         "event": {"value": "hi", "ts": 5, "items": [{"qty": 3}]},
         "flags": {"active": True, "beta": "false"}, "a.b": 4, "note": None},
        {"id": 2, "kind": "buy", "ver": 3, "ok": False,
         "user": {"name": "n2", "age": None, "score": "2.25", "tags": [],
                  "address": {"city": "oslo", "geo": {"lat": -2.0}}},
         "event": {"value": 2**64, "ts": 2**63, "items": []},
         "flags": {"active": False, "beta": True}},
        None,  # an invalid document
    ]
    pairs = [(docs[0], 2), (docs[1], 1), (None, 5)]
    assert T._api_typed_expect(pairs) == (60, 5.25, 3, 1, 10)
    assert T._column_chain_expect(pairs) == (1, 6, 0.0)
    assert T._union_expect(pairs) == (6, 8, 8)
    assert T._register_expect(pairs) == (60, 3, 2, 8, 2)
    assert T._sql_ops_expect(pairs) == (60, 2, 3, 24)
    assert T._native_expect(pairs) == (7, 3, 2)
    assert T._etl_expect(pairs)[:3] == (8, 4, 60)


def test_same_compares_floats_by_relative_tolerance():
    assert T.same((1, 0.1 + 0.2, None), (1, 0.3, None))
    assert not T.same((1, 0.31), (1, 0.3))
    assert not T.same((None,), (0.0,))


def test_tail_percentile_keeps_ten_samples_beyond():
    v, p, n = run.tail([float(i) for i in range(40)])
    assert (v, p, n) == (29.0, 75.0, 40)
    assert sum(x > v for x in range(40)) == 10
    assert run.tail([float(i) for i in range(20)]) == (19.0, 100.0, 20)


# --------------------------------------------------------- BENCHMARK.json
def test_benchmark_json_follows_the_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert SPEC["paths"] == ["perfbench"] and SPEC["command"][1].startswith("perfbench/")
    assert 2 <= len(SPEC["workloads"]) <= 8
    assert {w["name"] for w in SPEC["workloads"]} == set(run.WORKLOADS)
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in SPEC[k]]
    assert len(names) == len(set(names)) and all(NAME.fullmatch(n) for n in names)
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert UNIT.fullmatch(m["unit"]) and m["better"] in ("lower", "higher")
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_report_prints_every_end_to_end_metric(capsys):
    res = run.LoopResult()
    res.lat = [("a", 0.5 + i / 100) for i in range(30)]
    res.docs, res.attempted = 30_000, 30
    metrics = run.report("adhoc_unique", res, [9.0, 3.5, 3.0], 8.0, 1024 * 1024)
    assert metrics["setup_s"]["value"] == 3.5
    assert list(metrics) == [m["name"] for m in SPEC["end_to_end"]]
    units = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert all(metrics[k]["unit"] == units[k] for k in metrics)
    out = capsys.readouterr().out
    for k in list(metrics) + ["failed_frac", "query_tail_s"]:
        assert f"adhoc_unique {k} = " in out


SPREAD_SETS = ["SPREAD.json", "SPREAD_repeat.json"]


@pytest.mark.parametrize("name", SPREAD_SETS)
def test_recorded_spread_is_within_every_bound(name):
    spread = json.loads((BENCH / name).read_text())
    assert spread["seconds"] == SPEC["run_seconds"]
    assert set(spread["workloads"]) == {w["name"] for w in SPEC["workloads"]}
    for w in SPEC["workloads"]:
        rec = spread["workloads"][w["name"]]
        assert len(rec["seeds"]) >= 10
        for m in SPEC["end_to_end"]:
            r = rec["metrics"][m["name"]]
            assert len(r["values"]) == len(rec["seeds"])
            q = statistics.quantiles(r["values"], n=4)
            iqr = (q[2] - q[0]) / statistics.median(r["values"])
            assert abs(iqr - r["iqr_over_median"]) < 1e-9
            assert iqr <= m["bound"], (w["name"], m["name"], iqr)


def test_recorded_sets_agree_within_every_bound():
    a, b = (json.loads((BENCH / n).read_text())["workloads"] for n in SPREAD_SETS)
    for w in SPEC["workloads"]:
        for m in SPEC["end_to_end"]:
            m1 = a[w["name"]]["metrics"][m["name"]]["median"]
            m2 = b[w["name"]]["metrics"][m["name"]]["median"]
            assert abs(m2 - m1) / m1 <= m["bound"], (w["name"], m["name"], m1, m2)


# -------------------------------------------------------------- end to end
def test_fails_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "adhoc_unique",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0 and p.stdout.strip() == ""


@pytest.mark.parametrize("trace,key", [(0, "end_to_end"), (1, "per_layer")])
def test_run_prints_exactly_the_listed_metrics(trace, key):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "dashboard_repeated", "--seed", "3", "--seconds", "1",
                        "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    units = {m["name"]: m["unit"] for m in SPEC[key]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
