"""Tests for the benchmark's own code: seeded inputs, statistics, metric
names and the parsers it applies to Spark's status output.

Run with ``python3 -m pytest perfbench -q`` from the repository root.
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
from probe import PER_LAYER, Spans, sql_metric_value  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _csv(tmp_path, seed: int, name: str = "pp.csv", rows: int = 500) -> tuple[bytes, dict]:
    path = tmp_path / name
    planted = inputs.write_pp_csv(str(path), seed, rows)
    return path.read_bytes(), planted


def test_same_seed_same_csv_and_order(tmp_path):
    a, planted_a = _csv(tmp_path, 7, "a.csv")
    b, planted_b = _csv(tmp_path, 7, "b.csv")
    assert a == b and planted_a == planted_b
    names = list(WORKLOADS["relational"].calls)
    assert inputs.call_order(names, 7) == inputs.call_order(names, 7)


def test_other_seed_changes_csv_and_order(tmp_path):
    a, _ = _csv(tmp_path, 7, "a.csv")
    b, _ = _csv(tmp_path, 8, "b.csv")
    assert a != b
    names = list(WORKLOADS["relational"].calls)
    assert inputs.call_order(names, 7) != inputs.call_order(names, 8)
    assert sorted(inputs.call_order(names, 8)) == sorted(names)


def test_csv_shape(tmp_path):
    data, planted = _csv(tmp_path, 3, rows=2000)
    lines = data.decode().splitlines()
    assert len(lines) == planted["rows"] == 2000
    fields = [line.split(",") for line in lines]
    assert {len(f) for f in fields} == {16}
    assert sum(f[14] == "\\N" for f in fields) == planted["null_ppd_cat"] > 0
    assert any(f[10] == "" for f in fields)  # empty strings kept as values
    ids = [f[0] for f in fields]
    assert len(set(ids)) < len(ids)  # CDC replays of a transaction id
    dates = [f[2] for f in fields]
    assert max(dates) == inputs.PLANTED_MAX.strftime("%Y-%m-%d %H:%M")
    assert dates.count(max(dates)) == 1


@pytest.mark.parametrize("n", [11, 20, 30, 31, 100])
def test_tail_leaves_at_least_ten_samples_beyond(n):
    values = [float(i) for i in range(n, 0, -1)]
    value, pct, count = stats.tail(values)
    assert count == n
    assert pct == int(100 * (n - stats.TAIL_BEYOND) / n)
    assert sum(v > value for v in values) >= stats.TAIL_BEYOND


def test_tail_even_and_odd_counts_exact():
    even = stats.tail([float(i) for i in range(20, 0, -1)])
    assert even == (10.5, 50, 20)
    odd = stats.tail([float(i) for i in range(1, 32)])
    # p67 of 1..31 sits at position 30 * 0.67 = 20.1, between 21 and 22
    assert odd[1:] == (67, 31) and odd[0] == pytest.approx(21.1)


def test_tail_needs_more_than_ten_samples():
    assert stats.tail([1.0] * 10) is None
    assert stats.tail([]) is None


def test_every_metric_name_and_unit():
    for table in (run.END_TO_END, run.REPORTED, PER_LAYER):
        for name, unit in table.items():
            assert NAME.fullmatch(name) and len(name) <= 64, name
            assert UNIT.fullmatch(unit), (name, unit)


def test_benchmark_json_matches_the_code():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER


@pytest.mark.parametrize(
    "text, expected",
    [
        ("1,000", 1000.0),
        ("8.1 KiB", 8.1 * 1024),
        ("total (min, med, max (stageId: taskId))\n2.0 MiB (1.0 MiB, 1.0 MiB, 1.0 MiB (stage 3.0: task 3))",
         2.0 * 1024 * 1024),
    ],
)
def test_sql_metric_value(text, expected):
    assert sql_metric_value(text) == pytest.approx(expected)


def test_self_time_subtracts_children():
    spans = Spans()
    root = spans.add("call", 0.0, 10.0, None)
    spans.add("build", 0.0, 4.0, root)
    execute = spans.add("execute", 4.0, 10.0, root)
    spans.add("plan", 4.0, 5.0, execute)
    assert spans.self_times() == {"call": 0.0, "build": 4.0, "execute": 5.0, "plan": 1.0}
