"""Tests of the benchmark itself (statistics, span accounting, failure
accounting) plus a smoke run of each workload on the sf0.001 fixture.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import run  # noqa: E402
import stats  # noqa: E402
import worker  # noqa: E402
from spans import Tracer, parse_sql_metric, with_self_times  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# The repository's own smoke-scale fixture (the sf0.001 tables its tests use).
SMOKE_DIR = worker._load_conftest().SF_DIR
with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


# -- tail percentile -------------------------------------------------------

def test_tail_leaves_ten_samples_above():
    v, pct, n = stats.tail([float(x) for x in range(1, 21)])
    assert (v, n) == (10.0, 20)
    assert pct == 50.0


def test_tail_with_eleven_samples_is_the_minimum():
    v, pct, n = stats.tail([5.0, 1.0, 9.0, 2.0, 8.0, 3.0, 7.0, 4.0, 6.0, 10.0, 11.0])
    assert v == 1.0 and n == 11
    assert pct == pytest.approx(100.0 / 11)


def test_tail_ties_do_not_count_as_above():
    # The ten ties at 5.0 have only two samples above them; 2.0 has twelve.
    v, _, _ = stats.tail([1.0, 2.0] + [5.0] * 10 + [6.0, 7.0])
    assert v == 2.0


def test_tail_needs_eleven_samples():
    with pytest.raises(ValueError):
        stats.tail([1.0] * 10)


# -- geomean ---------------------------------------------------------------

def test_geomean_weights_ratios_equally():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    # 2x on a 0.2 s query moves it as much as 2x on a 5 s query.
    base = stats.geomean([0.2, 5.0])
    assert stats.geomean([0.1, 5.0]) == pytest.approx(stats.geomean([0.2, 2.5]))
    assert stats.geomean([0.1, 5.0]) == pytest.approx(base / 2**0.5)


def test_geomean_rejects_non_positive():
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


# -- self time -------------------------------------------------------------

def test_self_time_subtracts_overlapping_children_once():
    # Children [1,3] and [2,5] overlap; [8,12] sticks out of the parent.
    assert stats.self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 5.0), (8.0, 12.0)]) == pytest.approx(4.0)


def test_self_time_on_span_tree():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 6.0},
        {"id": 2, "parent": 0, "start": 4.0, "end": 9.0},
        {"id": "job1", "parent": 1, "start": 2.0, "end": 3.0},
        {"id": "job2", "parent": 1, "start": 2.5, "end": 4.0},
    ]
    with_self_times(spans)
    assert spans[0]["self_s"] == pytest.approx(2.0)   # 10 - |[1,9]|
    assert spans[1]["self_s"] == pytest.approx(3.0)   # 5 - |[2,4]|
    assert spans[2]["self_s"] == pytest.approx(5.0)
    assert spans[3]["self_s"] == pytest.approx(1.0)


def test_parse_sql_metric():
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n10.9 s (2.6 s, 2.8 s)") == 10.9
    assert parse_sql_metric("0 ms") == 0.0
    assert parse_sql_metric("150") == 150.0
    assert parse_sql_metric("1,234") == 1234.0
    assert parse_sql_metric("total (min, med, max)\n443.5 KiB (1 KiB)") == 443.5 * 1024


# -- failure accounting ----------------------------------------------------

class _Writer:
    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        return None


class _Frame:
    write = _Writer()


class _Spark:
    sparkContext = None


def _raises(spark, sf_dir):
    raise RuntimeError("stub builder failure")


def test_a_raising_builder_is_counted_and_the_pass_continues():
    builders = {"bad": _raises, "good": lambda spark, sf_dir: _Frame()}
    tracer = Tracer()
    pass_sid = tracer.begin("pass0", "pass")
    records, frames = worker._run_pass(tracer, _Spark(), builders, ["bad", "good"],
                                       "unused", 0, pass_sid)
    assert not records["bad"]["ok"] and "stub builder failure" in records["bad"]["error"]
    assert records["good"]["ok"] and list(frames) == ["good"]

    result = {"passes": [{"queries": records}, {"queries": records}],
              "check_failures": {"good": "mismatch"}}
    attempted, failed = run.account(result)
    # Both passes attempt both queries; two raised, one output failed its check.
    assert (attempted, failed) == (4, 3)


# -- smoke runs ------------------------------------------------------------

@pytest.mark.skipif(not os.path.isdir(SMOKE_DIR), reason="smoke fixture not present")
@pytest.mark.parametrize("workload,trace", [(w, t) for w in sorted(WORKLOADS) for t in (0, 1)])
def test_smoke_run(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "0", "--seconds", "0", "--trace", str(trace), "--data", SMOKE_DIR],
        capture_output=True, text=True, timeout=300, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"], out.stderr[-4000:]
    assert result["failed"] == 0
    # One cold pass and four warm passes of every query.
    assert result["attempted"] == 5 * len(WORKLOADS[workload]["queries"])
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    if trace:
        assert result["metrics"]["operators.build_s"]["value"] > 0
    else:
        assert all(m["value"] > 0 for m in result["metrics"].values())
