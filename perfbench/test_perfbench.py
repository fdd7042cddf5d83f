"""Tests of the benchmark itself.

The fast tests cover the pure helpers. ``test_counters_repeat_exactly``
runs the traced benchmark twice on one seed (about two minutes) and
checks that every deterministic counter repeats exactly, so a later
change can claim a count change without timing noise.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gate  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

PLAN = """AdaptiveSparkPlan isFinalPlan=false
+- Project [a#1, (n#2 + _geo(0)#3) AS n#4]
   +- ArrowEvalPython [_geo(0)#3], [pythonUDF0#5], 200
      +- BroadcastHashJoin [a#1], [a#6], LeftOuter, BuildRight, false
         :- LocalTableScan [a#1]
         +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, string, true]),false), [plan_id=7]
            +- *(2) HashAggregate(keys=[a#6], functions=[count(1)])
               +- Exchange hashpartitioning(a#6, 8), ENSURE_REQUIREMENTS, [plan_id=8]
                  +- Window [row_number() windowspecdefinition(a#6)]
                     +- FileScan parquet [a#6]
"""


def test_plan_counters():
    c = spans.plan_counters(PLAN)
    assert c == {"plan.nodes": 10, "plan.exchanges": 2, "plan.broadcasts": 1,
                 "plan.python_nodes": 1, "plan.windows": 1, "plan.generates": 0}


def test_self_times_subtract_children():
    s = [spans.Span("session", 0.0, 10.0), spans.Span("compiler", 1.0, 3.0, 0),
         spans.Span("checkpoint", 4.0, 9.0, 0), spans.Span("catalyst", 4.0, 5.0, 2)]
    t = spans.self_times(s)
    assert t == {"session": 3.0, "compiler": 2.0, "checkpoint": 4.0, "catalyst": 1.0}


def test_p90_interpolates_between_ranks():
    assert run.p90([2.0]) == 2.0
    assert run.p90([1.0, 2.0, 3.0]) == pytest.approx(2.8)
    assert run.p90([float(x) for x in range(11)]) == pytest.approx(9.0)
    assert run.p90([1.0] * 8 + [10.0]) == pytest.approx(2.8)


def test_residuals_accept_laplace_and_reject_missing_noise():
    rng = np.random.default_rng(0)
    info = {"noise_mechanism": "LAPLACE", "noise_parameter": 2.0}
    assert gate.noise_variance(info) == 8.0
    ok = gate.Residuals()
    ok.add(0, rng.laplace(0, 2.0, 500), info)
    assert ok.failures() == []
    none = gate.Residuals()
    none.add(0, np.zeros(60), info)
    assert none.failures()


def test_residuals_reject_missing_geometric_noise():
    info = {"noise_mechanism": "GEOMETRIC", "noise_parameter": 2.0}
    b = 2.0
    p = 1 - np.exp(-1 / b)
    rng = np.random.default_rng(1)
    ok = gate.Residuals()
    ok.add(0, (rng.geometric(p, 400) - rng.geometric(p, 400)).astype(float), info)
    assert ok.failures() == []
    none = gate.Residuals()
    none.add(0, np.zeros(40), info)
    assert none.failures()


def _traced(seed: int) -> list:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "dp_interactive",
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    assert json.loads(out.stdout.strip().splitlines()[-1])["failed"] == 0
    path = os.path.join(ROOT, ".bench_build", "perfbench", "traces",
                        f"dp_interactive-seed{seed}.json")
    with open(path) as f:
        ops = json.load(f)["operations"]
    return [{"name": o["name"], **{k: o[k] for k in spans.DETERMINISTIC}} for o in ops]


def test_counters_repeat_exactly():
    first, second = _traced(7), _traced(7)
    assert first == second
    assert any(o["exec.jobs"] > 0 and o["noise.rows"] > 0 for o in first)
