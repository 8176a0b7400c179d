"""Tests of the benchmark itself: seed determinism, the tail rule, and a
smoke run of every workload.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import inputs
from perfbench.oracle import window_bounds
from perfbench.stats import tail
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("schedule", [inputs.windows_schedule, inputs.binned_schedule])
def test_schedule_is_a_function_of_the_seed(schedule):
    assert schedule(7, 40) == schedule(7, 40)
    assert schedule(7, 40) != schedule(8, 40)
    # a longer schedule extends a shorter one
    assert schedule(7, 60)[:40] == schedule(7, 40)


def test_windows_blocks_are_balanced():
    ops = inputs.windows_schedule(3, 20)
    for b in range(0, 20, 5):
        assert sorted(f for f, _ in ops[b : b + 5]) == sorted(inputs.WINDOW_FLAVOURS)
    # four blocks run every (flavour, n) pair once
    assert len(set(ops)) == 20


def test_binned_blocks_write_before_their_joins():
    ops = inputs.binned_schedule(5, 18)
    width = None
    for kind, w in ops:
        if kind == "prebinned_write":
            width = w
        elif kind.startswith("prebinned"):
            assert w == width
    assert [k for k, _ in ops].count("prebinned_write") == 3


def test_inputs_are_a_function_of_the_seed(tmp_path):
    digests = {}
    for seed, sub in ((1, "a"), (1, "b"), (2, "c")):
        d = tmp_path / sub
        d.mkdir()
        paths = [
            inputs.write_events(seed, str(d)),
            inputs.write_span_table(seed, "a", str(d / "spans.parquet"), n=1000),
        ]
        digests[sub] = [inputs.file_digest(p) for p in paths]
    assert digests["a"] == digests["b"]
    assert digests["a"][0] != digests["c"][0]
    assert digests["a"][1] != digests["c"][1]


def test_tail_needs_ten_samples_beyond():
    values = [float(v) for v in range(1, 31)]  # 30 samples
    t = tail(values)
    # p66 is rank 20 with 10 above; p67 is rank 21 with only 9 above
    assert (t["percentile"], t["value"], t["beyond"], t["ok"]) == (66, 20.0, 10, True)
    t = tail([float(v) for v in range(1, 111)])
    assert (t["percentile"], t["beyond"]) == (90, 11)
    short = tail([3.0, 1.0, 2.0])
    assert (short["ok"], short["value"], short["beyond"]) == (False, 3.0, 0)


def test_window_bounds_tile_the_cover():
    w = window_bounds(10, 27, 4)
    assert w[0][1] == 10 and w[-1][2] == 27
    assert all(a[2] == b[1] for a, b in zip(w, w[1:]))
    assert [x[0] for x in w] == [1, 2, 3, 4]


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_run(workload):
    """One set-up and one op of each workload, checked against DuckDB."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", "1", "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] == 1
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    assert set(result["metrics"]) == {m["name"] for m in bench["per_layer"]}
