"""bench.py's one stdout line is never lost: however many and however
long the timing keys, `select_line` yields one parseable JSON line
inside the 2,000-char stdout capture window and keeps the pinned
keys."""

from __future__ import annotations

import json
import os

import bench

R12 = os.path.join(os.path.dirname(os.path.abspath(bench.__file__)),
                   "BENCH_r12.json")


def _render(qmap):
    return json.dumps({"metric": "headline_queries_total", "value": 1.0,
                       "unit": "sec", "queries": qmap})


def test_oversized_timings_give_one_parseable_line_with_pins(capsys):
    pinned = bench.prev_line_keys()
    timings = {k: 0.5 for k in pinned}
    timings.update({f"artifact:{'x' * 60}_{i:03d}": 100.0 - i * 0.1
                    for i in range(300)})
    line = bench.select_line(timings, _render)
    assert "\n" not in line and len(line) < 1800
    qmap = json.loads(line)["queries"]
    assert set(pinned) <= set(qmap)
    assert len(qmap) > len(pinned)               # budget was packed
    assert "WARNING" not in capsys.readouterr().err


def test_pinned_keys_drop_last_with_warning(capsys):
    pinned = tuple(f"pinned_{'p' * 150}_{i}" for i in range(20))
    timings = {k: 1.0 for k in pinned}
    timings["slow_query"] = 9.0
    line = bench.select_line(timings, _render, pinned=pinned + ("gone",))
    assert len(line) < 1800
    qmap = json.loads(line)["queries"]
    assert "slow_query" not in qmap              # non-pinned went first
    assert 0 < len(qmap) < len(pinned)
    err = capsys.readouterr().err
    assert "missing from timings: ['gone']" in err
    assert "dropping pinned key" in err


def test_pins_are_the_latest_round_line_and_fit_the_budget(capsys):
    """The pins are read from the highest-numbered BENCH_r<N>.json
    (r12's 43 keys, not the `_c8` rerun's), and r12's own line with
    all of them pinned still fits."""
    with open(R12) as f:
        prev = json.load(f)["parsed"]
    pinned = bench.prev_line_keys()
    assert len(pinned) == 43 and set(pinned) == set(prev["queries"])
    timings = dict(prev["queries"])
    timings.update({f"q_extra_{i:03d}": 200.0 - i for i in range(100)})
    line = bench.select_line(
        timings, lambda q: json.dumps({**prev, "queries": q}))
    assert len(line) <= bench.LINE_BUDGET
    assert set(pinned) <= set(json.loads(line)["queries"])
    assert "WARNING" not in capsys.readouterr().err
