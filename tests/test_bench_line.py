"""bench.py's one stdout line is never lost: however many and however
long the timing keys, `select_line` yields one parseable JSON line
inside the 2,000-char stdout capture window and keeps the pinned
keys."""

from __future__ import annotations

import json

import bench


def _render(qmap):
    return json.dumps({"metric": "headline_queries_total", "value": 1.0,
                       "unit": "sec", "queries": qmap})


def test_oversized_timings_give_one_parseable_line_with_pins(capsys):
    pinned = bench.PREV_LINE_KEYS
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
