"""Spark-free checks of ``tools/ab.py``'s summary maths on canned
``perfbench/run.py`` result lines."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

_PATH = os.path.join(os.path.dirname(__file__), "..", "tools", "ab.py")
_spec = importlib.util.spec_from_file_location("ab_tool", _PATH)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

BENCH = {
    "end_to_end": [
        {"name": "cycle_s", "better": "lower", "bound": 0.25},
        {"name": "rows_per_s", "better": "higher", "bound": 0.25},
        {"name": "ops_ok_share", "better": "higher", "bound": 0.001},
    ],
    "per_layer": [
        {"name": "sources.snapshots.jobs", "better": "lower"},
    ],
}


def _line(correct=True, **metrics):
    return json.dumps({
        "correct": correct,
        "attempted": 10,
        "failed": 0,
        "metrics": {k: {"value": v, "unit": "x"} for k, v in metrics.items()},
    })


def _rows(parent, change):
    return {r["name"]: r for r in ab.summarize(parent, change, BENCH)}


def test_last_json_takes_the_last_result_line():
    out = "\n".join([
        '{"workload": "report, not a result"}',
        "cycle_s     4.2 s",
        _line(cycle_s=1.0),
        _line(cycle_s=2.0),
        "trailing noise",
    ])
    assert ab.last_json(out)["metrics"]["cycle_s"]["value"] == 2.0
    assert ab.last_json("no json here\n{broken") is None


def test_iqr_uses_inclusive_quartiles():
    assert ab.iqr([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx(2.0)
    assert ab.iqr([1.0, 3.0]) == pytest.approx(1.0)
    assert ab.iqr([7.0]) == 0.0
    assert ab.iqr([]) == 0.0


def test_medians_ratio_and_bounds():
    parent = [
        json.loads(_line(cycle_s=c, rows_per_s=r, ops_ok_share=1.0,
                         **{"sources.snapshots.jobs": j}))
        for c, r, j in [(4.0, 100.0, 30), (5.0, 90.0, 32), (6.0, 80.0, 31)]
    ]
    change = [
        json.loads(_line(cycle_s=c, rows_per_s=r, ops_ok_share=1.0,
                         **{"sources.snapshots.jobs": j}))
        for c, r, j in [(6.0, 60.0, 30), (6.5, 70.0, 30), (7.0, 65.0, 29)]
    ]
    rows = _rows(parent, change)
    cyc = rows["cycle_s"]
    assert (cyc["parent"], cyc["change"]) == (5.0, 6.5)
    assert cyc["ratio"] == pytest.approx(1.3)
    assert cyc["parent_iqr"] == pytest.approx(1.0)
    assert cyc["within"] is False  # 30% slower, bound 25%
    rps = rows["rows_per_s"]
    assert rps["ratio"] == pytest.approx(65.0 / 90.0)
    assert rps["within"] is False  # 28% fewer rows/s, bound 25%
    assert rows["ops_ok_share"]["within"] is True  # equal medians
    jobs = rows["sources.snapshots.jobs"]
    assert jobs["ratio"] == pytest.approx(30 / 31)
    assert jobs["bound"] is None and jobs["within"] is None


def test_within_bound_edges_and_missing_samples():
    parent = [json.loads(_line(cycle_s=4.0, rows_per_s=100.0))]
    change = [json.loads(_line(cycle_s=5.0, rows_per_s=75.0))]
    rows = _rows(parent, change)
    assert rows["cycle_s"]["within"] is True  # exactly +25%
    assert rows["rows_per_s"]["within"] is True  # exactly -25%
    # a metric a side never reported has no median and no verdict
    rows = _rows(parent, [json.loads(_line(rows_per_s=None))])
    assert rows["cycle_s"]["change"] is None
    assert rows["cycle_s"]["within"] is None
    assert rows["rows_per_s"]["change"] is None
    # a parent median of 0 has no ratio; any other change is a failure
    rows = _rows([json.loads(_line(cycle_s=0.0))],
                 [json.loads(_line(cycle_s=0.5))])
    assert rows["cycle_s"]["ratio"] is None
    assert rows["cycle_s"]["within"] is False


def test_render_lists_every_metric():
    rows = ab.summarize([json.loads(_line(cycle_s=4.0))],
                        [json.loads(_line(cycle_s=4.4))], BENCH)
    text = ab.render("lakehouse_cdc", rows)
    assert "lakehouse_cdc" in text and "cycle_s" in text and "yes" in text
