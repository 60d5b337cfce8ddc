"""Tests of the benchmark harness itself. None of them starts Spark."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import types

import pytest

import gen
import harness
import run
from oracle import compare_rows, compare_sequence
from spans import READER_SPAN, Span, Tracer, layer_metric_units, union_length

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")))


# -- generators ---------------------------------------------------------------


def test_trips_deterministic_per_seed():
    a, b, c = gen.trips(7, 5000), gen.trips(7, 5000), gen.trips(8, 5000)
    assert a["table"].equals(b["table"])
    assert a["info"] == b["info"]
    assert not a["table"].equals(c["table"])


def test_trips_planted_shares():
    g = gen.trips(3, 10_000)
    t = g["table"]
    ids = t.column("trip_id").to_pylist()
    assert len(ids) - len(set(ids)) == 10_000 * gen.DUP_SHARE
    fares = t.column("fare_amount").to_pylist()
    assert sum(1 for f in fares if f is None or f <= 0) == 10_000 * gen.INVALID_SHARE
    assert g["info"]["top_zone_share"] > 1 / gen.N_ZONES * 10  # Zipf skew


def test_cdc_stream_deterministic_and_unique_keys():
    a, b = gen.CdcStream(5, 1000, 3, 4), gen.CdcStream(5, 1000, 3, 4)
    assert all(x.equals(y) for x, y in zip(a.days, b.days))
    for day in a.days:
        ids = day.column("trip_id").to_pylist()
        assert len(ids) == len(set(ids))
    seed_ids = set(a.days[0].column("trip_id").to_pylist())
    late = [i for i in a.days[1].column("trip_id").to_pylist() if i in seed_ids]
    assert len(late) == 1000 * gen.CORRECTION_SHARE  # corrections of recent days
    assert not a.days[1].equals(gen.CdcStream(6, 1000, 3, 4).days[1])


def test_corpus_deterministic_and_ground_truth():
    a, b = gen.corpus(4, 200, n_vecs=100), gen.corpus(4, 200, n_vecs=100)
    assert a["docs"].equals(b["docs"]) and a["vecs"].equals(b["vecs"])
    assert a["near_pairs"] == b["near_pairs"]
    texts = a["docs"].column("text").to_pylist()
    for orig, copy in a["exact_pairs"]:
        assert " ".join(texts[orig].lower().split()) == " ".join(texts[copy].lower().split())
    for orig, copy in a["near_pairs"]:
        assert orig < copy and texts[orig] != texts[copy]
    assert not a["docs"].equals(gen.corpus(5, 200, n_vecs=100)["docs"])


# -- metric names, units and BENCHMARK.json ------------------------------------


def test_end_to_end_metrics_match_benchmark_json():
    spec = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert spec == harness.END_TO_END_UNITS


def test_per_layer_metrics_match_benchmark_json():
    spec = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert spec == layer_metric_units()


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)


def test_result_line_shape():
    ops = harness.Ops()
    ops.record(True)
    line = json.loads(harness.result_line(True, ops, {"cycle_s": 1.5}, {"cycle_s": "s"}))
    assert list(line) == ["correct", "attempted", "failed", "metrics"]
    assert line["metrics"] == {"cycle_s": {"value": 1.5, "unit": "s"}}


# -- statistics ------------------------------------------------------------------


def test_median_and_tail_percentile():
    assert harness.median([3, 1, 2, 10]) == 2.5
    assert harness.tail_percentile(19) is None
    assert harness.tail_percentile(20) == 50  # ten samples beyond p50
    assert harness.tail_percentile(100) == 90
    assert harness.tail_percentile(10_000) == 99
    xs = list(range(1, 101))
    assert harness.percentile(xs, 90) == 90


# -- failure accounting -------------------------------------------------------------


def test_ops_failure_share_counts_checks():
    ops = harness.Ops()
    for ok in (True, True, False, True):
        ops.record(ok, "step")
    ops.check([])
    ops.check(["gold mismatch"])
    assert (ops.attempted, ops.failed, ops.checks_failed) == (6, 2, 1)
    assert ops.ok_share == pytest.approx(4 / 6)
    assert ops.problems == ["step", "gold mismatch"]


# -- tracing arithmetic ----------------------------------------------------------------


def test_union_length():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10


def _tracer() -> Tracer:
    fake = types.SimpleNamespace(sparkContext=None)
    return Tracer(fake, enabled=True)


def test_self_time_and_nesting():
    tr = _tracer()
    # runner span 0..10 with two overlapping sink children and a compile child
    tr.spans = [
        Span(1, "plans.runner", "run_medallion", None, 1, 0.0, 10.0),
        Span(2, "plans.compiler", "compile_pipeline", 1, 1, 0.0, 1.0),
        Span(3, "sources.sinks", "write_observed", 1, 1, 1.0, 4.0),
        Span(4, "sources.sinks", "write_observed", 1, 1, 3.0, 6.0),
        Span(5, "sources.sinks", "write_partitioned", 4, 1, 4.0, 5.0),
    ]
    tr.spans[2].engine["jobs"] = 2
    tr.cycle_bounds = {1: (0.0, 12.0)}
    m = tr.layer_metrics(1)
    assert m["plans.runner.wall_s"] == 10
    assert m["plans.runner.self_s"] == 10 - 6  # children cover 0..6
    # nested sink span counts in self time, not twice in inclusive time
    assert m["sources.sinks.write_s"] == 6
    assert m["sources.sinks.self_s"] == 3 + 2 + 1
    assert m["sources.sinks.jobs"] == 2
    assert m["bench.span_covered_s"] == 10


def test_counters_are_per_cycle_means_and_ratios_of_totals():
    tr = _tracer()
    tr.cycle = 1
    tr.add("llm.dedup", "candidate_pairs", 40)
    tr.add("llm.dedup", "verified_pairs", 30)
    tr.add("sources.snapshots", "kept_files", 1)
    tr.add("sources.snapshots", "total_files", 4)
    tr.cycle = -1
    tr.add("llm.dedup", "candidate_pairs", 1000)  # outside a traced cycle
    m = tr.layer_metrics(2)
    assert m["llm.dedup.candidate_pairs"] == 20
    assert m["llm.dedup.verify_yield"] == 0.75
    assert m["sources.snapshots.files_kept_ratio"] == 0.25
    assert set(m) == set(layer_metric_units())


def test_read_plan_counts_only_the_readers_own_calls():
    tr = _tracer()
    tr.spans = [
        Span(1, "sources.snapshots", READER_SPAN, None, 1, 0.0, 3.0),
        Span(2, "sources.snapshots", "scan_snapshot", 1, 1, 0.0, 1.0),
        Span(3, "sources.snapshots", "read_snapshot", 2, 1, 0.2, 0.5),
        Span(4, "sources.snapshots", "read_snapshot", 1, 1, 1.0, 1.5),
        # compaction and upserts read the head through the same function
        Span(5, "sources.snapshots", "snapshot_compact", None, 1, 4.0, 6.0),
        Span(6, "sources.snapshots", "read_snapshot", 5, 1, 4.0, 5.0),
        Span(7, "sources.snapshots", "read_snapshot", None, 1, 7.0, 8.0),
    ]
    tr.cycle_bounds = {1: (0.0, 9.0)}
    m = tr.layer_metrics(1)
    assert m["sources.snapshots.read_plan_s"] == 1.5
    assert m["sources.snapshots.compact_s"] == 2


# -- a workload whose engine step raises ------------------------------------------------


class _Broken:
    """Stub workload: the warm-up works, then timed cycle ``fail_at`` raises."""

    name, min_cycles, cycle_multiple = "broken", 2, 1

    def __init__(self, spark, work, seed, ops, tracer, fail_at=2):
        self.fail_at = fail_at

    def prepare(self, r):
        pass

    def seed_tables(self):
        pass

    def info(self):
        return {}

    def has_cycle(self, i):
        return True

    def cycle(self, i):
        if i >= self.fail_at:
            raise RuntimeError("engine broke")
        return {"rows": 10, "freshness_s": 0.1, "read_s": 0.1}

    def check(self, i):
        return []

    def finish(self):
        raise RuntimeError("no tables to check")


def _run_broken(tmp_path, trace, fail_at):
    spark = types.SimpleNamespace(sparkContext=None)
    res = harness.run(lambda *a: _Broken(*a, fail_at=fail_at), lambda: spark,
                      seed=1, seconds=1, trace=trace, work=str(tmp_path),
                      trace_path=str(tmp_path / "trace.json"), deadline=float("inf"))
    ops = res["ops"]
    assert ops.checks_failed >= 1 and ops.failed >= 1
    units = layer_metric_units() if trace else harness.END_TO_END_UNITS
    line = json.loads(harness.result_line(ops.checks_failed == 0, ops, res["metrics"], units))
    assert line["correct"] is False
    assert line["attempted"] == ops.attempted and line["failed"] == ops.failed
    assert any("engine broke" in p for p in ops.problems)
    return line["metrics"]


def test_first_timed_cycle_raising_still_gives_a_verdict(tmp_path):
    m = _run_broken(tmp_path, trace=False, fail_at=2)
    assert set(m) == set(harness.END_TO_END_UNITS)
    assert m["cycle_s"]["value"] is None and m["rows_per_s"]["value"] is None
    assert m["space_amp"]["value"] is None
    assert m["setup_s"]["value"] > 0


def test_traced_cycle_raising_still_gives_a_verdict(tmp_path, monkeypatch):
    monkeypatch.setattr(harness, "TARGETS", [])
    monkeypatch.setattr(Tracer, "harvest", lambda self: None)  # no Spark status store
    # cycle 2 is untraced and works; cycle 3, the first traced one, raises
    m = _run_broken(tmp_path, trace=True, fail_at=3)
    assert m["bench.cycles_traced"]["value"] == 0
    assert m["bench.cycle_s_traced"]["value"] is None
    assert m["bench.cycle_s_untraced"]["value"] > 0


# -- oracle comparison ---------------------------------------------------------------------


def test_compare_rows():
    exp = [{"k": 1, "v": 1.0}, {"k": 2, "v": 2.0}]
    assert compare_rows("t", exp, [{"k": 2, "v": 2.0 + 1e-12}, {"k": 1, "v": 1.0}], ["k"]) == []
    assert compare_rows("t", exp, [{"k": 1, "v": 1.5}, {"k": 3, "v": 2.0}], ["k"]) == [
        "t: 1 missing / 1 extra keys", "t: 1 rows differ"]
    assert compare_sequence("s", [(1, 2.0)], [(1, 2.0)]) == []
    assert compare_sequence("s", [(1, 2.0)], []) == ["s: 0 rows, expected 1"]


# -- command line ---------------------------------------------------------------------------


def test_exits_without_result_when_engine_is_absent(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch_refresh",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode == 2
    assert proc.stdout == ""
    assert sorted(os.listdir(tmp_path)) == ["BENCHMARK.json", "perfbench"]
