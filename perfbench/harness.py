"""Run loop, statistics and resource accounting shared by the workloads.

A run is: start the Spark session, generate and write the inputs (several
times, the median counts), seed the workload's tables, one untimed
warm-up cycle, then closed-loop cycles until ``--seconds`` of cycle time
have been measured and the workload's minimum cycle count is reached.
One client drives the loop and waits for each cycle to finish, the way a
scheduler drives batch ETL. Correctness checks run between cycles,
outside the timed wall.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
import traceback

from spans import TARGETS, Tracer, dir_files

# end-to-end metric -> unit, in report order
END_TO_END_UNITS = {
    "setup_s": "s",
    "cycle_s": "s",
    "rows_per_s": "rows/s",
    "ops_ok_share": "ratio",
    "peak_rss_mb": "MB",
    "freshness_s": "s",
    "read_s": "s",
    "space_amp": "ratio",
    "near_dup_recall": "ratio",
}
SETUP_REPEATS = 3


def median(xs) -> float | None:
    """The median, or None (reported as null) when there is no sample."""
    return float(statistics.median(xs)) if xs else None


def mean(xs) -> float | None:
    return statistics.fmean(xs) if xs else None


def ratio(a, b) -> float | None:
    return a / b if a is not None and b else None


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile with at least ten samples beyond it
    among ``n`` samples, or None when there are fewer than 20."""
    if n < 20:
        return None
    return min(99, int(100 * (n - 10) / n))


def percentile(xs, p: float) -> float:
    ys = sorted(xs)
    k = max(0, min(len(ys) - 1, int(round(p / 100 * (len(ys) - 1)))))
    return ys[k]


class Ops:
    """Attempted / failed operation ledger. A failed correctness check
    counts as a failed operation."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.checks_failed = 0
        self.problems: list[str] = []

    def record(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)

    def step(self, what: str, fn):
        """Run one operation: recorded as attempted, and as failed when
        it raises (the exception propagates and ends the cycle)."""
        try:
            out = fn()
        except Exception as exc:
            self.record(False, f"{what}: {type(exc).__name__}: {exc}"[:300])
            raise
        self.record(True)
        return out

    def check(self, problems: list[str]) -> None:
        """One correctness check: fails when it found any problem."""
        self.record(not problems, "; ".join(problems)[:500])
        self.checks_failed += bool(problems)

    @property
    def ok_share(self) -> float:
        return (self.attempted - self.failed) / max(self.attempted, 1)


def _proc_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(x) for x in fh.read().split()]
    except OSError:
        pass
    return out


def jvm_pids() -> list[int]:
    """The Spark JVM(s) started by this process: descendant processes
    whose command name is ``java``."""
    found, todo = [], _children(os.getpid())
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        if comm == "java":
            found.append(pid)
        else:
            todo += _children(pid)
    return found


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this Python process plus the
    Spark JVM, in MB. Python workers are not included."""
    kb = _proc_kb(os.getpid(), "VmHWM") + sum(_proc_kb(p, "VmHWM") for p in jvm_pids())
    return kb / 1024.0


def dir_bytes(path: str) -> int:
    return sum(dir_files(path).values())


def compact_bytes(table) -> int:
    """Bytes of an Arrow table's rows written as one snappy parquet file:
    the compact reference for space amplification."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sink = pa.BufferOutputStream()
    pq.write_table(table, sink, compression="snappy")
    return sink.getvalue().size


def run(workload_cls, spark_factory, seed: int, seconds: float, trace: bool,
        work: str, trace_path: str, deadline: float) -> dict:
    """Drive one workload and return the result object (the last line
    the command prints) plus a report of everything else measured."""
    t0 = time.perf_counter()
    spark = spark_factory()
    session_s = time.perf_counter() - t0

    ops = Ops()
    tracer = Tracer(spark, enabled=trace)
    wl = workload_cls(spark, work, seed, ops, tracer)
    prepare_s = []
    for r in range(SETUP_REPEATS):
        t = time.perf_counter()
        wl.prepare(r)
        prepare_s.append(time.perf_counter() - t)

    # A traced run times blocks of ``cycle_multiple`` cycles in the order
    # untraced, traced, traced, untraced, so a linear warm-up drift
    # cancels out of the overhead; each kind gets half the minimum.
    block = wl.cycle_multiple * (4 if trace else 1)
    need = max(1, wl.min_cycles // 2) if trace else wl.min_cycles
    walls = {False: [], True: []}
    samples: dict[str, list] = {"freshness_s": [], "read_s": []}
    rows, spent, n = 0, 0.0, 0
    timings = {}
    # An engine step that raises stops the run but not the report: it
    # counts as a failed check, and metrics without samples read null.
    try:
        t = time.perf_counter()
        wl.seed_tables()
        timings["seed_s"] = time.perf_counter() - t
        t = time.perf_counter()
        wl.cycle(1)
        timings["warmup_s"] = time.perf_counter() - t
        ops.check(wl.check(1))
        while True:
            i = n + 2
            if not wl.has_cycle(i) or time.monotonic() > deadline:
                break
            traced = trace and (n // wl.cycle_multiple) % 4 in (1, 2)
            if traced:
                tracer.install(TARGETS)
            t = time.perf_counter()
            try:
                with tracer.cycle_scope(i) if traced else contextlib.nullcontext():
                    out = wl.cycle(i)
                wall = time.perf_counter() - t
            finally:
                tracer.uninstall()
            spent += wall
            walls[traced].append(wall)
            if not traced:
                rows += out["rows"]
                for k in samples:
                    samples[k].append(out[k])
            tracer.harvest()
            ops.check(wl.check(i))
            n += 1
            if (n % block == 0 and spent >= seconds
                    and all(len(w) >= need for k, w in walls.items() if trace or not k)):
                break
    except Exception as exc:  # noqa: BLE001 - reported in the verdict
        traceback.print_exc()
        ops.check([f"run stopped: {type(exc).__name__}: {exc}"[:500]])
    if ops.checks_failed == 0 and not all(walls[k] for k in (False, True) if trace or not k):
        ops.check(["no timed cycle completed before the deadline"])
    try:
        final = wl.finish()
        ops.check(final.pop("problems"))
    except Exception as exc:  # noqa: BLE001 - reported in the verdict
        traceback.print_exc()
        ops.check([f"end-of-run check stopped: {type(exc).__name__}: {exc}"[:500]])
        final = {"space": (None, None), "dups": (None, None)}
    setup_s = (session_s + median(prepare_s) + timings["seed_s"] + timings["warmup_s"]
               if "warmup_s" in timings else None)
    untraced = walls[False]
    metrics = {
        "setup_s": setup_s,
        "cycle_s": median(untraced),
        "rows_per_s": ratio(rows, sum(untraced)),
        "ops_ok_share": ops.ok_share,
        "peak_rss_mb": peak_rss_mb(),
        "freshness_s": median(samples["freshness_s"]),
        "read_s": median(samples["read_s"]),
        "space_amp": ratio(*final["space"]),
        "near_dup_recall": ratio(*final["dups"]),
    }
    report = {
        "workload": wl.name,
        "inputs": wl.info(),
        "setup": {"session_s": session_s, "prepare_s": prepare_s, **timings},
        "cycles": len(untraced),
        "cycle_walls_s": untraced,
        "cycle_p_tail": _tail(untraced),
        "problems": ops.problems,
    }
    if trace:
        lm = tracer.layer_metrics(len(walls[True]))
        lm["bench.cycles_traced"] = len(walls[True])
        # means, not medians: the cycle order cancels linear drift in means
        lm["bench.cycle_s_untraced"] = mean(untraced)
        lm["bench.cycle_s_traced"] = traced_s = mean(walls[True])
        lm["bench.trace_overhead_s"] = (traced_s - lm["bench.cycle_s_untraced"]
                                        if traced_s is not None and untraced else None)
        lm["bench.untraced_remainder_s"] = (traced_s - lm["bench.span_covered_s"]
                                            if traced_s is not None else None)
        tracer.dump(trace_path, {"workload": wl.name, "seed": seed, "metrics": lm})
        report["trace_file"] = trace_path
        metrics = lm
    return {"metrics": metrics, "ops": ops, "report": report}


def _tail(walls) -> dict:
    p = tail_percentile(len(walls))
    return {"samples": len(walls), "percentile": p,
            "value_s": percentile(walls, p) if p else None}


def result_line(correct: bool, ops: Ops, metrics: dict, units: dict) -> str:
    return json.dumps({
        "correct": correct,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    })
