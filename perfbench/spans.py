"""Traced-run instrumentation, kept entirely in the benchmark.

A :class:`Tracer` records one span per call into a layer's public
functions. It gets there by wrapping those functions at run time
(module attributes are replaced, the program's source is untouched), and
workload code opens explicit spans around steps whose layer returns a
lazy DataFrame that the step then materializes.

Every span sets a Spark job group of its own on entry (and restores the
caller's on exit). Threads started through ``parallel.par_map`` inherit
it, so the jobs a span causes can be read back from Spark's status store
after the cycle: jobs, tasks, input bytes, shuffle bytes, spill bytes and
executor CPU time. Jobs whose group Spark replaced (Structured Streaming
runs its batches under the query's run id) fall back to the innermost
span open when they were submitted.

Spans stay in memory; :meth:`Tracer.dump` writes them when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass, field

PKG = "nyc_taxi_data_ingestion_spark"
GROUP_KEY = "spark.jobGroup.id"
GROUP_PREFIX = "perfbench-span-"
# the span a workload opens around its reader query set
READER_SPAN = "reader_queries"
ENGINE_KEYS = ("jobs", "tasks", "input_bytes", "shuffle_bytes", "spill_bytes",
               "executor_cpu_s")

# layer name -> the name its inclusive span time is reported under
LAYERS = {
    "plans.compiler": "wall_s",
    "plans.runner": "wall_s",
    "sources.sinks": "write_s",
    "quality.orchestrator": "wall_s",
    "streaming.ingest": "batch_s",
    "sources.snapshots": "wall_s",
    "operators.incremental": "fold_s",
    "llm.curation": "wall_s",
    "llm.dedup": "wall_s",
    "llm.similarity": "wall_s",
}

# layer-specific metrics: (layer, metric, unit)
SPECIFIC = [
    ("plans.runner", "silver_s", "s"),
    ("plans.runner", "gold_s", "s"),
    ("plans.runner", "quality_s", "s"),
    ("plans.runner", "attempts", "count"),
    ("plans.runner", "overlap", "ratio"),
    ("sources.sinks", "files_written", "count"),
    ("sources.sinks", "bytes_written", "bytes"),
    ("streaming.ingest", "microbatches", "count"),
    ("sources.snapshots", "commit_s", "s"),
    ("sources.snapshots", "read_plan_s", "s"),
    ("sources.snapshots", "files_kept_ratio", "ratio"),
    ("sources.snapshots", "delete_debt_rows", "count"),
    ("sources.snapshots", "compact_s", "s"),
    ("sources.snapshots", "bytes_rewritten", "bytes"),
    ("sources.snapshots", "expire_s", "s"),
    ("sources.snapshots", "files_expired", "count"),
    ("sources.snapshots", "manifest_bytes", "bytes"),
    ("operators.incremental", "state_rows", "count"),
    ("llm.curation", "rows_in", "count"),
    ("llm.curation", "rows_out", "count"),
    ("llm.dedup", "candidate_pairs", "count"),
    ("llm.dedup", "verified_pairs", "count"),
    ("llm.dedup", "verify_yield", "ratio"),
    ("llm.similarity", "removed", "count"),
]

# run-level metrics of the traced run itself
BENCH = [
    ("bench.cycles_traced", "count"),
    ("bench.cycle_s_untraced", "s"),
    ("bench.cycle_s_traced", "s"),
    ("bench.trace_overhead_s", "s"),
    ("bench.span_covered_s", "s"),
    ("bench.untraced_remainder_s", "s"),
]

_UNITS = {"jobs": "count", "tasks": "count", "input_bytes": "bytes",
          "shuffle_bytes": "bytes", "spill_bytes": "bytes",
          "executor_cpu_s": "s", "self_s": "s"}


def layer_metric_units() -> dict[str, str]:
    """Every per-layer metric name the traced run reports, with its unit."""
    out = {}
    for layer, wall in LAYERS.items():
        out[f"{layer}.{wall}"] = "s"
        out[f"{layer}.self_s"] = "s"
        for k in ENGINE_KEYS:
            out[f"{layer}.{k}"] = _UNITS[k]
    for layer, name, unit in SPECIFIC:
        out[f"{layer}.{name}"] = unit
    for name, unit in BENCH:
        out[name] = unit
    return out


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    cycle: int
    start: float
    end: float = 0.0
    engine: dict = field(default_factory=lambda: dict.fromkeys(ENGINE_KEYS, 0))

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.id}"


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def dir_files(path: str) -> dict[str, int]:
    """{relative path: size} of every regular file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


def _data_files(path: str) -> dict[str, int]:
    return {k: v for k, v in dir_files(path).items()
            if os.path.basename(k).startswith("part-")}


class Tracer:
    """Span recorder. ``enabled=False`` makes every method a no-op, so
    the untraced run pays nothing."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.counters: dict[tuple, float] = {}
        self.cycle = -1
        self.cycle_bounds: dict[int, tuple[float, float]] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple] = []
        self._next_job = 0
        self._seen_stages: set[int] = set()
        self.unattributed_jobs = 0

    @property
    def active(self) -> bool:
        """True inside a traced cycle."""
        return self.enabled and self.cycle >= 0

    # -- spans --------------------------------------------------------------

    def add(self, layer: str, metric: str, value: float) -> None:
        """Add to a layer counter; only counts inside a traced cycle."""
        if self.active:
            with self._lock:
                key = (layer, metric)
                self.counters[key] = self.counters.get(key, 0) + value

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.active:
            yield None
            return
        prev = self.sc.getLocalProperty(GROUP_KEY)
        stack = self._stack()
        if stack:
            parent = stack[-1].id
        elif prev and prev.startswith(GROUP_PREFIX):
            parent = int(prev[len(GROUP_PREFIX):])  # inherited by a pool thread
        else:
            parent = getattr(self._span_at(time.time()), "id", None)
        sp = Span(next(self._ids), layer, name, parent, self.cycle, time.time())
        with self._lock:
            self.spans.append(sp)
        stack.append(sp)
        self.sc.setLocalProperty(GROUP_KEY, sp.group)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev)

    @contextlib.contextmanager
    def cycle_scope(self, i: int):
        """Marks the wall interval of timed cycle ``i``."""
        self.cycle = i
        t0 = time.time()
        try:
            yield
        finally:
            self.cycle_bounds[i] = (t0, time.time())
            self.cycle = -1

    # -- wrapping layer functions -------------------------------------------

    def install(self, targets) -> None:
        """Wrap each ``(module, function, layer, hook)``; ``hook`` is
        None or ``(pre, post)`` with ``pre(args, kwargs) -> state`` and
        ``post(tracer, state, args, kwargs, result)``. Every alias of the
        function inside the package is rebound to the wrapper."""
        if not self.enabled:
            return
        import sys

        for mod_name, fn_name, layer, hook in targets:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            orig = getattr(mod, fn_name)
            wrapper = self._wrap(orig, layer, fn_name, hook)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(PKG) and getattr(m, fn_name, None) is orig:
                    self._patched.append((m, fn_name, orig))
                    setattr(m, fn_name, wrapper)

    def uninstall(self) -> None:
        for m, name, orig in reversed(self._patched):
            setattr(m, name, orig)
        self._patched.clear()

    def _wrap(self, fn, layer, name, hook):
        pre, post = hook or (None, None)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            live = self.active
            state = pre(args, kwargs) if pre and live else None
            with self.span(layer, name):
                result = fn(*args, **kwargs)
            if post and live:
                post(self, state, args, kwargs, result)
            return result

        return wrapper

    # -- status-store harvest -----------------------------------------------

    def harvest(self) -> None:
        """Attribute every job submitted since the last harvest to the
        span that caused it. Call between cycles, outside timing."""
        if not self.enabled:
            return
        from py4j.protocol import Py4JJavaError

        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)  # status store caught up
        store = jsc.statusStore()
        by_group = {s.group: s for s in self.spans}
        jobs = []
        while True:
            try:
                jd = store.job(self._next_job)
            except Py4JJavaError:  # no such job: all harvested
                break
            self._next_job += 1
            jobs.append(jd)
        for jd in jobs:
            grp = jd.jobGroup()
            sp = by_group.get(grp.get()) if grp.isDefined() else None
            sub = jd.submissionTime()
            t = sub.get().getTime() / 1000.0 if sub.isDefined() else None
            if sp is None and t is not None:
                sp = self._span_at(t)
            if sp is None:
                # a traced cycle's job outside every span: benchmark code
                if t is not None and any(a <= t <= b for a, b in self.cycle_bounds.values()):
                    self.unattributed_jobs += 1
                continue
            sp.engine["jobs"] += 1
            ids = jd.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage that never ran
                    continue
                sp.engine["tasks"] += st.numCompleteTasks()
                sp.engine["input_bytes"] += st.inputBytes()
                sp.engine["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                sp.engine["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                sp.engine["executor_cpu_s"] += st.executorCpuTime() / 1e9

    def _span_at(self, t: float) -> Span | None:
        """The innermost (latest-started) span open at time ``t``."""
        with self._lock:
            live = [s for s in self.spans if s.start <= t <= (s.end or float("inf"))]
        return max(live, key=lambda s: s.start) if live else None

    # -- reporting ----------------------------------------------------------

    def layer_metrics(self, n_cycles: int) -> dict[str, float]:
        """Per-layer metrics as means per traced cycle (ratios as ratios
        of totals). Self time is span time minus the union of its child
        spans; a layer's inclusive time counts only spans with no
        ancestor of the same layer, so nested calls are not counted
        twice."""
        by_id = {s.id: s for s in self.spans}
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)

        def outermost(s: Span) -> bool:
            p = by_id.get(s.parent)
            while p is not None:
                if p.layer == s.layer:
                    return False
                p = by_id.get(p.parent)
            return True

        n = max(n_cycles, 1)
        out = dict.fromkeys(layer_metric_units(), 0.0)
        for s in self.spans:
            dur = s.end - s.start
            kids = [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, [])]
            out[f"{s.layer}.self_s"] += (dur - union_length(kids)) / n
            if outermost(s):
                out[f"{s.layer}.{LAYERS[s.layer]}"] += dur / n
            for k in ENGINE_KEYS:
                out[f"{s.layer}.{k}"] += s.engine[k] / n

        def fn_time(names: set) -> float:
            return sum(s.end - s.start for s in self.spans if s.name in names
                       and getattr(by_id.get(s.parent), "name", None) not in names) / n

        out["sources.snapshots.commit_s"] = fn_time({"snapshot_upsert_eq"})
        # only the readers' own calls: compaction and upserts read the
        # head through the same functions
        out["sources.snapshots.read_plan_s"] = sum(
            s.end - s.start for s in self.spans
            if s.name in ("scan_snapshot", "read_snapshot")
            and getattr(by_id.get(s.parent), "name", None) == READER_SPAN) / n
        out["sources.snapshots.compact_s"] = fn_time({"snapshot_compact"})
        out["sources.snapshots.expire_s"] = fn_time({"expire_snapshots"})
        c = self.counters
        for (layer, metric), v in c.items():
            if f"{layer}.{metric}" in out and metric not in ("overlap", "files_kept_ratio"):
                out[f"{layer}.{metric}"] = v / n
        run_wall = fn_time({"run_medallion"}) * n
        if run_wall:
            out["plans.runner.overlap"] = c.get(("plans.runner", "task_s"), 0) / run_wall
        total_files = c.get(("sources.snapshots", "total_files"), 0)
        if total_files:
            out["sources.snapshots.files_kept_ratio"] = (
                c.get(("sources.snapshots", "kept_files"), 0) / total_files)
        cand = c.get(("llm.dedup", "candidate_pairs"), 0)
        if cand:
            out["llm.dedup.verify_yield"] = c.get(("llm.dedup", "verified_pairs"), 0) / cand
        covered = 0.0
        for i, (t0, t1) in self.cycle_bounds.items():
            covered += union_length(
                (max(s.start, t0), min(s.end, t1)) for s in self.spans
                if s.cycle == i and s.parent is None)
        out["bench.span_covered_s"] = covered / n
        return out

    def dump(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({
                "meta": meta,
                "unattributed_jobs": self.unattributed_jobs,
                "cycles": {str(i): b for i, b in self.cycle_bounds.items()},
                "spans": [{
                    "id": s.id, "parent": s.parent, "layer": s.layer,
                    "name": s.name, "cycle": s.cycle, "start": s.start,
                    "end": s.end, **s.engine,
                } for s in self.spans],
                "counters": {f"{k[0]}.{k[1]}": v for k, v in self.counters.items()},
            }, fh, indent=1)


# -- the wrapped functions and their counters -------------------------------


def _arg(args, kwargs, i, name):
    return args[i] if len(args) > i else kwargs.get(name)


def _runner_post(tr, _state, _args, _kwargs, results):
    for r in results:
        key = r.name.split(":")[0]
        if key in ("silver", "gold", "quality"):
            tr.add("plans.runner", f"{key}_s", r.seconds)
        tr.add("plans.runner", "attempts", r.attempts)
        tr.add("plans.runner", "task_s", r.seconds)


def _sink_post(path_index: int, path_name: str):
    def post(tr, _state, args, kwargs, _result):
        files = _data_files(_arg(args, kwargs, path_index, path_name))
        tr.add("sources.sinks", "files_written", len(files))
        tr.add("sources.sinks", "bytes_written", sum(files.values()))
    return post


def _curation_post(tr, _state, _args, _kwargs, metrics):
    tr.add("llm.curation", "rows_in", int(metrics.get("rows_in", 0)))
    tr.add("llm.curation", "rows_out", int(metrics.get("row_count", 0)))


def _scan_post(tr, _state, args, kwargs, _df):
    from nyc_taxi_data_ingestion_spark.sources import snapshots

    path = _arg(args, kwargs, 1, "path")
    stats = snapshots.scan_prune_stats(
        path, _arg(args, kwargs, 2, "column"), _arg(args, kwargs, 3, "lower"),
        _arg(args, kwargs, 4, "upper"), version=kwargs.get("version"))
    tr.add("sources.snapshots", "kept_files", stats["kept_files"])
    tr.add("sources.snapshots", "total_files", stats["total_files"])
    if kwargs.get("version") is None:
        debt = snapshots.delete_debt(path)
        tr.add("sources.snapshots", "delete_debt_rows",
               debt["deleted_rows"] + debt["eq_deleted_keys"])


def _files_pre(path_index: int, path_name: str):
    def pre(args, kwargs):
        path = _arg(args, kwargs, path_index, path_name)
        return path, dir_files(path)
    return pre


def _compact_post(tr, state, _args, _kwargs, _result):
    path, before = state
    after = dir_files(path)
    tr.add("sources.snapshots", "bytes_rewritten",
           sum(v for k, v in after.items() if k not in before and k.endswith(".parquet")))


def _expire_post(tr, state, _args, _kwargs, _result):
    path, before = state
    after = dir_files(path)
    tr.add("sources.snapshots", "files_expired", len(set(before) - set(after)))


def _microbatch_post(tr, _state, _args, _kwargs, _result):
    tr.add("streaming.ingest", "microbatches", 1)


def _lsh_post(tr, _state, _args, _kwargs, pairs):
    # cached so the verify step that follows reads it instead of
    # recomputing; jaccard_verify unpersists it when done
    tr.add("llm.dedup", "candidate_pairs", pairs.persist().count())


def _verify_post(tr, _state, _args, _kwargs, edges):
    tr.add("llm.dedup", "verified_pairs", edges.count())


TARGETS = [
    ("plans.runner", "run_medallion", "plans.runner", (None, _runner_post)),
    ("plans.compiler", "compile_pipeline", "plans.compiler", None),
    ("plans.compiler", "build_gold_frame", "plans.compiler", None),
    ("plans.compiler", "run_curation", "plans.compiler", (None, _curation_post)),
    ("sources.sinks", "write_partitioned", "sources.sinks", (None, _sink_post(1, "path"))),
    ("sources.sinks", "overwrite_partitions", "sources.sinks", (None, _sink_post(2, "path"))),
    ("quality.observe", "write_observed", "sources.sinks", (None, _sink_post(1, "path"))),
    ("quality.orchestrator", "validate_table", "quality.orchestrator", None),
    ("streaming.ingest", "snapshot_append_sink", "streaming.ingest", None),
    ("streaming.ingest", "commit_stream_batch", "streaming.ingest", (None, _microbatch_post)),
    ("sources.snapshots", "snapshot_upsert_eq", "sources.snapshots", None),
    ("sources.snapshots", "scan_snapshot", "sources.snapshots", (None, _scan_post)),
    ("sources.snapshots", "read_snapshot", "sources.snapshots", None),
    ("sources.snapshots", "snapshot_compact", "sources.snapshots",
     (_files_pre(1, "path"), _compact_post)),
    ("sources.snapshots", "expire_snapshots", "sources.snapshots",
     (_files_pre(0, "path"), _expire_post)),
    ("operators.incremental", "partial_agg_state", "operators.incremental", None),
    ("operators.incremental", "merge_agg_states", "operators.incremental", None),
    ("operators.incremental", "finalize_agg_state", "operators.incremental", None),
    ("llm.curation", "gopher_keep", "llm.curation", None),
    ("llm.curation", "redact_pii", "llm.curation", None),
    ("llm.curation", "line_dedup", "llm.curation", None),
    ("llm.curation", "stratified_sample", "llm.curation", None),
    ("llm.curation", "token_shards", "llm.curation", None),
    ("llm.dedup", "exact_dedup", "llm.dedup", None),
    ("llm.dedup", "minhash_dedup", "llm.dedup", None),
    ("llm.dedup", "lsh_candidate_pairs", "llm.dedup", (None, _lsh_post)),
    ("llm.dedup", "jaccard_verify", "llm.dedup", (None, _verify_post)),
    ("llm.similarity", "semantic_dedup", "llm.similarity", None),
]
