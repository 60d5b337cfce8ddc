"""Dependency-ordered medallion run with per-task fault isolation —
the engine-side analogue of the reference's Airflow DAG factory
(``airflow/dags/dag_factory.py:89-265``: health checks → bronze →
silver → gold → data-quality, with retries and failure propagation).

The reference delegates ordering/retry/skip semantics to Airflow; this
runner keeps the same task graph inside the engine so a single
``spark-submit`` (or an Airflow PythonOperator, unchanged) executes the
whole pipeline with the same guarantees:

- tasks run in dependency order; a failed task marks every transitive
  dependent ``skipped`` (never silently computed against a half-built
  upstream);
- each task is retried up to ``max_retries`` times (Airflow's
  ``retries`` — transient executor loss at scale is normal, config
  errors are not, so retry exhaustion fails fast);
- every task reports wall seconds + attempts + error, the run report
  Airflow would show as task instance state.

Scale note: the expensive work inside each task is still fully
distributed Spark; this graph logic is O(tasks) driver-side and adds
nothing to the data path.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


@dataclass
class TaskResult:
    name: str
    status: str  # "ok" | "failed" | "skipped"
    seconds: float = 0.0
    attempts: int = 0
    error: str | None = None


@dataclass
class _Task:
    name: str
    fn: object
    deps: list[str] = field(default_factory=list)


def _run_task(t: _Task, max_retries: int) -> TaskResult:
    res = TaskResult(t.name, "failed")
    t0 = time.time()
    for attempt in range(1, max_retries + 2):
        res.attempts = attempt
        try:
            t.fn()
            res.status = "ok"
            res.error = None
            break
        except Exception as exc:  # noqa: BLE001 — fault isolation is the point
            res.error = f"{type(exc).__name__}: {exc}"[:500]
    res.seconds = round(time.time() - t0, 3)
    return res


def _run_graph(
    tasks: list[_Task], max_retries: int, max_workers: int = 4
) -> list[TaskResult]:
    """Dependency-wave execution: tasks whose deps are all green run
    CONCURRENTLY through a small driver thread pool (Airflow's
    parallel task instances; Spark's scheduler interleaves the jobs so
    one task's stage tail is back-filled by its siblings' tasks —
    optimization-guide §2.6). Failure/skip semantics are unchanged: a
    failed task still marks every transitive dependent ``skipped``,
    retries stay per-task, and the report keeps declaration order."""
    from nyc_taxi_data_ingestion_spark.parallel import par_pool_map

    done: dict[str, TaskResult] = {}
    pending = list(tasks)
    while pending:
        waiting = {t.name for t in pending}
        # a dep naming no task at all is ignored, as before
        ready = [
            t for t in pending
            if not any(d in waiting and d not in done for d in t.deps)
        ]
        if not ready:
            # dependency cycle: fall back to declaration order (the old
            # sequential runner's behaviour — unresolved deps ignored)
            ready = [pending[0]]
        for t in ready:
            if any(
                done[d].status != "ok" for d in t.deps if d in done
            ):
                done[t.name] = TaskResult(t.name, "skipped")
        batch = [t for t in ready if t.name not in done]
        pending = [
            t for t in pending if t.name not in done and t not in batch
        ]
        if not batch:
            continue
        if len(batch) == 1:
            done[batch[0].name] = _run_task(batch[0], max_retries)
        else:
            for res in par_pool_map(
                lambda t: _run_task(t, max_retries),
                batch,
                max_workers=min(max_workers, len(batch)),
            ):
                done[res.name] = res
    return [done[t.name] for t in tasks]


def run_medallion(
    spark: SparkSession,
    cfg: dict,
    warehouse: str,
    incremental: bool = False,
    quality: bool = True,
    max_retries: int = 0,
    env_overlay: dict | None = None,
    env: dict[str, str] | None = None,
    metrics_out: dict[str, dict] | None = None,
) -> list[TaskResult]:
    """Compile + materialize a full medallion pipeline as a task graph:
    ``health → compile → silver → gold:<mart>... → quality``.

    Gold marts are independent tasks, each depending on silver, and
    run concurrently like parallel Airflow task instances (see
    :func:`_run_graph`); quality depends on silver only, so a broken
    mart never blocks the DQ report on the data that did land. Silver
    and every mart are written by the same ``compiler`` functions as
    ``run_pipeline``, so both entry points materialize identically.

    Pass ``metrics_out={}`` to harvest the reference's between-step
    logging metrics (row count + per-column null tallies) from the
    write jobs themselves via ``observe`` — zero extra scans, the same
    contract as ``run_pipeline(metrics_out=...)``.
    """
    import os

    from nyc_taxi_data_ingestion_spark.plans.compiler import (
        compile_pipeline,
        materialize_mart,
        materialize_silver,
    )

    state: dict = {}

    def t_health() -> None:
        assert spark.range(1).count() == 1
        src = cfg.get("source", {}).get("path", "")
        if src and "://" not in src and not os.path.exists(src):
            raise FileNotFoundError(src)

    def t_compile() -> None:
        # validate the FULL config (schema errors fail here, together),
        # but compile only the silver plan: each mart's analysis happens
        # in its own task, so one bad mart expression cannot poison its
        # siblings — the same isolation Airflow gives per task instance
        from nyc_taxi_data_ingestion_spark.plans.config import prepare_config

        prepare_config(cfg, env_overlay, env)
        state["plan"] = compile_pipeline(
            spark, {**cfg, "gold": []}, env_overlay, env
        )

    def t_silver() -> None:
        state["silver_path"] = materialize_silver(
            state["plan"], warehouse, metrics_out
        )

    def t_gold(mart: dict):
        def _run() -> None:
            silver_df = spark.read.parquet(state["silver_path"])
            materialize_mart(
                spark, silver_df, mart, warehouse, incremental, metrics_out
            )

        return _run

    def t_quality() -> None:
        from nyc_taxi_data_ingestion_spark.quality.checks import NullCheck
        from nyc_taxi_data_ingestion_spark.quality.orchestrator import (
            ValidationConfig,
            validate_table,
        )

        silver_df = spark.read.parquet(state["silver_path"])
        qcfg = cfg.get("quality", {})
        checks = [
            NullCheck(column=c)
            for c in (cfg.get("silver", {}).get("dedupe", {}).get("keys") or [])
            if c in silver_df.columns
        ]
        report = validate_table(
            silver_df,
            ValidationConfig(checks=checks),
            table_name=f"silver/{state['plan'].name}",
        )
        state["quality_report"] = report
        min_score = qcfg.get("min_quality_score")
        if min_score is not None and report["score"]["score"] < min_score:
            raise RuntimeError(
                f"quality score {report['score']['score']} < {min_score}"
            )

    tasks = [
        _Task("health", t_health),
        _Task("compile", t_compile, deps=["health"]),
        _Task("silver", t_silver, deps=["compile"]),
    ]
    for mart in cfg.get("gold", []):
        tasks.append(
            _Task(f"gold:{mart['name']}", t_gold(mart), deps=["silver"])
        )
    if quality:
        tasks.append(_Task("quality", t_quality, deps=["silver"]))
    return _run_graph(tasks, max_retries)
