"""Config → DataFrame-plan compiler + materialization runner.

Replaces the reference's three interpreted jobs (bronze ingestor →
silver transformer → gold builder, each a separate spark-submit with
eager ``.count()`` logging between steps — SURVEY §3) with one compiler
that builds a lazy Catalyst plan per layer. Nothing executes until a
sink materializes; Catalyst sees the whole chain, so filters placed in
the silver spec push down into the bronze scan and gold sees pruned
columns.

Materialization (SURVEY §2.11):
- M2 full refresh → partitioned overwrite.
- M1 merge-incremental + lookback → dynamic partition-overwrite: only
  the partitions the lookback window touches are recomputed and
  replaced (the Parquet-native MERGE equivalent; equivalence with full
  recompute is asserted in tests).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_taxi_data_ingestion_spark.operators.transform import apply_transformations
from nyc_taxi_data_ingestion_spark.plans.config import (
    apply_performance_confs,
    prepare_config,
)
from nyc_taxi_data_ingestion_spark.sources.sinks import (
    overwrite_partitions,
    write_partitioned,
)


@dataclass
class PipelinePlan:
    """Compiled pipeline: lazy DataFrames per layer, ready to run."""

    name: str
    bronze: DataFrame
    silver: DataFrame
    gold: dict[str, DataFrame]
    config: dict = field(repr=False, default_factory=dict)
    applied_confs: dict[str, str] = field(default_factory=dict)


def _read_source(spark: SparkSession, source: dict) -> DataFrame:
    fmt = source.get("format", "parquet")
    if source.get("table"):
        return spark.table(source["table"])
    path = source["path"]
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt == "csv":
        reader = spark.read.option("header", "true")
        if source.get("schema"):
            reader = reader.schema(source["schema"])
        else:
            reader = reader.option("inferSchema", "true")
        return reader.csv(path)
    raise ValueError(f"unsupported source format for compile: {fmt!r}")


def read_stream_source(spark: SparkSession, source: dict) -> DataFrame:
    """Streaming dispatch for the config surface (SURVEY §2.12).

    The reference's config schema enumerates ``kafka`` as a source type
    (``lakehouse_config_schema_v1.json:53``) but its ingestor raises
    NotImplementedError for every non-http type
    (``ingest_to_iceberg.py:305-308``). Here ``format: kafka`` compiles
    to a real streaming plan:

    - with ``bootstrap_servers``: the genuine Kafka connector (needs
      the spark-sql-kafka package on the cluster classpath — standard
      on any streaming deployment);
    - with ``local_substitute``: a rate- or file-backed stream reshaped
      to the Kafka wire schema (key/value/topic/partition/offset/
      timestamp/timestampType), so downstream operators see identical
      columns in local tests and in production. Substitute offsets are
      synthetic (rate: the rate counter; files: a payload hash) —
      unique per record but not a log position.

    Plain file formats return a schema-pinned file stream.
    """
    fmt = source.get("format", "parquet")
    if fmt == "rate":
        reader = spark.readStream.format("rate")
        for k, v in (source.get("options") or {}).items():
            reader = reader.option(k, str(v))
        return reader.load()
    if fmt == "kafka":
        sub = source.get("local_substitute")
        if not sub:
            reader = (
                spark.readStream.format("kafka")
                .option("kafka.bootstrap.servers", source["bootstrap_servers"])
                .option("subscribe", source["topic"])
                .option(
                    "startingOffsets", source.get("starting_offsets", "earliest")
                )
            )
            for k, v in (source.get("options") or {}).items():
                reader = reader.option(k, str(v))
            return reader.load()
        topic = source.get("topic", "local-substitute")
        if sub.get("format", "rate") == "rate":
            raw = (
                spark.readStream.format("rate")
                .option("rowsPerSecond", str(sub.get("rows_per_second", 100)))
                .load()
            )
            value = F.to_json(F.struct("timestamp", "value"))
            key = F.col("value").cast("string")
            ts = F.col("timestamp")
            offset = F.col("value")
        else:
            schema = spark.read.format(sub.get("format", "parquet")).load(
                sub["path"]
            ).schema
            raw = (
                spark.readStream.schema(schema)
                .format(sub.get("format", "parquet"))
                .load(sub["path"])
            )
            value = F.to_json(F.struct(*raw.columns))
            key = (
                F.col(sub["key_column"]).cast("string")
                if sub.get("key_column")
                else F.lit(None).cast("string")
            )
            ts = (
                F.col(sub["timestamp_column"])
                if sub.get("timestamp_column")
                else F.current_timestamp()
            )
            offset = F.xxhash64(value)
        return raw.select(
            key.cast("binary").alias("key"),
            value.cast("binary").alias("value"),
            F.lit(topic).alias("topic"),
            F.lit(0).alias("partition"),
            offset.alias("offset"),
            ts.cast("timestamp").alias("timestamp"),
            F.lit(0).alias("timestampType"),
        )
    path = source["path"]
    schema = source.get("schema") or spark.read.format(fmt).options(
        **{k: str(v) for k, v in (source.get("options") or {}).items()}
    ).load(path).schema
    reader = spark.readStream.schema(schema)
    for k, v in (source.get("options") or {}).items():
        reader = reader.option(k, str(v))
    return reader.format(fmt).load(path)


def parse_kafka_json(df: DataFrame, schema) -> DataFrame:
    """Decode a Kafka wire-schema stream's JSON ``value`` payload into
    typed columns (the standard first step after ``format: kafka``),
    keeping the event timestamp for watermarking."""
    return df.select(
        F.from_json(F.col("value").cast("string"), schema).alias("__p"),
        F.col("timestamp").alias("_kafka_timestamp"),
    ).select("__p.*", "_kafka_timestamp")


def build_gold_frame(silver: DataFrame, mart: dict) -> DataFrame:
    """One gold mart: groupBy(grain).agg(measures), each measure an
    arbitrary SQL aggregate expression (parity with the CTAS bodies in
    ``build_gold_layer.py:62-184``, minus the second engine).

    ``grouping: rollup|cube`` switches the grain to subtotal grouping
    sets (one Expand pass, not k scans); ``grouping_id_as`` optionally
    materializes the grouping level so consumers can tell subtotal
    NULLs from data NULLs — without it, rollup/cube marts are
    ambiguous for any nullable grain column."""
    keys = [
        F.expr(k["expr"]).alias(k["name"]) if isinstance(k, dict) else F.col(k)
        for k in mart["group_by"]
    ]
    aggs = [F.expr(m["expr"]).alias(m["name"]) for m in mart["measures"]]
    mode = mart.get("grouping", "groupby")
    if mode == "rollup":
        grouped = silver.rollup(*keys)
    elif mode == "cube":
        grouped = silver.cube(*keys)
    else:
        grouped = silver.groupBy(*keys)
    if mode != "groupby" and mart.get("grouping_id_as"):
        aggs = [
            F.grouping_id().cast("int").alias(mart["grouping_id_as"])
        ] + aggs
    out = grouped.agg(*aggs)
    if mart.get("having"):
        out = out.filter(mart["having"])
    if mart.get("order_by"):
        out = out.orderBy(*[F.expr(e) for e in mart["order_by"]])
    return out


def compile_stream_pipeline(
    spark: SparkSession,
    cfg: dict,
    env_overlay: dict | None = None,
    env: dict[str, str] | None = None,
) -> dict:
    """Compile the SAME pipeline config into a streaming plan: one
    declarative spec, two execution modes (the lakehouse-architecture
    ideal the reference gestures at with its dead ``kafka`` enum).

    ``streaming.watermark`` bounds state; the Silver chain reuses the
    batch transform spec verbatim (stateless plan builders), with
    ``dedupe_within_watermark: true`` swapping W1's row_number for the
    bounded-state streaming dedupe. Gold marts gain a ``window``
    duration and compile to watermarked tumbling aggregates — grouping
    keys must be plain columns, measures the same SQL aggregate
    expressions as batch. Kafka sources declare ``value_schema`` (DDL)
    for the wire-payload decode.

    Returns {"bronze": stream, "silver": stream, "gold": {name: stream}}
    — lazy streaming DataFrames; the caller picks triggers and sinks
    (run_available_now for deterministic tests, writeStream/
    stream_upsert_sink in production).
    """
    from nyc_taxi_data_ingestion_spark.streaming import (
        silver_stream,
        tumbling_aggregate,
    )

    cfg = prepare_config(cfg, env_overlay, env)
    st = cfg.get("streaming") or {}
    wm = st.get("watermark") or {}
    wm_col, wm_delay = wm.get("column"), wm.get("delay", "1 hour")

    raw = read_stream_source(spark, cfg["source"])
    if cfg["source"].get("format") == "kafka":
        if not st.get("value_schema"):
            raise ValueError("kafka streaming pipeline requires streaming.value_schema")
        raw = parse_kafka_json(raw, st["value_schema"])

    s = cfg.get("silver", {})
    dedupe = s.get("dedupe", {})
    silver = silver_stream(
        raw,
        renames=s.get("renames"),
        casts=s.get("casts"),
        derived=s.get("derived"),
        filters=s.get("filters"),
        watermark=(wm_col, wm_delay) if wm_col else None,
        dedupe_keys=(
            dedupe.get("keys") if st.get("dedupe_within_watermark") else None
        ),
    )

    gold: dict[str, DataFrame] = {}
    for mart in cfg.get("gold", []):
        win = mart.get("window")
        if not win:
            continue  # batch-only mart; streaming compiles windowed marts
        if not wm_col:
            raise ValueError(f"mart {mart['name']}: windowed gold needs a watermark")
        keys = [k if isinstance(k, str) else k["name"] for k in mart["group_by"]]
        aggs = [F.expr(m["expr"]).alias(m["name"]) for m in mart["measures"]]
        gold[mart["name"]] = tumbling_aggregate(
            # silver already carries the watermark; None avoids the
            # disallowed mid-plan redefinition
            silver, wm_col, win["duration"], keys, aggs, watermark_delay=None
        )
    return {"bronze": raw, "silver": silver, "gold": gold}


def run_stream_pipeline(
    spark: SparkSession,
    cfg: dict,
    warehouse: str,
    timeout_sec: int = 300,
) -> dict[str, str]:
    """Drain-and-materialize the streaming compilation of a pipeline:
    silver appends to parquet, each windowed gold mart MERGEs into its
    table keyed by (window_start, *grain) — update-mode re-emissions of
    a still-open window overwrite the previous row, so the mart always
    holds the latest state per window.

    Checkpoints live under ``warehouse/_checkpoints`` and are KEPT:
    calling this again after new source files arrive resumes from the
    recorded offsets and processes only the new data — incremental
    streaming materialization with exactly-once table state (verified
    by the resume test against a full batch recompute). AvailableNow
    drains everything pending then stops; a production deployment swaps
    the trigger and leaves the queries running.
    """
    from nyc_taxi_data_ingestion_spark.streaming import stream_upsert_sink

    plans = compile_stream_pipeline(spark, cfg)
    out: dict[str, str] = {}
    name = cfg["pipeline"]["name"]

    silver_path = os.path.join(warehouse, "silver", name)
    ck_silver = os.path.join(warehouse, "_checkpoints", "silver")
    q = (
        plans["silver"].writeStream.format("parquet")
        .option("path", silver_path)
        .option("checkpointLocation", ck_silver)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(timeout_sec):
            raise TimeoutError("silver stream did not drain")
    finally:
        if q.isActive:
            q.stop()
    out[f"silver/{name}"] = silver_path

    for mart_name, gold_df in plans["gold"].items():
        mart = next(m for m in cfg["gold"] if m["name"] == mart_name)
        keys = ["window_start"] + [
            k if isinstance(k, str) else k["name"] for k in mart["group_by"]
        ]
        path = os.path.join(warehouse, "gold", mart_name)
        stream_upsert_sink(
            gold_df.withColumn("_updated_at", F.current_timestamp()),
            path,
            keys=keys,
            order_col="_updated_at",
            query_name=f"gold_{mart_name}",
            checkpoint_dir=os.path.join(warehouse, "_checkpoints", mart_name),
            timeout_sec=timeout_sec,
            output_mode="update",
        )
        out[f"gold/{mart_name}"] = path
    return out


def compile_pipeline(
    spark: SparkSession,
    cfg: dict,
    env_overlay: dict | None = None,
    env: dict[str, str] | None = None,
) -> PipelinePlan:
    """Validate + compile a pipeline config into lazy DataFrames."""
    cfg = prepare_config(cfg, env_overlay, env)
    applied = apply_performance_confs(spark, cfg.get("performance"))

    bronze = _read_source(spark, cfg["source"])

    s = cfg.get("silver", {})
    dedupe = s.get("dedupe", {})
    silver = apply_transformations(
        bronze,
        renames=s.get("renames"),
        casts=s.get("casts"),
        derived=s.get("derived"),
        filters=s.get("filters"),
        dedupe_keys=dedupe.get("keys"),
        dedupe_order_by=dedupe.get("order_by"),
        dedupe_tie_breakers=dedupe.get("tie_breakers"),
    )

    gold = {m["name"]: build_gold_frame(silver, m) for m in cfg.get("gold", [])}
    return PipelinePlan(
        name=cfg["pipeline"]["name"],
        bronze=bronze,
        silver=silver,
        gold=gold,
        config=cfg,
        applied_confs=applied,
    )


# -- materialization ----------------------------------------------------------


def _lookback_filter(
    silver: DataFrame, lookback: dict, partition_by: list[str]
) -> DataFrame:
    """Rows belonging to every partition the lookback window touches.

    The window is `days` back from max(column) — the reference's
    late-data window (``daily_trip_stats.sql:46-52``), computed on the
    data itself so reruns are deterministic. Because M1 materializes by
    partition-overwrite (not row-level MERGE), the slice is widened
    from "rows ≥ bound" to "ALL rows of any partition containing a row
    ≥ bound" — a partition must be recomputed whole or not at all."""
    col, days = lookback["column"], int(lookback["days"])
    bound = silver.agg(
        F.date_sub(F.max(F.col(col)).cast("date"), days).alias("b")
    ).first()["b"]
    if bound is None:  # empty table → nothing to reprocess
        return silver.limit(0)
    slice_df = silver.filter(F.col(col) >= F.lit(bound))
    if not partition_by:
        # no partitioning → overwrite is full-table; slice alone would
        # drop pre-window history, so recompute everything
        return silver
    touched = slice_df.select(*partition_by).distinct()
    return silver.join(F.broadcast(touched), partition_by, "left_semi")


def run_pipeline(
    spark: SparkSession,
    plan: PipelinePlan,
    warehouse: str,
    incremental: bool = False,
    metrics_out: dict[str, dict] | None = None,
) -> dict[str, str]:
    """Materialize silver + all gold marts under ``warehouse``.

    Full refresh (M2) overwrites; ``incremental=True`` runs marts
    declared ``materialization: incremental`` as M1 partition-overwrite
    of the lookback slice only. Returns {layer/table: path}.

    Pass ``metrics_out={}`` to harvest the reference's between-step
    logging metrics (row count + per-column null tallies) from the
    write jobs themselves via ``observe`` — zero extra scans, filled
    as {layer/table: {metric: value}} (quality/observe.py; replaces
    the reference's ~10 eager ``.count()`` jobs per run)."""
    silver_path = materialize_silver(plan, warehouse, metrics_out)
    out = {f"silver/{plan.name}": silver_path}
    # gold reads the materialized silver so each mart scans parquet once
    # rather than recomputing the transform chain per mart
    silver_df = spark.read.parquet(silver_path)
    for mart in plan.config.get("gold", []):
        out[f"gold/{mart['name']}"] = materialize_mart(
            spark, silver_df, mart, warehouse, incremental, metrics_out
        )
    return out


def _write_layer(
    df: DataFrame,
    path: str,
    parts: list[str],
    metrics_out: dict[str, dict] | None,
    key: str,
) -> None:
    """Full-refresh write of one layer table; with ``metrics_out`` the
    write job itself harvests the observed metrics into ``key``."""
    if metrics_out is None:
        write_partitioned(df, path, parts)
    else:
        from nyc_taxi_data_ingestion_spark.quality.observe import write_observed

        metrics_out[key] = write_observed(df, path, partition_by=parts)


def materialize_silver(
    plan: PipelinePlan,
    warehouse: str,
    metrics_out: dict[str, dict] | None = None,
) -> str:
    """Write the plan's silver table under ``warehouse`` (partitioned
    overwrite); returns its path."""
    path = os.path.join(warehouse, "silver", plan.name)
    parts = plan.config.get("silver", {}).get("partition_by") or []
    _write_layer(plan.silver, path, parts, metrics_out, f"silver/{plan.name}")
    return path


def materialize_mart(
    spark: SparkSession,
    silver_df: DataFrame,
    mart: dict,
    warehouse: str,
    incremental: bool = False,
    metrics_out: dict[str, dict] | None = None,
) -> str:
    """Materialize ONE gold mart from the materialized silver frame —
    the gold write path shared by :func:`run_pipeline` and
    ``runner.run_medallion``. Full refresh overwrites; with
    ``incremental=True`` a mart declared ``materialization:
    incremental`` partition-overwrites its lookback slice only (M1).
    ``metrics_out`` receives the write's observed metrics under
    ``gold/<name>`` either way. Returns the mart's path."""
    name = mart["name"]
    path = os.path.join(warehouse, "gold", name)
    parts = mart.get("partition_by") or []
    if not (incremental and mart.get("materialization") == "incremental"):
        _write_layer(
            build_gold_frame(silver_df, mart), path, parts, metrics_out,
            f"gold/{name}",
        )
        return path
    frame = build_gold_frame(
        _lookback_filter(silver_df, mart["lookback"], parts), mart
    )
    if metrics_out is None:
        overwrite_partitions(spark, frame, path, parts)
        return path
    # the partition-scoped write is still a write job — observed
    # metrics ride it like every other layer's
    from nyc_taxi_data_ingestion_spark.plans.audit import audit_plan
    from nyc_taxi_data_ingestion_spark.quality.observe import (
        attach,
        standard_metrics,
    )

    findings = [
        {"severity": f.severity, "code": f.code} for f in audit_plan(frame)
    ]
    frame, obs = attach(frame, standard_metrics(frame))
    overwrite_partitions(spark, frame, path, parts)
    metrics_out[f"gold/{name}"] = {**obs.get, "plan_findings": findings}
    return path


# -- curation pipeline compilation -------------------------------------------


def compile_curation(spark: SparkSession, cfg: dict) -> DataFrame:
    """Compile a config-declared CURATION pipeline into one lazy plan —
    the reference's config-first philosophy (YAML → jobs) applied to
    the corpus-curation chain. Stage vocabulary mirrors `llm/curation`:

        curation:
          id_column: doc_id
          text_column: text
          stages:
            - {type: gopher_filter, options: {min_words: 50}}
            - {type: pii_redact}
            - {type: quality_classifier, options: {dim: 1024}}
            - {type: exact_dedup}
            - {type: line_dedup, options: {min_docs: 5, carry_cols: [lang]}}
            - {type: stratified_sample,
               options: {rates: {en: 0.5}, default_rate: 0.3}}
            - {type: token_shards, options: {budget_tokens: 256}}

    Stages compose lazily — narrow-map stages (gopher, PII, classifier
    scoring) fuse into the scan exactly as in the hand-built
    ``pipeline_curation``. ``line_dedup`` rewrites the text column to
    its ``clean_text`` output; later stages read the rewritten column
    automatically. Declaration order is execution order — the config
    author owns the (semantically meaningful) stage ordering.
    """
    c = cfg.get("curation", {})
    df = _read_source(spark, cfg["source"])
    return _apply_curation_stages(spark, df, c)


def _apply_curation_stages(spark: SparkSession, df: DataFrame, c: dict) -> DataFrame:
    from nyc_taxi_data_ingestion_spark.llm import curation as cu
    from nyc_taxi_data_ingestion_spark.llm import dedup as dd

    id_col = c.get("id_column", "doc_id")
    text_col = c.get("text_column", "text")

    for stage in c.get("stages", []):
        kind = stage["type"]
        o = dict(stage.get("options") or {})
        if kind == "gopher_filter":
            df = df.filter(cu.gopher_keep(text_col, **o))
        elif kind == "pii_redact":
            df = df.withColumn(text_col, cu.redact_pii(F.col(text_col)))
        elif kind == "quality_classifier":
            keep_above = float(o.pop("keep_above", 0.0))
            scores = cu.quality_classifier(
                df.select(id_col, text_col), id_col=id_col, text_col=text_col, **o
            )
            df = df.join(
                scores.filter(F.col("score") > keep_above).select(id_col),
                id_col,
                "left_semi",
            )
        elif kind == "exact_dedup":
            df = dd.exact_dedup(df, text_col=text_col, id_col=id_col)
        elif kind == "line_dedup":
            df = cu.line_dedup(df, id_col=id_col, text_col=text_col, **o)
            df = df.withColumnRenamed("clean_text", text_col)
            # line_dedup carries only (id, carry_cols, text, n_removed)
        elif kind == "stratified_sample":
            rates = {str(k): float(v) for k, v in (o.get("rates") or {}).items()}
            df = cu.stratified_sample(
                df,
                rates=rates,
                default_rate=float(o.get("default_rate", 1.0)),
                stratum_col=o.get("stratum_col", "lang"),
                id_col=id_col,
            )
        elif kind == "token_shards":
            df = cu.token_shards(
                df,
                budget_tokens=int(o["budget_tokens"]),
                source_col=o.get("source_col", "source"),
                id_col=id_col,
                text_col=text_col,
            )
        else:
            raise ValueError(f"unknown curation stage type: {kind}")
    return df


def run_curation(
    spark: SparkSession,
    cfg: dict,
    out_path: str,
    tracker=None,
) -> dict[str, object]:
    """Materialize a config-declared curation pipeline (one lazy plan →
    one partitioned write) with the full operational envelope the
    medallion side gets: row-count/null metrics observed from the write
    job itself (zero extra scans — quality/observe.py) and a lineage
    event recording source → output with the stage list as the
    transform spec (plans/lineage.py, L1).

    Returns the observed metric dict. Input row count deliberately
    rides a second observation on the SOURCE scan of the same job —
    still zero extra actions."""
    from nyc_taxi_data_ingestion_spark.quality.observe import (
        attach,
        standard_metrics,
        write_observed,
    )

    c = cfg.get("curation", {})
    src = _read_source(spark, cfg["source"])
    src_observed, src_obs = attach(
        src, {"rows_in": F.count(F.lit(1))}, name="curation_in"
    )
    # recompile over the observed source so both observations ride the
    # single write action
    cfg_df = _apply_curation_stages(spark, src_observed, c)
    parts = c.get("partition_by") or []
    metrics = write_observed(
        cfg_df, out_path, metrics=standard_metrics(cfg_df, []), partition_by=parts
    )
    metrics["rows_in"] = src_obs.get["rows_in"]
    if tracker is not None:
        tracker.record(
            "curation_run",
            layer="curated",
            source_table=cfg["source"].get("path") or cfg["source"].get("table"),
            target_table=out_path,
            rows_in=int(metrics["rows_in"]),
            rows_out=int(metrics["row_count"]),
            transforms={"stages": [s["type"] for s in c.get("stages", [])]},
        )
    return metrics
