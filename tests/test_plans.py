"""Tests for the declarative pipeline layer (config / compiler /
materialization / lineage)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_ingestion_spark.plans.config import (
    ConfigError,
    expand_env_vars,
    merge_environment,
    migrate_config,
    prepare_config,
    validate_config,
)
from nyc_taxi_data_ingestion_spark.plans.compiler import (
    compile_pipeline,
    run_pipeline,
)
from nyc_taxi_data_ingestion_spark.plans.lineage import (
    LineageTracker,
    column_lineage,
    downstream_impact,
    query_events,
    upstream_sources,
)


def events_config(sf_dir: str) -> dict:
    return {
        "version": "2.0",
        "pipeline": {"name": "events_pipeline"},
        "source": {"path": f"{sf_dir}/orders.parquet", "format": "parquet"},
        "silver": {
            "renames": {"o_orderdate": "order_date", "o_totalprice": "amount"},
            "casts": {"o_custkey": "long"},
            "derived": {
                "order_year": "CAST(year(order_date) AS INT)",
                "order_month": "CAST(month(order_date) AS INT)",
            },
            "filters": ["amount > 0"],
            "dedupe": {
                "keys": ["o_orderkey"],
                "order_by": "order_date DESC",
                "tie_breakers": ["o_orderkey"],
            },
            "partition_by": ["order_year"],
        },
        "gold": [
            {
                "name": "monthly_order_stats",
                "group_by": ["order_year", "order_month", "o_orderstatus"],
                "measures": [
                    {"name": "order_cnt", "expr": "COUNT(*)"},
                    {
                        "name": "total_amount",
                        "expr": "CAST(SUM(CAST(amount AS DECIMAL(30,4))) AS DOUBLE)",
                    },
                ],
                "materialization": "incremental",
                "lookback": {"column": "order_date", "days": 365},
                "partition_by": ["order_year"],
            }
        ],
        "performance": {"shuffle_partitions": 8, "adaptive_query_execution": True},
    }


# -- config system -----------------------------------------------------------


def test_validate_rejects_missing_sections():
    with pytest.raises(ConfigError, match="pipeline"):
        validate_config({"source": {"path": "x"}})
    with pytest.raises(ConfigError, match="source"):
        validate_config({"pipeline": {"name": "p"}})
    with pytest.raises(ConfigError, match="exactly one"):
        validate_config(
            {"pipeline": {"name": "p"}, "source": {"path": "x", "table": "t"}}
        )


def test_validate_incremental_requires_lookback_and_partitioning():
    cfg = {
        "pipeline": {"name": "p"},
        "source": {"path": "x"},
        "gold": [
            {
                "name": "g",
                "group_by": ["a"],
                "measures": [{"name": "c", "expr": "COUNT(*)"}],
                "materialization": "incremental",
            }
        ],
    }
    with pytest.raises(ConfigError, match="lookback"):
        validate_config(cfg)


def test_merge_environment_deep():
    base = {"a": {"x": 1, "y": 2}, "b": [1, 2]}
    out = merge_environment(base, {"a": {"y": 3, "z": 4}, "b": [9]})
    assert out == {"a": {"x": 1, "y": 3, "z": 4}, "b": [9]}
    assert base["a"]["y"] == 2  # no mutation


def test_expand_env_vars():
    cfg = {"path": "${DATA_ROOT}/t", "opt": "${MISSING:-fallback}", "n": 5}
    out = expand_env_vars(cfg, {"DATA_ROOT": "/data"})
    assert out == {"path": "/data/t", "opt": "fallback", "n": 5}
    with pytest.raises(ConfigError, match="NOPE"):
        expand_env_vars({"p": "${NOPE}"}, {})


def test_migrate_v1_config():
    v1 = {
        "version": "1.0",
        "pipeline": {"name": "p"},
        "source": {"path": "x"},
        "transformations": {
            "column_mappings": {"a": "b"},
            "type_casts": {"b": "long"},
            "quality_filters": ["b > 0"],
            "deduplication": {"key_columns": ["b"], "order_by": "b DESC"},
        },
    }
    out = migrate_config(v1)
    assert out["version"] == "2.0"
    assert out["silver"]["renames"] == {"a": "b"}
    assert out["silver"]["casts"] == {"b": "long"}
    assert out["silver"]["filters"] == ["b > 0"]
    assert out["silver"]["dedupe"]["keys"] == ["b"]
    validate_config(out)


def test_prepare_config_order(sf_dir):
    cfg = events_config(sf_dir)
    cfg["source"]["path"] = "${SF_DIR}/orders.parquet"
    out = prepare_config(cfg, {"pipeline": {"name": "overridden"}}, {"SF_DIR": sf_dir})
    assert out["pipeline"]["name"] == "overridden"
    assert out["source"]["path"] == f"{sf_dir}/orders.parquet"


# -- compiler ----------------------------------------------------------------


def test_compile_pipeline_gold_matches_sql(spark, sf_dir):
    plan = compile_pipeline(spark, events_config(sf_dir))
    assert set(plan.gold) == {"monthly_order_stats"}
    assert plan.applied_confs.get("spark.sql.shuffle.partitions") == "8"

    got = {
        (r.order_year, r.order_month, r.o_orderstatus): (r.order_cnt, r.total_amount)
        for r in plan.gold["monthly_order_stats"].collect()
    }
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    want_df = (
        orders.filter("o_totalprice > 0")
        .groupBy(
            F.year("o_orderdate").cast("int").alias("y"),
            F.month("o_orderdate").cast("int").alias("m"),
            "o_orderstatus",
        )
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(30,4)"))
            .cast("double")
            .alias("amt"),
        )
    )
    want = {(r.y, r.m, r.o_orderstatus): (r.cnt, r.amt) for r in want_df.collect()}
    assert got == want


@pytest.mark.slow
def test_run_pipeline_full_and_incremental_equivalent(spark, sf_dir, tmp_path):
    cfg = events_config(sf_dir)
    plan = compile_pipeline(spark, cfg)

    full_wh = str(tmp_path / "wh_full")
    run_pipeline(spark, plan, full_wh, incremental=False)
    full = spark.read.parquet(f"{full_wh}/gold/monthly_order_stats")

    # incremental over an existing table: overwrite only lookback partitions
    inc_wh = str(tmp_path / "wh_inc")
    run_pipeline(spark, plan, inc_wh, incremental=False)  # seed
    run_pipeline(spark, plan, inc_wh, incremental=True)   # M1 rerun
    inc = spark.read.parquet(f"{inc_wh}/gold/monthly_order_stats")

    assert full.count() == inc.count()
    assert full.exceptAll(inc).count() == 0
    assert inc.exceptAll(full).count() == 0

    # silver partitioned layout exists (year=... dirs)
    import glob

    assert glob.glob(f"{full_wh}/silver/events_pipeline/order_year=*")


# -- lineage -----------------------------------------------------------------


def test_column_lineage_edges(sf_dir):
    edges = column_lineage(events_config(sf_dir))
    by_type = {}
    for e in edges:
        by_type.setdefault(e["edge_type"], []).append(
            (e["source_column"], e["target_column"])
        )
    assert ("o_orderdate", "order_date") in by_type["RENAME"]
    assert ("o_custkey", "o_custkey") in by_type["CAST"]
    assert ("order_date", "order_year") in by_type["DERIVE"]


def test_impact_bfs_and_event_query(spark):
    tr = LineageTracker("p")
    tr.record("ingestion", layer="bronze", source_table="src", target_table="bronze.t",
              rows_in=100, rows_out=100)
    tr.record("transformation", layer="silver", source_table="bronze.t",
              target_table="silver.t", rows_in=100, rows_out=90)
    tr.record("aggregation", layer="gold", source_table="silver.t",
              target_table="gold.m1", rows_in=90, rows_out=10)
    tr.record("aggregation", layer="gold", source_table="silver.t",
              target_table="gold.m2", rows_in=90, rows_out=5)

    assert downstream_impact(tr.events, "bronze.t") == ["silver.t", "gold.m1", "gold.m2"]
    assert upstream_sources(tr.events, "gold.m1") == ["silver.t", "bronze.t", "src"]

    df = tr.to_df(spark)
    assert df.count() == 4
    hits = query_events(df, "silver.t")
    assert hits.count() == 3  # as source twice + as target once
    assert tr.events[1]["row_delta"] == -10


# -- JSON-Schema validation (plans/schema.py) --------------------------------


def test_schema_rejects_bad_source_format():
    cfg = {"pipeline": {"name": "p"}, "source": {"path": "x", "format": "xml"}}
    with pytest.raises(ConfigError, match="is not one of"):
        validate_config(cfg)


def test_schema_rejects_wrong_types_with_paths():
    from nyc_taxi_data_ingestion_spark.plans.schema import SchemaValidator

    errs = SchemaValidator().get_validation_errors(
        {
            "pipeline": {"name": ""},
            "source": {"path": "x"},
            "silver": {"filters": "amount > 0"},
            "gold": [{"name": "g", "group_by": [], "measures": [{"name": "c"}]}],
        }
    )
    msgs = "\n".join(errs)
    assert "root -> pipeline -> name" in msgs  # minLength 1
    assert "root -> silver -> filters" in msgs  # not an array
    assert "root -> gold -> 0 -> group_by" in msgs  # minItems 1
    assert "'expr' is a required property" in msgs


def test_schema_enum_and_range_checks():
    from nyc_taxi_data_ingestion_spark.plans.schema import SchemaValidator

    v = SchemaValidator()
    assert not v.validate(
        {
            "pipeline": {"name": "p"},
            "source": {"table": "t"},
            "quality": {"min_quality_score": 140},
        }
    )
    assert not v.validate(
        {
            "pipeline": {"name": "p"},
            "source": {"table": "t"},
            "gold": [
                {
                    "name": "g",
                    "group_by": ["a"],
                    "measures": [{"name": "c", "expr": "COUNT(*)"}],
                    "materialization": "merge",
                }
            ],
        }
    )
    # booleans are not integers (JSON Schema semantics)
    assert not v.validate(
        {
            "pipeline": {"name": "p"},
            "source": {"table": "t"},
            "performance": {"shuffle_partitions": True},
        }
    )


def test_schema_version_normalization():
    from nyc_taxi_data_ingestion_spark.plans.schema import SchemaValidator

    v = SchemaValidator()
    ok = {"pipeline": {"name": "p"}, "source": {"table": "t"}}
    assert v.validate(ok)
    assert v.validate({**ok, "version": "2.0"})
    assert v.validate({**ok, "version": "v2.1.3"})
    assert v.get_validation_errors({**ok, "version": "9.0"}) == [
        "No schema found for version v9"
    ]
    assert v.list_available_versions() == ["v2"]


def test_schema_format_checks():
    from nyc_taxi_data_ingestion_spark.plans.schema import iter_schema_errors

    assert iter_schema_errors("a@b.co", {"type": "string", "format": "email"}) == []
    assert iter_schema_errors("not-an-email", {"type": "string", "format": "email"})
    assert iter_schema_errors(
        {"x": 1}, {"type": "object", "additionalProperties": False}
    ) == ["root: additional property 'x' is not allowed"]


def test_kafka_source_config_round_trip(spark, sf_dir, tmp_path):
    """`format: kafka` is a declared-but-unimplemented enum in the
    reference (lakehouse_config_schema_v1.json:53); here it validates
    AND compiles — a file-backed local substitute emits the Kafka wire
    schema, the payload decodes back to the original rows."""
    from nyc_taxi_data_ingestion_spark.plans.compiler import (
        parse_kafka_json,
        read_stream_source,
    )
    from nyc_taxi_data_ingestion_spark.streaming import run_available_now

    staged = str(tmp_path / "topic_backing")
    batch = (
        spark.read.parquet(f"{sf_dir}/region.parquet")
        .select("r_regionkey", "r_name")
    )
    batch.write.parquet(staged)

    cfg = {
        "pipeline": {"name": "kafka_rt"},
        "source": {
            "format": "kafka",
            "topic": "orders_raw",
            "local_substitute": {
                "format": "parquet",
                "path": staged,
                "key_column": "r_regionkey",
            },
        },
    }
    validate_config(cfg)  # schema + cross-field checks accept it

    stream = read_stream_source(spark, cfg["source"])
    assert set(stream.columns) == {
        "key", "value", "topic", "partition", "offset", "timestamp", "timestampType",
    }
    wire = run_available_now(stream, "kafka_rt", output_mode="append")
    assert wire.count() == batch.count()
    assert wire.select("topic").distinct().collect()[0][0] == "orders_raw"

    decoded = parse_kafka_json(
        spark.read.parquet(staged).limit(0).sparkSession.createDataFrame(
            wire.collect(), wire.schema
        ),
        batch.schema,
    ).select("r_regionkey", "r_name")
    assert sorted(map(tuple, decoded.collect())) == sorted(map(tuple, batch.collect()))


def test_kafka_source_config_rejects_incomplete():
    cfg = {
        "pipeline": {"name": "p"},
        "source": {"format": "kafka", "topic": "t"},
    }
    with pytest.raises(ConfigError, match="bootstrap_servers|local_substitute"):
        validate_config(cfg)
    with pytest.raises(ConfigError, match="topic"):
        validate_config(
            {"pipeline": {"name": "p"}, "source": {"format": "kafka"}}
        )


def test_asof_join_edge_semantics(spark):
    """Inclusive (<=) at equal timestamps, NULL before any right row,
    carry resets per key."""
    from nyc_taxi_data_ingestion_spark.operators.transform import asof_join

    left = spark.createDataFrame(
        [
            (1, 10, "2024-01-01 10:00:00"),   # before any right row
            (2, 10, "2024-01-02 00:00:00"),   # EQUAL ts → inclusive
            (3, 10, "2024-01-05 00:00:00"),   # after both → latest
            (4, 20, "2024-01-04 00:00:00"),   # other key, one match
        ],
        "event_id long, k long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [
            (10, "2024-01-02 00:00:00", 100.0),
            (10, "2024-01-03 00:00:00", 200.0),
            (20, "2024-01-01 00:00:00", 900.0),
        ],
        "k long, rts string, price double",
    ).withColumn("rts", F.to_timestamp("rts"))
    out = asof_join(
        left, right, "k", "k", "ts", "rts", value_cols=["price"]
    )
    got = {r.event_id: r.price for r in out.collect()}
    assert got == {1: None, 2: 100.0, 3: 200.0, 4: 900.0}


def test_gold_mart_rollup_grouping(spark, sf_dir):
    """A mart declared with grouping: rollup must produce subtotal rows
    (one Expand pass) identical to a direct DataFrame rollup, with the
    grouping level materialized."""
    cfg = events_config(sf_dir)
    cfg["gold"] = [{
        "name": "status_rollup",
        "group_by": ["o_orderstatus"],
        "grouping": "rollup",
        "grouping_id_as": "lvl",
        "measures": [{"name": "order_cnt", "expr": "COUNT(*)"}],
    }]
    plan = compile_pipeline(spark, cfg)
    got = {
        (r.o_orderstatus, r.lvl): r.order_cnt
        for r in plan.gold["status_rollup"].collect()
    }
    silver = plan.silver
    want_df = silver.rollup("o_orderstatus").agg(
        F.grouping_id().cast("int").alias("lvl"),
        F.count("*").alias("cnt"),
    )
    want = {(r.o_orderstatus, r.lvl): r.cnt for r in want_df.collect()}
    assert got == want
    # grand-total row present exactly once
    assert sum(1 for (_s, lvl) in got if lvl == 1) == 1
    # one Expand pass, single scan
    plan_str = plan.gold["status_rollup"]._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan_str


# -- medallion task-graph runner ---------------------------------------------


def test_run_medallion_happy_path(spark, sf_dir, tmp_path):
    from nyc_taxi_data_ingestion_spark.plans.runner import run_medallion

    res = run_medallion(spark, events_config(sf_dir), str(tmp_path / "wh"))
    by = {r.name: r for r in res}
    assert by["health"].status == "ok"
    assert by["compile"].status == "ok"
    assert by["silver"].status == "ok"
    assert by["gold:monthly_order_stats"].status == "ok"
    assert by["quality"].status == "ok"
    assert spark.read.parquet(
        str(tmp_path / "wh" / "gold" / "monthly_order_stats")
    ).count() > 0


def test_run_medallion_failure_isolation_and_skip(spark, sf_dir, tmp_path):
    """A broken mart fails its OWN task (after retries) while silver,
    the healthy mart, and quality still complete; a broken source fails
    health and skips the entire downstream graph."""
    from nyc_taxi_data_ingestion_spark.plans.runner import run_medallion

    cfg = events_config(sf_dir)
    cfg["gold"].append({
        "name": "broken_mart",
        "group_by": ["order_year"],
        "measures": [{"name": "x", "expr": "SUM(no_such_column)"}],
    })
    res = run_medallion(
        spark, cfg, str(tmp_path / "wh2"), max_retries=1
    )
    by = {r.name: r for r in res}
    assert by["gold:monthly_order_stats"].status == "ok"
    assert by["gold:broken_mart"].status == "failed"
    assert by["gold:broken_mart"].attempts == 2  # retried once
    assert "no_such_column" in by["gold:broken_mart"].error
    assert by["quality"].status == "ok"  # depends on silver, not marts

    cfg2 = events_config(sf_dir)
    cfg2["source"]["path"] = "/nonexistent/nowhere.parquet"
    res2 = run_medallion(spark, cfg2, str(tmp_path / "wh3"))
    by2 = {r.name: r for r in res2}
    assert by2["health"].status == "failed"
    assert all(
        r.status == "skipped" for r in res2 if r.name != "health"
    ), res2


def test_compile_stream_pipeline_matches_batch(spark, sf_dir, tmp_path):
    """One config, two engines: the streaming compilation of a pipeline
    (file source → silver chain → windowed gold) drained with
    AvailableNow must equal the batch computation of the same spec."""
    from nyc_taxi_data_ingestion_spark.plans.compiler import (
        compile_stream_pipeline,
    )
    from nyc_taxi_data_ingestion_spark.sources.readers import read_table
    from nyc_taxi_data_ingestion_spark.streaming import run_available_now

    src = str(tmp_path / "events")
    read_table(spark, sf_dir, "events").write.parquet(src)

    cfg = {
        "version": "2.0",
        "pipeline": {"name": "events_stream"},
        "source": {"path": src, "format": "parquet"},
        "streaming": {"watermark": {"column": "ts", "delay": "1 minute"}},
        "silver": {
            "renames": {"value": "amount"},
            "filters": ["amount IS NOT NULL", "amount > 0"],
        },
        "gold": [{
            "name": "daily_type_stats",
            "group_by": ["event_type"],
            "window": {"duration": "1 day"},
            "measures": [
                {"name": "cnt", "expr": "COUNT(*)"},
                {"name": "total",
                 "expr": "CAST(SUM(CAST(amount AS DECIMAL(30,4))) AS DOUBLE)"},
            ],
        }],
    }
    plans = compile_stream_pipeline(spark, cfg)
    assert set(plans["gold"]) == {"daily_type_stats"}
    got_df = run_available_now(
        plans["gold"]["daily_type_stats"], "cfg_stream", output_mode="complete"
    )
    got = {
        (r.window_start, r.event_type): (r.cnt, r.total)
        for r in got_df.collect()
    }
    ev = spark.read.parquet(src).filter("value IS NOT NULL AND value > 0")
    want_df = ev.groupBy(
        F.date_trunc("day", "ts").alias("w"), "event_type"
    ).agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("value").cast("decimal(30,4)")).cast("double").alias("total"),
    )
    want = {(r.w, r.event_type): (r.cnt, r.total) for r in want_df.collect()}
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_run_stream_pipeline_incremental_resume(spark, sf_dir, tmp_path):
    """Checkpointed streaming materialization: drain, add new source
    files, drain again — the second run processes ONLY the new data
    (offsets resume), yet the gold table equals a full batch recompute
    over everything. That equivalence is the exactly-once contract."""
    import glob
    import shutil

    from nyc_taxi_data_ingestion_spark.plans.compiler import (
        run_stream_pipeline,
    )
    from nyc_taxi_data_ingestion_spark.sources.readers import read_table

    src = tmp_path / "events_src"
    stage = tmp_path / "stage"
    ev = read_table(spark, sf_dir, "events").orderBy("event_id")
    # split by TIME, not by id: resuming a watermarked stream with
    # events older than the checkpointed watermark would (correctly)
    # drop them as late — arrival order must respect event time
    split = "2024-01-16"
    first = ev.filter(F.col("ts") < split)
    second = ev.filter(F.col("ts") >= split)
    first.coalesce(1).write.parquet(str(stage / "a"))
    src.mkdir()
    for f in glob.glob(str(stage / "a" / "part-*.parquet")):
        shutil.copy(f, str(src / "batch_a.parquet"))

    cfg = {
        "version": "2.0",
        "pipeline": {"name": "ev_stream"},
        "source": {"path": str(src), "format": "parquet"},
        "streaming": {"watermark": {"column": "ts", "delay": "1 minute"}},
        "silver": {"filters": ["value IS NOT NULL"]},
        "gold": [{
            "name": "daily_counts",
            "group_by": ["event_type"],
            "window": {"duration": "1 day"},
            "measures": [{"name": "cnt", "expr": "COUNT(*)"}],
        }],
    }
    wh = str(tmp_path / "wh")
    run_stream_pipeline(spark, cfg, wh)
    n_first = spark.read.parquet(f"{wh}/silver/ev_stream").count()
    assert n_first == first.filter("value IS NOT NULL").count()

    # new data arrives; resume from checkpoints
    second.coalesce(1).write.parquet(str(stage / "b"))
    for f in glob.glob(str(stage / "b" / "part-*.parquet")):
        shutil.copy(f, str(src / "batch_b.parquet"))
    run_stream_pipeline(spark, cfg, wh)

    silver = spark.read.parquet(f"{wh}/silver/ev_stream")
    assert silver.count() == ev.filter("value IS NOT NULL").count()

    gold = spark.read.parquet(f"{wh}/gold/daily_counts")
    got = {
        (r.window_start, r.event_type): r.cnt
        for r in gold.select("window_start", "event_type", "cnt").collect()
    }
    want_df = (
        ev.filter("value IS NOT NULL")
        .groupBy(F.date_trunc("day", "ts").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    want = {(r.w, r.event_type): r.cnt for r in want_df.collect()}
    assert got == want


def test_observed_write_matches_eager_counts(spark, sf_dir, tmp_path):
    from nyc_taxi_data_ingestion_spark.quality.observe import (
        standard_metrics,
        write_observed,
    )

    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    path = str(tmp_path / "obs_out")
    got = write_observed(df, path, metrics=standard_metrics(df, ["o_orderpriority"]))
    # observed metrics equal what eager jobs would have computed —
    # but they rode the write action instead of extra scans
    assert got["row_count"] == df.count()
    assert got["null_o_orderpriority"] == df.filter(F.col("o_orderpriority").isNull()).count()
    assert spark.read.parquet(path).count() == got["row_count"]


def test_run_pipeline_observed_metrics(spark, sf_dir, tmp_path):
    cfg = events_config(sf_dir)
    plan = compile_pipeline(spark, cfg)
    wh = str(tmp_path / "wh_obs")
    metrics: dict[str, dict] = {}
    out = run_pipeline(spark, plan, wh, metrics_out=metrics)
    assert set(metrics) == set(out)
    for layer, path in out.items():
        assert metrics[layer]["row_count"] == spark.read.parquet(path).count()


def test_compile_curation_matches_handbuilt_chain(spark, sf_dir):
    from nyc_taxi_data_ingestion_spark.llm import curation as cu
    from nyc_taxi_data_ingestion_spark.llm import dedup as dd
    from nyc_taxi_data_ingestion_spark.plans import compile_curation, validate_config

    cfg = {
        "pipeline": {"name": "curate_docs"},
        "source": {"path": f"{sf_dir}/documents.parquet", "format": "parquet"},
        "curation": {
            "id_column": "doc_id",
            "text_column": "text",
            "stages": [
                {"type": "gopher_filter", "options": {"min_words": 10}},
                {"type": "pii_redact"},
                {"type": "exact_dedup"},
                {
                    "type": "stratified_sample",
                    "options": {"rates": {"en": 0.5}, "default_rate": 0.3},
                },
                {"type": "token_shards", "options": {"budget_tokens": 256}},
            ],
        },
    }
    assert validate_config(cfg)
    got = compile_curation(spark, cfg)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    staged = docs.filter(cu.gopher_keep("text", min_words=10)).withColumn(
        "text", cu.redact_pii(F.col("text"))
    )
    staged = dd.exact_dedup(staged)
    staged = cu.stratified_sample(staged, rates={"en": 0.5}, default_rate=0.3)
    want = cu.token_shards(staged, budget_tokens=256)

    g = got.select("doc_id", "shard_id").toPandas().sort_values("doc_id")
    w = want.select("doc_id", "shard_id").toPandas().sort_values("doc_id")
    assert g.values.tolist() == w.values.tolist()
    assert len(g) > 0


def test_compile_curation_rejects_unknown_stage(spark, sf_dir):
    from nyc_taxi_data_ingestion_spark.plans import compile_curation

    cfg = {
        "pipeline": {"name": "bad"},
        "source": {"path": f"{sf_dir}/documents.parquet", "format": "parquet"},
        "curation": {"stages": [{"type": "nonsense"}]},
    }
    with pytest.raises(ValueError, match="unknown curation stage"):
        compile_curation(spark, cfg)


def test_run_curation_metrics_and_lineage(spark, sf_dir, tmp_path):
    from nyc_taxi_data_ingestion_spark.plans.compiler import run_curation
    from nyc_taxi_data_ingestion_spark.plans.lineage import LineageTracker

    cfg = {
        "pipeline": {"name": "curate_docs"},
        "source": {"path": f"{sf_dir}/documents.parquet", "format": "parquet"},
        "curation": {
            "stages": [
                {"type": "gopher_filter", "options": {"min_words": 10}},
                {"type": "exact_dedup"},
            ],
        },
    }
    out = str(tmp_path / "curated")
    tracker = LineageTracker(pipeline="curate_docs")
    metrics = run_curation(spark, cfg, out, tracker=tracker)

    written = spark.read.parquet(out)
    assert metrics["row_count"] == written.count()
    assert metrics["rows_in"] == spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert metrics["rows_in"] >= metrics["row_count"]
    evt = tracker.events[-1]
    assert evt["event_type"] == "curation_run"
    assert evt["rows_out"] == metrics["row_count"]
    assert "gopher_filter" in evt["transforms_json"]


def test_sql_models_topo_order_and_render(spark):
    from nyc_taxi_data_ingestion_spark.plans.sqlmodels import (
        SqlModel,
        model_refs,
        run_sql_models,
        topo_order,
    )
    import pytest as _pt

    a = SqlModel("a", "SELECT 1 AS x FROM {{ source('s','t') }}")
    b = SqlModel("b", "SELECT x + 1 AS x FROM {{ ref('a') }}")
    c = SqlModel("c", "SELECT x + 1 AS x FROM {{ ref('b') }}")
    assert model_refs(c) == {"b"}
    # order is by dependency, not list position
    assert [m.name for m in topo_order([c, b, a])] == ["a", "b", "c"]

    src = spark.range(1).selectExpr("1 AS y")
    out = run_sql_models(spark, [c, a, b], sources={("s", "t"): src})
    assert out["c"].collect()[0].x == 3

    # cycles and unknown refs are build errors, not runtime surprises
    x = SqlModel("x", "SELECT * FROM {{ ref('y') }}")
    y = SqlModel("y", "SELECT * FROM {{ ref('x') }}")
    with _pt.raises(ValueError, match="cycle"):
        topo_order([x, y])
    with _pt.raises(KeyError, match="unknown"):
        topo_order([x])
    # duplicate model names too: silent last-wins dedup would bind
    # downstream refs to whichever definition survived
    with _pt.raises(ValueError, match="duplicate"):
        topo_order([a, SqlModel("a", "SELECT 2 AS x")])


def test_sql_models_incremental_merge_equals_full(spark, sf_dir, tmp_path):
    from nyc_taxi_data_ingestion_spark.plans.sqlmodels import (
        SqlModel,
        run_sql_models,
    )
    from nyc_taxi_data_ingestion_spark.sources.readers import read_table

    events = read_table(spark, sf_dir, "events")
    mart = SqlModel(
        name="mart",
        sql="""
            SELECT event_type, COUNT(*) AS n, MAX(event_id) AS max_id
            FROM {{ source('silver', 'events') }}
            GROUP BY event_type
        """,
        materialized="incremental",
        unique_key=["event_type"],
        order_col="max_id",
    )
    tgt = str(tmp_path / "marts")
    # first run materializes, second run (same input) must be a no-op merge
    run_sql_models(spark, [mart], {("silver", "events"): events}, target_dir=tgt)
    first = {r.event_type: (r.n, r.max_id) for r in spark.read.parquet(f"{tgt}/mart").collect()}
    run_sql_models(spark, [mart], {("silver", "events"): events}, target_dir=tgt)
    second = {r.event_type: (r.n, r.max_id) for r in spark.read.parquet(f"{tgt}/mart").collect()}
    assert first == second
    full = {r.event_type: (r.n, r.max_id) for r in
            events.groupBy("event_type").agg(F.count("*").alias("n"), F.max("event_id").alias("max_id")).collect()}
    assert second == full


# -- plan audit (plans/audit.py) ---------------------------------------------


def test_audit_flags_global_window_and_python_udf(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from nyc_taxi_data_ingestion_spark.plans.audit import audit_plan

    df = spark.range(100).withColumn("v", F.col("id") * 2)
    # unpartitioned ordered window → single-task sort
    w = Window.orderBy("id")
    bad = df.withColumn("run", F.sum("v").over(w))
    codes = {f.code for f in audit_plan(bad)}
    assert "global-ordered-window" in codes

    @F.udf(T.LongType())
    def slow(x):
        return x + 1

    codes = {f.code for f in audit_plan(df.withColumn("y", slow("id")))}
    assert "python-row-eval" in codes

    codes = {f.code for f in audit_plan(df.crossJoin(spark.range(3)))}
    assert "nested-loop-join" in codes


def test_audit_clean_on_shipped_plans(spark, sf_dir):
    from nyc_taxi_data_ingestion_spark.plans.audit import audit_plan
    from nyc_taxi_data_ingestion_spark.queries import REGISTRY

    # headline queries must audit clean of error-level findings — the
    # audit is the productized form of the plan gates, so the shipped
    # plans have to pass their own reviewer
    for name in [
        "daily_stats", "silver_transform", "top_groups", "token_shards",
        "blocked_jaccard", "rolling_active_users", "bm25_rank",
    ]:
        errs = [
            f for f in audit_plan(REGISTRY[name].fn(spark, sf_dir))
            if f.severity == "error"
        ]
        assert errs == [], (name, errs)


def test_audit_unpushed_filter_detection(spark, sf_dir):
    from pyspark.sql import functions as F

    from nyc_taxi_data_ingestion_spark.plans.audit import audit_plan

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # casting the column inside the predicate defeats pushdown
    bad = li.filter(F.col("l_quantity").cast("string") == "10.00")
    codes = {f.code for f in audit_plan(bad)}
    assert "unpushed-filter" in codes
    good = li.filter(F.col("l_quantity") == 10.0)
    assert "unpushed-filter" not in {f.code for f in audit_plan(good)}


def test_audit_no_false_positive_on_partitioned_window(spark):
    # regression: a block-crossing regex once attributed SinglePartition
    # (from a later global aggregate's exchange) to the partitioned
    # window's hash exchange and flagged a correct plan
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from nyc_taxi_data_ingestion_spark.plans.audit import audit_plan

    df = (
        spark.range(100)
        .withColumn("g", F.col("id") % 5)
        .withColumn("v", F.col("id") * 2)
    )
    ok = (
        df.withColumn(
            "rn", F.row_number().over(Window.partitionBy("g").orderBy("id"))
        )
        .filter("rn <= 2")
        .groupBy()
        .agg(F.sum("v"))
    )
    assert "global-ordered-window" not in {f.code for f in audit_plan(ok)}


def test_write_observed_attaches_clean_plan_findings(spark, sf_dir, tmp_path):
    # every observed write carries its plan review; the compiled
    # medallion plans must review clean of error-level smells
    cfg = events_config(sf_dir)
    plan = compile_pipeline(spark, cfg)
    wh = str(tmp_path / "wh_audit")
    metrics: dict[str, dict] = {}
    run_pipeline(spark, plan, wh, metrics_out=metrics)
    for layer, m in metrics.items():
        assert "plan_findings" in m, layer
        assert [f for f in m["plan_findings"] if f["severity"] == "error"] == []


@pytest.mark.parametrize("entry", ["run_medallion", "run_pipeline"])
def test_incremental_mart_reports_metrics(spark, sf_dir, tmp_path, entry):
    """Both entry points materialize gold through the same compiler
    function, so an incremental mart reports observed metrics from
    either."""
    from nyc_taxi_data_ingestion_spark.plans.runner import run_medallion

    cfg = events_config(sf_dir)
    cfg["gold"][0]["materialization"] = "incremental"
    cfg["gold"][0].setdefault("lookback", {"days": 36500})
    metrics: dict[str, dict] = {}
    wh = str(tmp_path / "wh_incr")
    if entry == "run_medallion":
        res = run_medallion(
            spark, cfg, wh, incremental=True, metrics_out=metrics
        )
        assert all(r.status == "ok" for r in res)
    else:
        run_pipeline(
            spark, compile_pipeline(spark, cfg), wh, incremental=True,
            metrics_out=metrics,
        )
    key = f"gold/{cfg['gold'][0]['name']}"
    assert key in metrics, sorted(metrics)
    assert metrics[key]["row_count"] > 0
    assert "plan_findings" in metrics[key]
