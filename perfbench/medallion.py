"""``medallion_refresh``: a full bronze → silver → gold → quality refresh
through ``plans.runner.run_medallion``, then the reader queries a
dashboard would run on the gold marts.

The config mirrors the reference pipeline: rename, cast, derive, filter
and dedupe into silver (partitioned by pickup date); three gold marts;
the quality task. Gold marts and silver are checked against DuckDB over
the generated parquet, with the same exact-decimal sums as
``functions.numeric``.
"""

from __future__ import annotations

import copy
import os
import shutil
import time

import duckdb
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen
from harness import compact_bytes, dir_bytes
from nyc_taxi_data_ingestion_spark.functions.numeric import davg_sql, dsum_sql
from oracle import compare_rows, compare_sequence

N_TRIPS = 50_000


MARTS = [
    {"name": "daily_trip_stats", "group_by": ["pickup_date"], "measures": [
        {"name": "trip_count", "expr": "COUNT(*)"},
        {"name": "total_fare", "expr": dsum_sql("fare_amount")},
        {"name": "avg_distance", "expr": davg_sql("trip_distance")},
        {"name": "avg_duration_s", "expr": davg_sql("trip_duration_s")}]},
    {"name": "hourly_location_analysis",
     "group_by": ["pickup_location_id", "pickup_hour"], "measures": [
        {"name": "trip_count", "expr": "COUNT(*)"},
        {"name": "total_revenue", "expr": dsum_sql("total_amount")},
        {"name": "avg_distance", "expr": davg_sql("trip_distance")}]},
    {"name": "revenue_by_payment_type", "group_by": ["payment_type"], "measures": [
        {"name": "trip_count", "expr": "COUNT(*)"},
        {"name": "total_revenue", "expr": dsum_sql("total_amount")},
        {"name": "total_tips", "expr": dsum_sql("tip_amount")},
        {"name": "avg_fare", "expr": davg_sql("fare_amount")}]},
]


def pipeline_config(source: str) -> dict:
    return {
        "version": "2.0",
        "pipeline": {"name": "trips"},
        "source": {"path": source, "format": "parquet"},
        "silver": {
            "renames": {"tpep_pickup_datetime": "pickup_datetime",
                        "tpep_dropoff_datetime": "dropoff_datetime",
                        "PULocationID": "pickup_location_id",
                        "DOLocationID": "dropoff_location_id"},
            "casts": {"fare_amount": "decimal(10,2)", "tip_amount": "decimal(10,2)",
                      "total_amount": "decimal(10,2)"},
            "derived": {
                "trip_duration_s":
                    "unix_timestamp(dropoff_datetime) - unix_timestamp(pickup_datetime)",
                "pickup_date": "to_date(pickup_datetime)",
                "pickup_hour": "hour(pickup_datetime)",
            },
            "filters": ["fare_amount > 0", "trip_distance > 0",
                        "dropoff_datetime > pickup_datetime"],
            "dedupe": {"keys": ["trip_id"], "order_by": "ingest_seq DESC",
                       "tie_breakers": ["trip_id"]},
            "partition_by": ["pickup_date"],
        },
        "gold": copy.deepcopy(MARTS),
        "performance": {"shuffle_partitions": 8},
    }


# silver recomputed independently, in DuckDB
_SILVER_SQL = """
SELECT * FROM (
  SELECT trip_id, ingest_seq,
         CAST(fare_amount AS DECIMAL(10,2)) AS fare_amount,
         CAST(tip_amount AS DECIMAL(10,2)) AS tip_amount,
         CAST(total_amount AS DECIMAL(10,2)) AS total_amount,
         trip_distance, payment_type,
         PULocationID AS pickup_location_id,
         epoch(tpep_dropoff_datetime) - epoch(tpep_pickup_datetime) AS trip_duration_s,
         CAST(tpep_pickup_datetime AS DATE) AS pickup_date,
         hour(tpep_pickup_datetime) AS pickup_hour
  FROM read_parquet('{src}')
  WHERE CAST(fare_amount AS DECIMAL(10,2)) > 0 AND trip_distance > 0
    AND tpep_dropoff_datetime > tpep_pickup_datetime)
QUALIFY row_number() OVER (PARTITION BY trip_id ORDER BY ingest_seq DESC, trip_id) = 1
"""


def _mart_sql(mart: dict) -> str:
    keys = ", ".join(mart["group_by"])
    meas = ", ".join(f"{m['expr']} AS {m['name']}" for m in mart["measures"])
    return f"SELECT {keys}, {meas} FROM silver GROUP BY {keys}"


class MedallionRefresh:
    name = "medallion_refresh"

    def __init__(self, spark, work, seed, ops, tracer):
        self.spark, self.work, self.seed = spark, work, seed
        self.ops, self.tr = ops, tracer
        self.wh = os.path.join(work, "warehouse_medallion")
        self.expected = None

    def prepare(self, r: int) -> None:
        shutil.rmtree(os.path.join(self.work, f"landing{r - 1}"), ignore_errors=True)
        landing = os.path.join(self.work, f"landing{r}")
        os.makedirs(landing)
        g = gen.trips(self.seed, N_TRIPS)
        self.source = os.path.join(landing, "trips.parquet")
        pq.write_table(g["table"], self.source)
        self.inputs = g["info"]

    def seed_tables(self) -> None:
        """Nothing to seed: every cycle is a full refresh of the inputs."""

    def info(self) -> dict:
        return self.inputs

    def cycle(self, i: int) -> dict:
        from nyc_taxi_data_ingestion_spark.plans import runner

        t0 = time.perf_counter()
        self.observed = {}
        results = runner.run_medallion(
            self.spark, pipeline_config(self.source), self.wh, metrics_out=self.observed)
        fresh = time.perf_counter() - t0
        for r in results:
            for a in range(1, r.attempts + 1):
                ok = r.status == "ok" and a == r.attempts
                self.ops.record(ok, f"task {r.name}: {r.error}")
        t1 = time.perf_counter()
        self.reads = self._read_queries()
        return {"rows": N_TRIPS, "freshness_s": fresh,
                "read_s": time.perf_counter() - t1}

    def _read_queries(self) -> dict:
        from pyspark.sql import functions as F

        def gold(name):
            return self.spark.read.parquet(os.path.join(self.wh, "gold", name))

        out = {}
        for key, fn in [
            ("daily", lambda: gold("daily_trip_stats").orderBy("pickup_date")
             .select("pickup_date", "trip_count", "total_fare").collect()),
            ("top_zones", lambda: gold("hourly_location_analysis")
             .where(F.col("pickup_hour") == 18)
             .orderBy(F.desc("total_revenue"), "pickup_location_id").limit(10)
             .select("pickup_location_id", "total_revenue").collect()),
            ("payment", lambda: gold("revenue_by_payment_type").orderBy("payment_type")
             .select("payment_type", "trip_count", "total_revenue").collect()),
        ]:
            out[key] = [tuple(r) for r in self.ops.step(f"read {key}", fn)]
        return out

    # -- correctness ---------------------------------------------------------

    def _oracle(self) -> dict:
        if self.expected is None:
            con = duckdb.connect()
            con.execute(f"CREATE TABLE silver AS {_SILVER_SQL.format(src=self.source)}")
            exp = {m["name"]: con.execute(_mart_sql(m)).fetch_arrow_table().to_pylist()
                   for m in MARTS}
            exp["silver_rows"], exp["silver_ids"] = con.execute(
                "SELECT COUNT(*), COUNT(DISTINCT trip_id) FROM silver").fetchone()
            con.close()
            self.expected = exp
        return self.expected

    def check(self, i: int) -> list[str]:
        exp = self._oracle()
        problems = []
        con = duckdb.connect()
        for m in MARTS:
            got = con.execute(
                f"SELECT * FROM read_parquet('{self.wh}/gold/{m['name']}/*.parquet')"
            ).fetch_arrow_table().to_pylist()
            problems += compare_rows(m["name"], exp[m["name"]], got, m["group_by"])
        rows, ids = con.execute(
            f"SELECT COUNT(*), COUNT(DISTINCT trip_id) FROM read_parquet("
            f"'{self.wh}/silver/trips/*/*.parquet', hive_partitioning = true)").fetchone()
        con.close()
        if (rows, ids) != (exp["silver_rows"], exp["silver_ids"]):
            problems.append(f"silver rows/ids {rows}/{ids} != "
                            f"{exp['silver_rows']}/{exp['silver_ids']}")
        observed = self.observed.get("silver/trips", {}).get("row_count")
        if observed != exp["silver_rows"]:
            problems.append(f"observed silver row_count {observed} != {exp['silver_rows']}")
        daily = sorted((r["pickup_date"], r["trip_count"], r["total_fare"])
                       for r in exp["daily_trip_stats"])
        hour18 = [r for r in exp["hourly_location_analysis"] if r["pickup_hour"] == 18]
        hour18.sort(key=lambda r: (-r["total_revenue"], r["pickup_location_id"]))
        payment = sorted((r["payment_type"], r["trip_count"], r["total_revenue"])
                         for r in exp["revenue_by_payment_type"])
        for key, want in [
            ("daily", daily),
            ("top_zones", [(r["pickup_location_id"], r["total_revenue"]) for r in hour18[:10]]),
            ("payment", payment),
        ]:
            problems += compare_sequence(f"read {key}", want, self.reads[key])
        return problems

    def finish(self) -> dict:
        """Warehouse bytes against its rows written compactly. Silver's
        exact dedupe is covered by the checks; this pipeline plants no
        near-duplicates."""
        compact = sum(
            compact_bytes(ds.dataset(os.path.join(self.wh, sub), partitioning="hive").to_table())
            for sub in ["silver/trips"] + [f"gold/{m['name']}" for m in MARTS])
        return {"space": (dir_bytes(self.wh), compact), "dups": None, "problems": []}
