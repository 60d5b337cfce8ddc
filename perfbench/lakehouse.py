"""``lakehouse_cdc``: a versioned silver table that takes in one landed
"day" file per cycle, with readers running next to the writer.

Each cycle, in order:

1. the landed file streams into bronze exactly once
   (``streaming.ingest.snapshot_append_sink``, persistent checkpoint);
2. it is upserted into silver with ``sources.snapshots.snapshot_upsert_eq``
   (a planted share of its rows are late corrections to recent days);
3. a gold per-zone state table is folded with ``operators.incremental``;
4. the reader set runs: a pruned range scan of the newest day
   (``scan_snapshot``), a head aggregate (``read_snapshot``) and a
   time-travel read at head - ``TT_BACK``;
5. every ``COMPACT_EVERY`` cycles, ``snapshot_compact`` then
   ``expire_snapshots``.

Checks: every reader result against a last-writer-wins model of the
table kept in Python, the gold state against a full recompute over all
landed rows, and at the end the whole silver head row by row and the
bronze row count (exactly-once ingest).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
from decimal import Decimal

import pyarrow.parquet as pq

import gen
from harness import compact_bytes, dir_bytes
from spans import READER_SPAN, dir_files

ROWS_PER_DAY = 15_000
SEED_DAYS = 7
MAX_DAYS = 20
TT_BACK = 2
COMPACT_EVERY = 3
KEEP_LAST = 4
KEYS = ["zone"]


def _day_of_cycle(i: int) -> dt.date:
    """The newest pickup date once the file of cycle ``i`` has landed."""
    return gen.DAY0.astype(dt.date) + dt.timedelta(days=SEED_DAYS + i - 1)


class LakehouseCdc:
    name = "lakehouse_cdc"
    min_cycles = 3
    # timed cycles come in whole multiples of this
    cycle_multiple = COMPACT_EVERY

    def __init__(self, spark, work, seed, ops, tracer):
        self.spark, self.work, self.seed = spark, work, seed
        self.ops, self.tr = ops, tracer

    # -- setup ----------------------------------------------------------------

    def prepare(self, r: int) -> None:
        shutil.rmtree(os.path.join(self.work, f"lake{r - 1}"), ignore_errors=True)
        self.root = root = os.path.join(self.work, f"lake{r}")
        self.stream = gen.CdcStream(self.seed, ROWS_PER_DAY, SEED_DAYS, MAX_DAYS)
        self.staged = os.path.join(root, "staged")
        self.landing = os.path.join(root, "landing")
        os.makedirs(self.staged)
        os.makedirs(self.landing)
        for i, t in enumerate(self.stream.days):
            pq.write_table(t, os.path.join(self.staged, f"day-{i:04d}.parquet"))
        self.bronze = os.path.join(root, "bronze")
        self.silver = os.path.join(root, "silver")
        self.ckpt = os.path.join(root, "checkpoint")
        self.state_dir = os.path.join(root, "state")

    def seed_tables(self) -> None:
        from nyc_taxi_data_ingestion_spark.operators import incremental
        from nyc_taxi_data_ingestion_spark.sources import snapshots

        self.landed = 0
        seed_df = self.spark.read.parquet(self._land(0))
        self.schema = seed_df.schema
        self._ingest_bronze()
        v = snapshots.snapshot_write(seed_df, self.silver, stats_cols=["pickup_date"])
        self.state = os.path.join(self.state_dir, "v0000")
        incremental.partial_agg_state(seed_df, KEYS, "fare").write.parquet(self.state)

        # last-writer-wins model of silver, and the full-recompute model
        # of the gold state (every landed row, corrections included)
        self.model: dict[int, tuple] = {}
        self.count_at: dict[int, int] = {}
        self.state_model = {}
        self._apply(0)
        self.count_at[v] = len(self.model)
        self.first_version = v
        self.corrections: dict[int, int] = {}

    def info(self) -> dict:
        return self.stream.info()

    def has_cycle(self, i: int) -> bool:
        return i <= MAX_DAYS

    def _land(self, i: int) -> str:
        dst = os.path.join(self.landing, f"day-{i:04d}.parquet")
        os.rename(os.path.join(self.staged, f"day-{i:04d}.parquet"), dst)
        self.landed += self.stream.days[i].num_rows
        return dst

    def _ingest_bronze(self) -> None:
        from nyc_taxi_data_ingestion_spark.streaming import ingest

        stream = self.spark.readStream.schema(self.schema).parquet(self.landing)
        ingest.snapshot_append_sink(stream, self.bronze, "landing",
                                    checkpoint_dir=self.ckpt, timeout_sec=120)

    # -- one cycle --------------------------------------------------------------

    def cycle(self, i: int) -> dict:
        from pyspark.sql import functions as F

        from nyc_taxi_data_ingestion_spark.operators import incremental
        from nyc_taxi_data_ingestion_spark.sources import snapshots

        t_land = time.perf_counter()
        day_file = self._land(i)
        self.ops.step("bronze ingest", self._ingest_bronze)
        updates = self.spark.read.parquet(day_file)
        head = self.ops.step("silver upsert", lambda: snapshots.snapshot_upsert_eq(
            self.spark, self.silver, updates, ["trip_id"]))
        fresh = time.perf_counter() - t_land

        def fold():
            state = os.path.join(self.state_dir, f"v{i:04d}")
            with self.tr.span("operators.incremental", "fold_state"):
                part = incremental.partial_agg_state(updates, KEYS, "fare")
                prev = self.spark.read.parquet(self.state)
                incremental.merge_agg_states([prev, part], KEYS).write.parquet(state)
            if self.tr.active:
                self.tr.add("operators.incremental", "state_rows",
                            pq.ParquetDataset(state).read().num_rows)
            self.state = state

        self.ops.step("gold fold", fold)

        t_read = time.perf_counter()
        newest = str(_day_of_cycle(i))
        agg = [F.count(F.lit(1)).alias("n"), F.sum("fare_cents").alias("s")]
        back = max(head - TT_BACK, self.first_version)
        with self.tr.span("sources.snapshots", READER_SPAN):
            self.reads = {
                "newest_day": tuple(self.ops.step("range scan", lambda: snapshots.scan_snapshot(
                    self.spark, self.silver, "pickup_date", newest, newest
                ).agg(*agg).first())),
                "head": tuple(self.ops.step("head aggregate", lambda: snapshots.read_snapshot(
                    self.spark, self.silver).agg(*agg).first())),
                "time_travel": (back, self.ops.step("time travel", lambda:
                    snapshots.read_snapshot(self.spark, self.silver, version=back).count())),
            }
        read_s = time.perf_counter() - t_read
        self.head = head
        if i % COMPACT_EVERY == 0:
            compacted = self.ops.step("compact", lambda: snapshots.snapshot_compact(
                self.spark, self.silver, target_partitions=4,
                sort_cols=["pickup_date"], stats_cols=["pickup_date"]))
            self.ops.step("expire", lambda: snapshots.expire_snapshots(
                self.silver, keep_last=KEEP_LAST, orphan_grace_hours=0.0))
            self.compacted = compacted
        else:
            self.compacted = None
        if self.tr.active:
            self.tr.add("sources.snapshots", "manifest_bytes",
                        sum(dir_files(os.path.join(self.silver, "_snapshots")).values()))
        return {"rows": self.stream.days[i].num_rows, "freshness_s": fresh, "read_s": read_s}

    # -- correctness --------------------------------------------------------------

    def _apply(self, i: int) -> None:
        t = self.stream.days[i]
        ids = t.column("trip_id").to_numpy()
        days = t.column("pickup_date").to_numpy()
        zones = t.column("zone").to_numpy()
        cents = t.column("fare_cents").to_numpy()
        for tid, d, z, c in zip(ids.tolist(), days.tolist(), zones.tolist(), cents.tolist()):
            if i and tid in self.model:
                self.corrections[tid] = c
            self.model[tid] = (d, c)
            n, s, mn, mx = self.state_model.get(z, (0, 0, c, c))
            self.state_model[z] = (n + 1, s + c, min(mn, c), max(mx, c))

    def check(self, i: int) -> list[str]:
        self._apply(i)
        self.count_at[self.head] = len(self.model)
        if self.compacted is not None:
            self.count_at[self.compacted] = len(self.model)
        problems = []
        newest = _day_of_cycle(i)
        day_rows = [c for d, c in self.model.values() if d == newest]
        want = {
            "newest_day": (len(day_rows), sum(day_rows)),
            "head": (len(self.model), sum(c for _d, c in self.model.values())),
        }
        for key, exp in want.items():
            if self.reads[key] != exp:
                problems.append(f"{key}: got {self.reads[key]}, expected {exp}")
        v, n = self.reads["time_travel"]
        if self.count_at.get(v) != n:
            problems.append(f"time travel v{v}: {n} rows, expected {self.count_at.get(v)}")
        got = {r["zone"]: r for r in pq.ParquetDataset(self.state).read().to_pylist()}
        if set(got) != set(self.state_model):
            problems.append("gold state zones differ from full recompute")
        bad = sum(1 for z, (n, s, mn, mx) in self.state_model.items() if z in got and (
            got[z]["n"], got[z]["s"], got[z]["mn"], got[z]["mx"])
            != (n, Decimal(s) / 100, mn / 100, mx / 100))
        if bad:
            problems.append(f"gold state: {bad} zones differ from full recompute")
        return problems

    def finish(self) -> dict:
        from nyc_taxi_data_ingestion_spark.sources import snapshots

        problems = []
        head = snapshots.read_snapshot(self.spark, self.silver).toArrow()
        ids = head.column("trip_id").to_pylist()
        got = dict(zip(ids, head.column("fare_cents").to_pylist()))
        if len(ids) != len(got):
            problems.append("silver head has duplicate trip_ids")
        want = {k: c for k, (_d, c) in self.model.items()}
        if got != want:
            diff = sum(1 for k in want.keys() | got.keys() if got.get(k) != want.get(k))
            problems.append(f"silver head: {diff} trip_ids differ from last-writer-wins")
        bronze = snapshots.read_snapshot(self.spark, self.bronze).count()
        if bronze != self.landed:
            problems.append(f"bronze has {bronze} rows, {self.landed} landed")
        fixed = sum(1 for k, c in self.corrections.items() if got.get(k) == c)
        return {
            "space": (dir_bytes(self.silver), compact_bytes(head)),
            "dups": (fixed, len(self.corrections)),
            "problems": problems,
        }
