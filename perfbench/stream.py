"""Cron-style micro-batch ingest of the events table.

Set-up splits the generated events by event time into day files: file 0
holds every calendar day before the last ``days`` ones, file ``d`` the
calendar day ``d`` of those, plus a seeded share of the previous calendar
day's events re-delivered. Ingesting day ``d`` lands its file in the
landing directory, then runs one ``availableNow`` trigger of each of two
streams over it, with persistent checkpoints:

- ``read_events_stream`` -> ``stream_dedup_keys`` on ``(event_id, ts)`` into
  a parquet sink: the watermark advances a day per landing, so the state
  store both catches re-deliveries and evicts old keys;
- ``read_events_stream`` -> ``foreachBatch(merge_batch)`` into a parquet
  target keyed on ``event_id``: each batch rewrites the whole target.

Each trigger is one op.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from etl_pipeline_project_spark.streaming.ops import (
    read_events_stream,
    sized_state_store,
    stream_dedup_keys,
)
from etl_pipeline_project_spark.streaming.upsert import merge_batch
from perfbench import checks, probes
from perfbench.gen import EVENT_DAYS, EVENTS_START

REDELIVER_PCT = 20  # share of a calendar day's events landed again the next day


class EventStream:
    def __init__(self, days: int):
        self.days = days

    def setup(self, ctx) -> None:
        """Write the day files; nothing here touches Spark."""
        self.stage = os.path.join(ctx.run_dir, "events_days")
        os.makedirs(self.stage)
        events = pq.read_table(os.path.join(ctx.data_dir, "events.parquet"))
        start = np.datetime64(EVENTS_START, "us").astype(np.int64)
        ts = pc.cast(events["ts"], "int64").to_numpy()
        cal = (ts - start) // 86_400_000_000
        first = EVENT_DAYS - self.days  # calendar day of file 1
        redeliver = np.random.default_rng(ctx.seed).random(len(ts)) * 100 < REDELIVER_PCT
        for d in range(self.days + 1):
            rows = cal < first if d == 0 else (cal == first + d - 1) | (
                (cal == first + d - 2) & redeliver)
            pq.write_table(events.filter(pa.array(rows)), self._day_file(d))
        base = os.path.join(ctx.run_dir, "stream")
        self.landing = os.path.join(base, "landing")
        os.makedirs(self.landing)
        self.target = os.path.join(base, "target")
        self.keys_out = os.path.join(base, "dedup_keys")
        self.ckpt = os.path.join(base, "ckpt")
        self.stream = None
        self.target_bytes = 0

    def _day_file(self, d: int) -> str:
        return os.path.join(self.stage, f"day{d}.parquet")

    def ingest_day(self, ctx, d: int) -> None:
        # the first file doubles as the schema source read_events_stream wants
        name = "events.parquet" if d == 0 else f"events.day{d}.parquet"
        shutil.copyfile(self._day_file(d), os.path.join(self.landing, name))
        spark = ctx.spark
        if self.stream is None:
            with ctx.span("streaming.ops.read_events_stream"):
                self.stream = read_events_stream(spark, self.landing)
        tracing = ctx.tracer.enabled and ctx.timed

        def merge(batch, epoch_id):  # noqa: ARG001
            with ctx.span("streaming.upsert.merge_batch"):
                merge_batch(batch, self.target, "event_id")

        def dedup():
            with ctx.span("streaming.trigger"), sized_state_store(spark):
                q = (stream_dedup_keys(self.stream, ["event_id", "ts"]).writeStream
                     .format("parquet").option("checkpointLocation", f"{self.ckpt}/dedup")
                     .trigger(availableNow=True).start(self.keys_out))
                q.awaitTermination()
            if tracing:
                with ctx.probe():
                    self._progress(ctx, q.recentProgress)

        def upsert():
            with ctx.span("streaming.trigger"):
                q = (self.stream.writeStream.foreachBatch(merge)
                     .option("checkpointLocation", f"{self.ckpt}/merge")
                     .trigger(availableNow=True).start())
                q.awaitTermination()
            if tracing:
                with ctx.probe():
                    self._progress(ctx, q.recentProgress)
                    before = self.target_bytes
                    self.target_bytes = probes.dir_size(self.target, ".parquet")[0]
                ctx.counters["upsert_bytes_rewritten"] += self.target_bytes
                ctx.counters["upsert_bytes_fresh"] += max(self.target_bytes - before, 0)

        ctx.op(f"stream_dedup:day{d}", dedup)
        ctx.op(f"stream_upsert:day{d}", upsert)

    @staticmethod
    def _progress(ctx, progress) -> None:
        c = ctx.counters
        for p in progress:
            dur = p.get("durationMs", {})
            c["query_planning_ms"] += dur.get("queryPlanning", 0)
            c["add_batch_ms"] += dur.get("addBatch", 0)
            c["wal_commit_ms"] += dur.get("walCommit", 0)
            c["latest_offset_ms"] += dur.get("latestOffset", 0)
            c["progress_batches"] += 1
            for st in p.get("stateOperators", []):
                c["state_rows_total"] = max(c["state_rows_total"], st.get("numRowsTotal", 0))
                c["state_rows_removed"] += st.get("numRowsRemoved", 0)
                c["state_memory_bytes"] = max(c["state_memory_bytes"], st.get("memoryUsedBytes", 0))
                c["state_commit_ms"] += st.get("commitTimeMs", 0)

    def check(self, ctx) -> None:
        """Target keys and emitted dedup keys both equal the distinct
        landed event ids."""
        con = checks.duck()
        landed = f"SELECT DISTINCT event_id FROM read_parquet('{self.landing}/*.parquet')"
        for label, path in (("stream_upsert", self.target), ("stream_dedup", self.keys_out)):
            checks.compare(ctx, label, con, lambda p=path: checks.parquet_sql(con, p, "event_id"), landed)
