"""The incremental half of ``etl_month``: every step lands the next
6-hour kline file (strictly increasing mtime) and runs two ``availableNow``
queries with ``maxFilesPerTrigger=1`` over the landing directory, each
resuming from its own checkpoint:

(a) ``streaming_ohlcv`` — 1-hour windows, 2-hour watermark, append to
    parquet (stateful: a state store and a write every micro-batch);
(b) a ``foreachBatch`` sink built by ``incremental_rollup_upsert``.

A closed loop, not an open-loop rate test: each query starts when the
previous one has stopped, and drains exactly the file landed for it.
"""

from __future__ import annotations

import json
import os

from common import dir_bytes, median, now, spark_canon
from gen import land_parquet_file

from btc_usdt_etl_pipeline_spark.operators.resample import (
    finalize_bars,
    resample_by_time,
)
from btc_usdt_etl_pipeline_spark.schema import KLINE_SCHEMA, canonicalize_klines
from btc_usdt_etl_pipeline_spark.streaming.ohlcv import (
    incremental_rollup_upsert,
    read_rollup_state,
    streaming_ohlcv,
)

FILE_S = 6 * 3600
PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
          "latestOffset", "getBatch")
_BAR_COLS = ["window_start", "open_time", "open", "high", "low", "close",
             "n_rows"]


def _progress(q) -> list[dict]:
    """Data-carrying micro-batches of a finished query, as dicts."""
    out = []
    for p in q.recentProgress:
        d = p if isinstance(p, dict) else json.loads(p.json)
        if d.get("numInputRows", 0) > 0:
            out.append(d)
    return out


def _records() -> dict:
    """Per-query ``(query id, data batches)`` per step, and upsert times."""
    return {"bars": [], "rollup": [], "upsert_s": []}


class Stream:
    """Landing directory, checkpoints and sinks of the two queries, fed
    one file of ``table`` (consecutive 1-s klines) per step."""

    def __init__(self, ctx, table):
        self.ctx = ctx
        self.table = table
        self.landing = ctx.path("stream-landing")
        self.out = ctx.path("stream-out")
        self.landed = 0
        self.reset_records()

    def reset_records(self) -> None:
        """Forget the progress of earlier (warm-up) passes."""
        self.rec = {True: _records(), False: _records()}

    def land(self) -> None:
        """Land the next file (benchmark work, outside the timed step)."""
        land_parquet_file(self.table, self.landed, FILE_S, self.landing)
        self.landed += 1

    def _source(self):
        return canonicalize_klines(
            self.ctx.spark.readStream.schema(KLINE_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.landing)
        )

    def run(self) -> None:
        """One incremental step: both queries, each an ``availableNow``
        run from its checkpoint.  Two timed operations."""
        ops, out = self.ctx.ops, self.out
        rec = self.rec[self.ctx.tracer.enabled]
        with ops.op("stream.bars", group=False):
            q = (
                streaming_ohlcv(self._source(), "1 hour", watermark="2 hours")
                .writeStream.trigger(availableNow=True)
                .option("checkpointLocation", os.path.join(out, "ck_bars"))
                .outputMode("append").format("parquet")
                .option("path", os.path.join(out, "bars"))
                .start()
            )
            q.awaitTermination()
            rec["bars"].append((q.id, _progress(q)))

        upsert = incremental_rollup_upsert(
            self.ctx.spark, os.path.join(out, "rollup"),
            time_col="event_time", value_col="close", interval="1 hour",
        )
        upsert_s = []

        def timed_upsert(df, batch_id):
            t = now()
            upsert(df, batch_id)
            upsert_s.append(now() - t)

        with ops.op("stream.rollup", group=False):
            q = (
                self._source().writeStream.trigger(availableNow=True)
                .option("checkpointLocation", os.path.join(out, "ck_rollup"))
                .foreachBatch(timed_upsert)
                .start()
            )
            q.awaitTermination()
            rec["rollup"].append((q.id, _progress(q)))
            rec["upsert_s"].extend(upsert_s)

    def trigger_ms(self, query: str) -> list[float]:
        """``triggerExecution`` of every data batch of the traced steps."""
        return [p["durationMs"]["triggerExecution"]
                for _, prog in self.rec[True][query] for p in prog]

    def check(self) -> None:
        """Closed bars of (a) and the final rollup state of (b) must equal
        a batch ``resample_by_time`` over every landed file."""
        spark, ops = self.ctx.spark, self.ctx.ops
        value = {k: "close" for k in ("open", "high", "low", "close", "count")}
        batch = canonicalize_klines(
            spark.read.schema(KLINE_SCHEMA).parquet(self.landing)
        ).transform(resample_by_time("1 hour", value_cols=value,
                                     sort_output=False)).select(*_BAR_COLS)
        bars = spark.read.parquet(os.path.join(self.out, "bars")).select(
            *_BAR_COLS)
        n_bars = bars.count()
        # The last windows stay open: the 2-hour watermark trails the
        # newest event, so at most 3 hourly windows are still unemitted.
        hours = self.landed * FILE_S // 3600
        ops.check(hours - 3 <= n_bars <= hours,
                  f"closed bars {n_bars} not in [{hours - 3}, {hours}]")
        want = batch.join(bars.select("window_start"), "window_start", "semi")
        got, want = spark_canon(bars), spark_canon(want)
        ops.check(got == want, f"closed bars {got} != batch {want}")
        state = finalize_bars(
            read_rollup_state(spark, os.path.join(self.out, "rollup")))
        roll = state.selectExpr(
            "bucket_start AS window_start", "open_ts AS open_time", "open",
            "high", "low", "close", "n_rows")
        got, want = spark_canon(roll), spark_canon(batch)
        ops.check(got == want, f"rollup state {got} != batch {want}")

    def layers(self, ev) -> None:
        """Per-layer streaming metrics from the traced steps."""
        L, rec = self.ctx.layers, self.rec[True]
        for query in ("bars", "rollup"):
            prog = [p for _, ps in rec[query] for p in ps]
            for ph in PHASES:
                L[f"stream.{query}.{ph}_ms"] = median(
                    p["durationMs"].get(ph, 0) for p in prog)
        prog = [p for _, ps in rec["bars"] for p in ps]
        state = [p["stateOperators"][0] for p in prog
                 if p.get("stateOperators")]
        L["stream.bars.state_rows"] = median(s["numRowsTotal"] for s in state)
        L["stream.bars.state_mem_bytes"] = median(
            s["memoryUsedBytes"] for s in state)
        L["stream.bars.state_commit_ms"] = median(
            s.get("commitTimeMs", 0) for s in state)
        L["stream.bars.rows_dropped_by_watermark"] = median(
            s.get("numRowsDroppedByWatermark", 0) for s in state)
        L["stream.bars.tasks_per_batch"] = median(
            ev.by_batch.get((qid, str(p["batchId"])), {"tasks": 0})["tasks"]
            for qid, ps in rec["bars"] for p in ps)
        L["stream.rollup.upsert_s"] = median(rec["upsert_s"])
        L["stream.rollup.state_bytes"] = dir_bytes(
            os.path.join(self.out, "rollup"))[0]
