"""Stateful streaming tests.

State TTL: the wall-clock EXPIRY behavior st19's oracle cannot pin
(deterministic hashes can't depend on sleeps) is pinned here instead —
a key whose state is not refreshed within ``ttl_ms`` restarts its
running totals from zero on its next batch, while a long-TTL (or
no-TTL) control keeps accumulating across the same restart.

State store reader: st17 reconciles the checkpoint's state rows with
the batch count, and the ``statestore`` format it reads them with is
real in this Spark build.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from kinesis_log_streamer_spark.plans import queries as Q
from kinesis_log_streamer_spark.streaming.pipeline import read_events_stream
from kinesis_log_streamer_spark.streaming.stateful import (
    running_totals_with_state,
)


def _drain(spark, ttl_ms, indir, ckpt, outp, rows, phase):
    spark.createDataFrame(
        [(k, phase, v) for k, v in rows], "key int, phase int, value double"
    ).coalesce(1).write.mode("append").parquet(indir)
    stream = (
        spark.readStream.schema("key int, phase int, value double")
        .format("parquet")
        .load(indir)
    )
    q = (
        running_totals_with_state(stream, ttl_ms)
        .writeStream.foreachBatch(
            lambda df, _id: df.write.mode("append").parquet(outp)
        )
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "drain timed out"


def _totals(spark, outp, phase):
    return {
        r.key: (r.running_n, r.running_sum)
        for r in spark.read.parquet(outp)
        .filter(F.col("phase") == phase)
        .collect()
    }


class TestStateTTL:
    def _run(self, spark, base, ttl_ms, sleep_s):
        indir, ckpt, outp = (
            os.path.join(base, d) for d in ("in", "ckpt", "out")
        )
        os.makedirs(outp)
        rows = [(1, 2.0), (1, 3.0), (2, 1.0)]
        _drain(spark, ttl_ms, indir, ckpt, outp, rows, phase=0)
        assert _totals(spark, outp, 0) == {1: (2, 5.0), 2: (1, 1.0)}
        time.sleep(sleep_s)
        _drain(spark, ttl_ms, indir, ckpt, outp, [(1, 10.0)], phase=1)
        return _totals(spark, outp, 1)

    def test_expired_state_restarts_totals(self, spark, tmp_path):
        # 1 s TTL, 2.5 s gap: key 1's state must read as absent.
        got = self._run(spark, str(tmp_path), 1000, 2.5)
        assert got[1] == (1, 10.0), f"expired state leaked: {got}"

    def test_fresh_state_accumulates(self, spark, tmp_path):
        # 1 h TTL and no TTL: the same restart keeps the prefix totals.
        for ttl_ms in (3_600_000, None):
            got = self._run(spark, str(tmp_path / str(ttl_ms)), ttl_ms, 0.0)
            assert got[1] == (3, 15.0), f"state lost across restart: {got}"


class TestSt17StatestoreReader:
    def test_state_reconciles_with_batch(self, spark, sf_dir):
        rows = Q.st17_statestore_reader(spark, sf_dir).collect()
        assert rows, "no event types"
        assert all(r.state_ok == 1 for r in rows), rows

    def test_statestore_format_is_real_here(self, spark, sf_dir, tmp_path):
        # st17/st18 read state rows back with
        # spark.read.format("statestore"); this pin fails loudly if a
        # Spark upgrade drops the format.
        ev = read_events_stream(spark, sf_dir)
        agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
        ckpt = str(tmp_path / "ckpt")
        q = (
            agg.writeStream.format("memory")
            .queryName("st17_pin")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        state = (
            spark.read.format("statestore")
            .load(ckpt)
            .select(
                F.col("key.event_type").alias("event_type"),
                F.col("value.count").alias("state_n"),
            )
            .collect()
        )
        assert state, "statestore reader returned no state rows"
        want = {
            r.event_type: r.n for r in spark.table("st17_pin").collect()
        }
        got = {r.event_type: r.state_n for r in state}
        assert got == want
